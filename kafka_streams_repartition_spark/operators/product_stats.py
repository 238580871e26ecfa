"""Cumulative per-product purchase statistics — the reference's A2
aggregation (``streams/.../Streams.java:175-218``), in both output shapes:

- **V1** (``ProductStatsV1.java:31-35``): ``quantity_by_store`` is an
  ``array<struct<store_id, quantity>>``.
- **V2** (``ProductStatsV2.java:16-20``): the deliberate schema
  evolution — quantity widens to long, per-store becomes a
  ``map<string, long>``, and a 0-quantity record is skipped entirely
  (``ProductStatsV1.java:50-53`` documents the guard; V2 keeps it).

Star-schema analogy (FIXTURES.md §B): sku≡l_partkey, store≡l_suppkey,
order≡l_orderkey; the input is already one record per line item, which
is exactly what the reference's flatMap (R3) produces before A2.

Scale notes: both aggregations are two-stage — a partial per
(sku, store) rollup first, so the wide shuffle carries pre-combined
rows, then a per-sku final agg. ``orderIds`` is the reference's
deliberately unbounded list (kept "to show successful restoration");
we keep it for parity but it is the one column you would TTL/truncate
at 100 TB (see README).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _src(lineitem: DataFrame) -> DataFrame:
    """The input records, 0-quantity ones skipped (the reference's guard)."""
    return lineitem.select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_quantity"
    ).filter(F.col("l_quantity") > 0)


def _order_ids(lineitem: DataFrame) -> DataFrame:
    """The reference's unbounded orderIds list as its OWN aggregation
    path: distinct (sku, order) pairs — map-side pre-deduped — then one
    list-collect per sku, joined back on sku.

    Deliberately NOT piggybacked on the per-store rollup: carrying
    ``collect_set`` through the (sku, store) shuffle ships growing sets
    through two exchanges and flatten/dedups them per row (measured
    2.4x the whole query at sf0.1, and strictly worse at 100 TB where
    the set column dwarfs the scalar aggregates). Two cheap scans beat
    one set-dragging shuffle.
    """
    return (
        _src(lineitem)
        .select("l_partkey", "l_orderkey")
        .distinct()
        .groupBy("l_partkey")
        .agg(F.array_sort(F.collect_list("l_orderkey")).alias("order_ids"))
    )


def _store_entries(store_id: Column) -> Column:
    """Sorted ``array<struct<store_id, quantity>>`` of a sku's per-store
    rollup rows."""
    return F.array_sort(
        F.collect_list(
            F.struct(store_id.alias("store_id"), F.col("qty").alias("quantity"))
        )
    )


def _typed(lineitem: DataFrame, quantity_by_store: Column) -> DataFrame:
    """Per-sku stats with ``quantity_by_store`` as given: a partial
    aggregate per (sku, store) — map-side combinable — then the per-sku
    final aggregate, joined to :func:`_order_ids`."""
    stores = (
        _src(lineitem)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("qty"))
        .groupBy("l_partkey")
        .agg(
            F.sum("n").alias("orders"),
            F.sum("qty").alias("quantity"),
            quantity_by_store.alias("quantity_by_store"),
        )
    )
    return (
        stores.join(_order_ids(lineitem), "l_partkey")
        .withColumnRenamed("l_partkey", "sku")
        .select("sku", "orders", "quantity", "quantity_by_store", "order_ids")
    )


def product_stats_v1_typed(lineitem: DataFrame) -> DataFrame:
    """Reference-shaped V1 stats: array<struct> per-store quantities."""
    return _typed(lineitem, _store_entries(F.col("l_suppkey")))


def product_stats_v2_typed(lineitem: DataFrame) -> DataFrame:
    """Reference-shaped V2 stats: map<string,long>-style per-store."""
    return _typed(
        lineitem,
        F.map_from_entries(_store_entries(F.col("l_suppkey").cast("string"))),
    )


# --- canonicalization (oracle-hashable projections) ----------------------


def stores_array_to_string(quantity_by_store: Column) -> Column:
    """array<struct<store_id,quantity>> → sorted 'store:qty|...' string."""
    return F.array_join(
        F.array_sort(
            F.transform(
                quantity_by_store,
                lambda s: F.format_string("%d:%.2f", s["store_id"], s["quantity"]),
            )
        ),
        "|",
    )


def stores_map_to_string(quantity_by_store: Column) -> Column:
    """map<string,qty> → sorted 'store:qty|...' string."""
    return F.array_join(
        F.array_sort(
            F.transform(
                F.map_entries(quantity_by_store),
                lambda e: F.format_string("%s:%.2f", e["key"], e["value"]),
            )
        ),
        "|",
    )


def order_ids_to_string(order_ids: Column) -> Column:
    return F.array_join(F.array_sort(order_ids).cast("array<string>"), ",")


def product_stats_v1(t: dict[str, DataFrame]) -> DataFrame:
    typed = product_stats_v1_typed(t["lineitem"])
    return typed.select(
        "sku",
        F.col("orders").cast("long").alias("orders"),
        F.round("quantity", 2).alias("quantity"),
        stores_array_to_string(F.col("quantity_by_store")).alias("quantity_by_store"),
        order_ids_to_string(F.col("order_ids")).alias("order_ids"),
    )


def product_stats_v2(t: dict[str, DataFrame]) -> DataFrame:
    typed = product_stats_v2_typed(t["lineitem"])
    return typed.select(
        "sku",
        F.col("orders").cast("long").alias("orders"),
        F.round("quantity", 2).alias("quantity"),
        stores_map_to_string(F.col("quantity_by_store")).alias("quantity_by_store"),
        order_ids_to_string(F.col("order_ids")).alias("order_ids"),
    )


# one answer for three queries: v1 and v2 differ only in how the store
# state is encoded, and ``restore.restore_merge`` (v1 merged into v2 over
# a shipdate split) must equal v2 over the whole lineitem table
_ORACLE = """
WITH src AS (
    SELECT l_partkey, l_suppkey, l_orderkey, l_quantity
    FROM lineitem
    WHERE l_quantity > 0
),
per_store AS (
    SELECT l_partkey, l_suppkey, count(*) AS n, sum(l_quantity) AS qty
    FROM src
    GROUP BY 1, 2
),
stores AS (
    SELECT l_partkey,
           CAST(sum(n) AS BIGINT) AS orders,
           round(sum(qty), 2) AS quantity,
           string_agg(printf('%s:%.2f', CAST(l_suppkey AS VARCHAR), qty),
                      '|' ORDER BY printf('%s:%.2f', CAST(l_suppkey AS VARCHAR), qty))
               AS quantity_by_store
    FROM per_store
    GROUP BY 1
),
oids AS (
    SELECT l_partkey,
           string_agg(CAST(l_orderkey AS VARCHAR), ',' ORDER BY l_orderkey)
               AS order_ids
    FROM (SELECT DISTINCT l_partkey, l_orderkey FROM src)
    GROUP BY 1
)
SELECT s.l_partkey AS sku, s.orders, s.quantity, s.quantity_by_store, o.order_ids
FROM stores s
JOIN oids o ON s.l_partkey = o.l_partkey
"""

PRODUCT_STATS_V1_ORACLE = PRODUCT_STATS_V2_ORACLE = _ORACLE
