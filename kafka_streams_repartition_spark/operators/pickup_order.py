"""The pickup-order query — the reference's main topology
(``streams/.../Streams.java:99-169``), Spark-first.

Reference dataflow:
  orders stream → selectKey(userId) → join users KTable (J1)
  → join stores GlobalKTable via FK extractor (J2)
  → flatMap one record per line item keyed by sku (R3)
  → join products KTable, set item price (J3)
  → groupBy(orderId).reduce(merge priced items back) (A1)
  → filter every item priced (R4) → sink

Spark-first translation: the selectKey/flatMap/groupBy repartition-topic
dance disappears — Catalyst plans one shuffle per key change and AQE
sizes it. The GlobalKTable (fully replicated, 1 partition,
``BuildSystem.java:38,79``) is exactly a broadcast-hash-join side. The
reduce-based re-assembly (A1, ``Streams.java:154-166``) is a re-nesting
aggregation: ``collect_list`` of priced items grouped by order id. The
all-items-priced filter (R4, ``Streams.java:167``) is the higher-order
function ``forall``.

Scale notes (100 TB): users/products joins are shuffle-hash joins on
uniformly distributed keys; stores is broadcast; the only wide state is
the per-order re-nest whose groups are tiny (1-3 items). In the batch
plan no operator holds unbounded state; run as a streaming aggregation
(``streaming.pipelines.stream_pickup_orders``) the re-nest keeps one
state row per order id forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_pickup_orders(
    orders: DataFrame,
    users: DataFrame,
    stores: DataFrame,
    products: DataFrame,
) -> DataFrame:
    """Reference-shaped pipeline over FIXTURES.md §A tables.

    orders:   PURCHASE_ORDER_SCHEMA (items[].price null)
    users:    USER_SCHEMA, stores: STORE_SCHEMA, products: PRODUCT_SCHEMA
    returns:  PICKUP_ORDER_SCHEMA — only fully-priced orders survive (R4).
    """
    # J1: stream ⋈ users on user_id (Streams.java:137-140).
    enriched = orders.join(
        users.select(
            "user_id", F.struct("user_id", "name", "email").alias("user")
        ),
        "user_id",
        "inner",
    )
    # J2: stream ⋈ stores via FK extractor — GlobalKTable ≡ broadcast
    # (Streams.java:141-144).
    enriched = enriched.join(
        F.broadcast(
            stores.select(
                "store_id",
                F.struct("store_id", "name", "city", "state", "postal_code").alias(
                    "store"
                ),
            )
        ),
        "store_id",
        "inner",
    )
    # R3 + J3: explode items, join product price on sku
    # (Streams.java:145-150); left join so unpriced items survive to R4.
    exploded = enriched.select(
        "timestamp", "order_id", "user_id", "store_id", "user", "store",
        F.posexplode("items").alias("pos", "item"),
    )
    priced = exploded.join(
        products.select(F.col("sku").alias("p_sku"), F.col("price").alias("p_price")),
        exploded["item.sku"] == F.col("p_sku"),
        "left",
    ).select(
        "timestamp", "order_id", "user_id", "store_id", "user", "store", "pos",
        F.struct(
            F.col("item.sku").alias("sku"),
            F.col("item.quantity").alias("quantity"),
            F.col("p_price").alias("quoted_price"),
            F.col("p_price").alias("price"),
        ).alias("item"),
    )
    # A1: re-nest one row per order (Streams.java:153-166). sort_array on
    # (pos, item) restores the original item order deterministically.
    renested = priced.groupBy("order_id").agg(
        F.first("timestamp").alias("timestamp"),
        F.first("user_id").alias("user_id"),
        F.first("store_id").alias("store_id"),
        F.first("user").alias("user"),
        F.first("store").alias("store"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "item"))), lambda s: s["item"]
        ).alias("items"),
    )
    # R4: keep only fully-priced orders (Streams.java:167).
    return renested.filter(
        F.forall("items", lambda i: i["price"].isNotNull())
    ).select(
        "timestamp", "order_id", "user_id", "store_id", "items", "user", "store"
    )


def pickup_order_summary(t: dict[str, DataFrame]) -> DataFrame:
    """Star-schema analog of the full topology (oracle-checked).

    orders≡purchase orders, customer≡users (J1 shuffle join),
    nation/region≡store geography (J2 broadcast joins), lineitem≡exploded
    items (R3 pre-materialized), part≡products (J3), groupBy
    orderkey≡re-nest (A1). Output is scalar-only so the DuckDB oracle
    hash-matches.
    """
    priced = (
        t["lineitem"]
        .select("l_orderkey", "l_quantity", "l_partkey")
        .join(
            t["part"].select("p_partkey", F.round("p_retailprice", 2).alias("price")),
            F.col("l_partkey") == F.col("p_partkey"),
            "inner",
        )
    )
    renested = priced.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("item_count"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        F.round(F.sum(F.col("price") * F.col("l_quantity")), 2).alias("total_price"),
    )
    return (
        t["orders"]
        .select("o_orderkey", "o_custkey", F.col("o_orderstatus").alias("status"))
        .join(
            t["customer"].select("c_custkey", F.col("c_name").alias("user_name"), "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "inner",
        )
        .join(
            F.broadcast(
                t["nation"].select("n_nationkey", F.col("n_name").alias("nation_name"), "n_regionkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "inner",
        )
        .join(
            F.broadcast(
                t["region"].select("r_regionkey", F.col("r_name").alias("region_name"))
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
            "inner",
        )
        .join(renested, F.col("l_orderkey") == F.col("o_orderkey"), "inner")
        .select(
            F.col("o_orderkey").alias("order_id"),
            "user_name",
            "nation_name",
            "region_name",
            "status",
            "item_count",
            "total_qty",
            "total_price",
        )
    )


PICKUP_ORDER_SUMMARY_ORACLE = """
WITH priced AS (
    SELECT l.l_orderkey, l.l_quantity, round(p.p_retailprice, 2) AS price
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
),
renested AS (
    SELECT l_orderkey,
           CAST(count(*) AS BIGINT) AS item_count,
           round(sum(l_quantity), 2) AS total_qty,
           round(sum(price * l_quantity), 2) AS total_price
    FROM priced
    GROUP BY l_orderkey
)
SELECT o.o_orderkey AS order_id,
       c.c_name AS user_name,
       n.n_name AS nation_name,
       r.r_name AS region_name,
       o.o_orderstatus AS status,
       ren.item_count,
       ren.total_qty,
       ren.total_price
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
JOIN renested ren ON ren.l_orderkey = o.o_orderkey
"""


def pickup_order_nested(t: dict[str, DataFrame]) -> DataFrame:
    """Nested-output variant: items re-assembled into a canonical string.

    Mirrors the real pickup-order payload (array<struct> items) while
    staying oracle-hashable: each item renders as
    ``line:sku:qty:price`` with printf formatting (identical in DuckDB),
    array sorted and pipe-joined.
    """
    items = (
        t["lineitem"]
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        .join(
            t["part"].select("p_partkey", F.round("p_retailprice", 2).alias("price")),
            F.col("l_partkey") == F.col("p_partkey"),
            "inner",
        )
        .select(
            "l_orderkey",
            F.format_string(
                "%d:%d:%.2f:%.2f",
                F.col("l_linenumber"),
                F.col("l_partkey"),
                F.col("l_quantity"),
                F.col("price"),
            ).alias("item_str"),
        )
    )
    nested = items.groupBy("l_orderkey").agg(
        F.array_join(F.array_sort(F.collect_list("item_str")), "|").alias("items"),
        F.count(F.lit(1)).alias("item_count"),
    )
    return (
        t["orders"]
        .select("o_orderkey", "o_custkey")
        .join(
            t["customer"].select("c_custkey", F.col("c_name").alias("user_name")),
            F.col("o_custkey") == F.col("c_custkey"),
            "inner",
        )
        .join(nested, F.col("l_orderkey") == F.col("o_orderkey"), "inner")
        .select(
            F.col("o_orderkey").alias("order_id"),
            "user_name",
            "item_count",
            "items",
        )
    )


PICKUP_ORDER_NESTED_ORACLE = """
WITH items AS (
    SELECT l.l_orderkey,
           printf('%d:%d:%.2f:%.2f',
                  l.l_linenumber, l.l_partkey, l.l_quantity,
                  round(p.p_retailprice, 2)) AS item_str
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
),
nested AS (
    SELECT l_orderkey,
           list_aggregate(list_sort(list(item_str)), 'string_agg', '|') AS items,
           CAST(count(*) AS BIGINT) AS item_count
    FROM items
    GROUP BY l_orderkey
)
SELECT o.o_orderkey AS order_id,
       c.c_name AS user_name,
       n.item_count,
       n.items
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nested n ON n.l_orderkey = o.o_orderkey
"""
