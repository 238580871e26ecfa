"""State migration: the reference's restore tool + v2 merge seeder.

Reference flow (SURVEY §2.5 P1, §2.6 M1/M2): drain the v1 store's
changelog topic to a local RocksDB until lag==0 (``Restore.java:54-88``),
replay the snapshot into an 8-partition restore topic
(``Restore.java:92-114``), then the v2 app folds each replayed
``ProductStatsV1`` into its live ``ProductStatsV2`` store via
``ProductStatsV2.merge`` (``ProductStatsV2.java:48-59``: add orders and
quantity, fold the list-of-struct into the map, concatenate orderIds).

Spark-first: the changelog drain is a batch latest-per-key read
(``sources.ktable.latest_per_key``) — no lag loop needed, a batch read
is already "until current end offsets". The repartition 4→8 is a
non-event: partitioning is a shuffle decision, not a data layout the
job must migrate. The merge itself is a full-outer join + coalesced
sums + per-store re-aggregation — all declarative, so at 100 TB it is
one co-partitioned shuffle on sku.

The merge-correctness contract (tested, and oracle-checked through
``restore_merge``): merging V1 stats over prefix P with V2 stats over
suffix S equals V2 stats over P ∪ S.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Constant split point for the oracle-checked migration query
# (lineitem l_shipdate spans 1995-01..2001-11 in the driver testdata).
SPLIT_DATE = "1998-01-01"


def merge_v1_into_v2(v1: DataFrame, v2: DataFrame) -> DataFrame:
    """``ProductStatsV2.merge`` as a declarative plan.

    v1: product_stats_v1_typed output (array<struct> per-store)
    v2: product_stats_v2_typed output (map per-store)
    returns a v2-shaped DataFrame.
    """
    # The fold loop at ProductStatsV2.java:52-56 merges two per-sku
    # store maps — after the sku join, that is pure per-row map algebra
    # (``map_zip_with``), not a re-aggregation. The earlier
    # explode→union→groupBy(sku,store)→groupBy(sku) form spent three
    # extra key exchanges re-deriving maps both sides already had;
    # this shape's ONLY wide stage is the full-outer sku join, which
    # reuses the partitioning both input aggregations end on.
    v1_side = v1.select(
        "sku",
        F.col("orders").alias("v1_orders"),
        F.col("quantity").alias("v1_quantity"),
        F.col("order_ids").alias("v1_order_ids"),
        F.map_from_arrays(
            F.col("quantity_by_store.store_id").cast("array<string>"),
            F.col("quantity_by_store.quantity"),
        ).alias("v1_stores"),
    )
    v2_side = v2.select(
        "sku",
        F.col("orders").alias("v2_orders"),
        F.col("quantity").alias("v2_quantity"),
        F.col("order_ids").alias("v2_order_ids"),
        F.col("quantity_by_store").alias("v2_stores"),
    )
    # int-literal zeros keep the merged value type identical to the
    # inputs' (long stays long, double stays double) so the null-side
    # branches type-check against the zipped branch.
    zero = F.lit(0)
    merged_map = (
        F.when(F.col("v1_stores").isNull(), F.col("v2_stores"))
        .when(F.col("v2_stores").isNull(), F.col("v1_stores"))
        .otherwise(
            F.map_zip_with(
                "v1_stores",
                "v2_stores",
                lambda k, x, y: F.coalesce(x, zero) + F.coalesce(y, zero),
            )
        )
    )
    return v1_side.join(v2_side, "sku", "full_outer").select(
        "sku",
        (
            F.coalesce(F.col("v1_orders"), F.lit(0))
            + F.coalesce(F.col("v2_orders"), F.lit(0))
        ).alias("orders"),
        (
            F.coalesce(F.col("v1_quantity"), F.lit(0.0))
            + F.coalesce(F.col("v2_quantity"), F.lit(0.0))
        ).alias("quantity"),
        merged_map.alias("quantity_by_store"),
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.filter(
                        F.array(F.col("v1_order_ids"), F.col("v2_order_ids")),
                        lambda a: a.isNotNull(),
                    )
                )
            )
        ).alias("order_ids"),
    )


def restore_merge(t: dict[str, DataFrame]) -> DataFrame:
    """Oracle-checked migration query: V1 over shipdate < SPLIT_DATE
    merged into V2 over shipdate >= SPLIT_DATE; the oracle computes V2
    over the full range — equality IS merge correctness."""
    from .product_stats import (
        order_ids_to_string,
        product_stats_v1_typed,
        product_stats_v2_typed,
        stores_map_to_string,
    )

    li = t["lineitem"]
    v1 = product_stats_v1_typed(li.filter(F.col("l_shipdate") < F.lit(SPLIT_DATE)))
    v2 = product_stats_v2_typed(li.filter(F.col("l_shipdate") >= F.lit(SPLIT_DATE)))
    merged = merge_v1_into_v2(v1, v2)
    return merged.select(
        "sku",
        F.col("orders").cast("long").alias("orders"),
        F.round("quantity", 2).alias("quantity"),
        stores_map_to_string(F.col("quantity_by_store")).alias("quantity_by_store"),
        order_ids_to_string(F.col("order_ids")).alias("order_ids"),
    )


from .product_stats import _ORACLE as RESTORE_MERGE_ORACLE  # noqa: E402


def changelog_restore_job(
    raw_changelog: DataFrame, schema, n_output_partitions: int | None = None
) -> DataFrame:
    """M1 + M2 as ONE batch plan (``Restore.java:52-118``).

    M1 (changelog drain → RocksDB until lag==0) is a batch read deduped
    to latest-per-key — a bounded read needs no lag loop, and the local
    RocksDB staging store disappears entirely. M2 (snapshot replay into
    an 8-partition topic) is just the write of this frame; the
    partition-count change that motivates the whole reference tool is a
    ``repartition(n)``/shuffle setting here, not a data migration.
    """
    from ..sources.kafka import ktable_from_records

    snapshot = ktable_from_records(raw_changelog, schema)
    if n_output_partitions is not None:
        snapshot = snapshot.repartition(n_output_partitions, "key")
    return snapshot
