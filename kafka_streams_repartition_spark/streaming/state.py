"""Stateful migration processor — the reference's P1
(``streams/.../Streams.java:224-258``): for every replayed
``ProductStatsV1`` record, read the keyed V2 state, create-or-merge
(``ProductStatsV2.merge``, ``ProductStatsV2.java:48-59``), write back,
emit the merged value.

Spark-first: ``migrate_v1_stream`` is a JVM streaming aggregate keyed
by sku. orders/quantity merge as sums; the per-store maps and order-id
arrays are collected in state and merged by key / unioned on output,
all in Catalyst expressions, so no Python worker sits in the restore
loop.

At 100 TB the state is partitioned by sku across executors by the
implicit shuffle of ``groupBy``; RocksDB (session.py) handles
state > memory. The state's partitioning is fixed by its checkpoint, so
a restart under a different ``shuffle.partitions`` restores it as is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Input: exploded V1 snapshot records (one row per sku+store entry,
# topline repeated) — the shape a changelog replay naturally has.
V1_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("sku", T.StringType(), False),
        T.StructField("orders", T.LongType()),
        T.StructField("quantity", T.DoubleType()),
        T.StructField("store_entries_json", T.StringType()),  # {"store": qty}
        T.StructField("order_ids_json", T.StringType()),  # ["id", ...]
    ]
)

MERGED_SCHEMA = V1_RECORD_SCHEMA  # state and output share the shape

def migrate_v1_stream(replayed_v1: DataFrame) -> DataFrame:
    """Fold a (streaming) DataFrame of V1 stats records into keyed V2
    state; emits the merged aggregate per key per micro-batch.

    A declarative streaming aggregate: per sku, the state store keeps
    the running sums and the collected store maps / order-id arrays;
    each emission merges the maps by key (``map_zip_with``) and unions
    the ids — ``ProductStatsV2.merge`` in Catalyst expressions.  The
    collected lists grow by one entry per replayed record of a sku (one
    per V1 snapshot replayed), not per order."""
    stores_t = "map<string,double>"
    merged_stores = F.aggregate(
        F.collect_list(F.from_json("store_entries_json", stores_t)),
        F.create_map().cast(stores_t),
        lambda acc, m: F.map_zip_with(
            acc, m, lambda _, a, b: F.coalesce(a, F.lit(0.0)) + F.coalesce(b, F.lit(0.0))
        ),
    )
    order_ids = F.array_sort(F.array_distinct(F.flatten(
        F.collect_list(F.from_json("order_ids_json", "array<string>"))
    )))
    return replayed_v1.groupBy("sku").agg(
        F.sum("orders").alias("orders"),
        F.sum("quantity").alias("quantity"),
        F.to_json(F.map_from_entries(F.array_sort(F.map_entries(merged_stores))))
        .alias("store_entries_json"),
        F.to_json(order_ids).alias("order_ids_json"),
    )


def v1_typed_to_records(v1_typed: DataFrame) -> DataFrame:
    """Adapter: typed V1 stats (array<struct> per-store) → the flat
    JSON-carrying record shape the migration stream consumes."""
    return v1_typed.select(
        F.col("sku").cast("string").alias("sku"),
        F.col("orders").cast("long").alias("orders"),
        F.col("quantity").cast("double").alias("quantity"),
        F.to_json(
            F.map_from_entries(
                F.transform(
                    "quantity_by_store",
                    lambda s: F.struct(
                        s["store_id"].cast("string").alias("key"),
                        s["quantity"].cast("double").alias("value"),
                    ),
                )
            )
        ).alias("store_entries_json"),
        F.to_json(
            F.transform("order_ids", lambda x: x.cast("string"))
        ).alias("order_ids_json"),
    )
