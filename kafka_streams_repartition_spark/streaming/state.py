"""Stateful migration processor — the reference's P1
(``streams/.../Streams.java:224-258``): for every replayed
``ProductStatsV1`` record, read the keyed V2 state, create-or-merge
(``ProductStatsV2.merge``, ``ProductStatsV2.java:48-59``), write back,
emit the merged value.

Spark-first: ``migrate_v1_stream`` is a JVM streaming aggregate keyed
by sku. orders/quantity merge as sums; the per-store maps and order-id
arrays are collected in state and merged by key / unioned on output,
all in Catalyst expressions, so no Python worker sits in the restore
loop. ``migrate_v1_stream_tws`` is the remaining imperative form of the
same fold (``transformWithStateInPandas`` over ``_merge_one``).

At 100 TB the state is partitioned by sku across executors by the
implicit shuffle of ``groupBy``; RocksDB (session.py) handles
state > memory. The state's partitioning is fixed by its checkpoint, so
a restart under a different ``shuffle.partitions`` restores it as is.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd

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

STATE_SCHEMA = T.StructType(
    [
        T.StructField("orders", T.LongType()),
        T.StructField("quantity", T.DoubleType()),
        T.StructField("store_entries_json", T.StringType()),
        T.StructField("order_ids_json", T.StringType()),
    ]
)


def _merge_one(
    state: tuple[int, float, str, str] | None,
    orders: int,
    quantity: float,
    store_entries: dict[str, float],
    order_ids: list[str],
) -> tuple[int, float, str, str]:
    """ProductStatsV2.merge semantics on plain Python values."""
    if state is None:
        base_orders, base_qty, base_stores, base_ids = 0, 0.0, {}, []
    else:
        base_orders, base_qty = state[0], state[1]
        base_stores = json.loads(state[2])
        base_ids = json.loads(state[3])
    for store, qty in store_entries.items():
        base_stores[store] = base_stores.get(store, 0) + qty
    merged_ids = sorted(set(base_ids) | set(order_ids))
    return (
        base_orders + orders,
        base_qty + quantity,
        json.dumps(dict(sorted(base_stores.items()))),
        json.dumps(merged_ids),
    )


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


def migrate_v1_stream_tws(replayed_v1: DataFrame) -> DataFrame:
    """The same P1 fold on Spark 4's ``transformWithStateInPandas`` —
    the successor API (typed per-key ValueState on the RocksDB
    provider, which session.py already configures). Kept as the
    imperative form beside the declarative ``migrate_v1_stream``; the
    runtime requires ``protobuf`` (the state-server wire
    format), so the equivalence test skips where that isn't installed.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class MergeProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("v2state", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            current = tuple(self._state.get()) if self._state.exists() else None
            for pdf in rows:
                for row in pdf.itertuples(index=False):
                    current = _merge_one(
                        current,
                        int(row.orders),
                        float(row.quantity),
                        json.loads(row.store_entries_json),
                        json.loads(row.order_ids_json),
                    )
            if current is not None:
                self._state.update(current)
                yield pd.DataFrame(
                    {
                        "sku": [key[0]],
                        "orders": [current[0]],
                        "quantity": [current[1]],
                        "store_entries_json": [current[2]],
                        "order_ids_json": [current[3]],
                    }
                )

        def close(self) -> None:
            pass

    return replayed_v1.groupBy("sku").transformWithStateInPandas(
        MergeProcessor(),
        outputStructType=MERGED_SCHEMA,
        outputMode="update",
        timeMode="none",
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
