"""Streaming equivalence (SURVEY §5.3): the same data through the
streaming path must end in the same final state as the batch path."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from kafka_streams_repartition_spark.operators.product_stats import (
    product_stats_v1_typed,
    product_stats_v2_typed,
)
from kafka_streams_repartition_spark.sources.fixtures import (
    generate_reference_tables,
    orders_as_lineitems,
)
from kafka_streams_repartition_spark.sources.kafka import (
    decode_json_records,
    encode_json_records,
    ktable_from_records,
)
from kafka_streams_repartition_spark.streaming import (
    migrate_v1_stream,
    run_to_memory_available_now,
    stream_latest_per_key,
    stream_product_stats,
)
from kafka_streams_repartition_spark.streaming.state import v1_typed_to_records


@pytest.fixture(scope="module")
def lineitems(spark, tmp_path_factory):
    ref = generate_reference_tables(spark, n_orders=300, seed=7)
    li = orders_as_lineitems(ref["purchase_orders"], ref["products"])
    path = str(tmp_path_factory.mktemp("li_stream"))
    # several files → several micro-batches with maxFilesPerTrigger
    li.repartition(4).write.mode("overwrite").parquet(path)
    return li, path


def test_stream_product_stats_equals_batch(spark, lineitems):
    li, path = lineitems
    stream = (
        spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    final = run_to_memory_available_now(
        spark, stream_product_stats(stream), mode="complete"
    )
    got = {
        r["l_partkey"]: (r["orders"], r["quantity"], sorted(r["order_ids"]))
        for r in final.collect()
    }
    batch = li.filter(F.col("l_quantity") > 0).groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("orders"),
        F.sum("l_quantity").alias("quantity"),
        F.collect_set("l_orderkey").alias("order_ids"),
    )
    want = {
        r["l_partkey"]: (r["orders"], r["quantity"], sorted(r["order_ids"]))
        for r in batch.collect()
    }
    assert got == want


def test_stream_latest_per_key_equals_batch(spark, lineitems):
    li, path = lineitems
    stream = (
        spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    latest = stream_latest_per_key(
        stream, "l_partkey", "l_orderkey", ["l_quantity"]
    )
    final = run_to_memory_available_now(spark, latest, mode="complete")
    # Compare WHOLE rows, not just the order column: a per-column max_by
    # implementation can mix values from different tied input rows.
    got = {r["l_partkey"]: (r["l_orderkey"], r["l_quantity"]) for r in final.collect()}
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("l_orderkey").desc(), F.col("l_quantity").desc()
    )
    want = {
        r["l_partkey"]: (r["l_orderkey"], r["l_quantity"])
        for r in li.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .collect()
    }
    assert got == want


def test_migrate_v1_stream_merges_state(spark, tmp_path):
    """P1: two replayed V1 snapshots for overlapping skus fold into one
    merged V2 state per key."""
    ref = generate_reference_tables(spark, n_orders=120, seed=11)
    li = orders_as_lineitems(ref["purchase_orders"], ref["products"])
    half_a = li.filter(F.col("l_orderkey") < "AA-5")
    half_b = li.filter(~(F.col("l_orderkey") < "AA-5"))
    rec_a = v1_typed_to_records(product_stats_v1_typed(half_a))
    rec_b = v1_typed_to_records(product_stats_v1_typed(half_b))
    path = str(tmp_path / "v1records")
    rec_a.coalesce(1).write.mode("overwrite").parquet(path)
    rec_b.coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(rec_a.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    merged = migrate_v1_stream(stream)
    final = run_to_memory_available_now(spark, merged, mode="update")
    # update mode memory sink appends every emission; last per sku wins
    latest = (
        final.withColumn("rn", F.monotonically_increasing_id())
        .orderBy("rn")
        .collect()
    )
    state = {}
    for r in latest:
        state[r["sku"]] = (
            r["orders"],
            r["quantity"],
            json.loads(r["store_entries_json"]),
            json.loads(r["order_ids_json"]),
        )
    want_df = product_stats_v1_typed(li)
    want = {
        r["sku"]: (
            r["orders"],
            float(r["quantity"]),
            {str(e["store_id"]): e["quantity"] for e in r["quantity_by_store"]},
            sorted(str(x) for x in r["order_ids"]),
        )
        for r in want_df.collect()
    }
    assert state == want


def test_migrate_v1_stream_restarts_across_partition_counts(spark, tmp_path):
    """The reference's 4→8 story on P1's own state: drain one V1 replay
    at 8 shuffle partitions, restart the same checkpoint at 4 with a
    second replay appended.  The keyed state comes back from the
    checkpoint (its partitioning is the checkpoint's, not the
    session's), so the final per-sku state is the V1 stats over both
    halves, one state row per sku."""
    ref = generate_reference_tables(spark, n_orders=120, seed=13)
    li = orders_as_lineitems(ref["purchase_orders"], ref["products"])
    halves = [
        li.filter(F.col("l_orderkey") < "AA-5"),
        li.filter(~(F.col("l_orderkey") < "AA-5")),
    ]
    src, ckpt = str(tmp_path / "v1records"), str(tmp_path / "ckpt")
    emitted = []

    def collect(batch_df, batch_id):
        emitted.extend(batch_df.collect())

    def drain(half, partitions):
        spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
        rec = v1_typed_to_records(product_stats_v1_typed(half))
        rec.coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(rec.schema).parquet(src)
        q = (
            migrate_v1_stream(stream).writeStream.foreachBatch(collect)
            .outputMode("update").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return q

    try:
        drain(halves[0], 8)
        q = drain(halves[1], 4)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")

    state = {
        r["sku"]: (
            r["orders"],
            r["quantity"],
            json.loads(r["store_entries_json"]),
            json.loads(r["order_ids_json"]),
        )
        for r in emitted  # batch order: last emission per sku wins
    }
    want = {
        r["sku"]: (
            r["orders"],
            float(r["quantity"]),
            {str(e["store_id"]): e["quantity"] for e in r["quantity_by_store"]},
            sorted(str(x) for x in r["order_ids"]),
        )
        for r in product_stats_v1_typed(li).collect()
    }
    assert state == want
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == len(want)


def test_stream_product_stats_restart_keeps_checkpoint_partitions(
    spark, tmp_path
):
    """The reference's 4→8 catch-up on A2's own state: drain
    ``stream_product_stats`` at 4 shuffle partitions, then restart the
    same checkpoint at 8 with a second file appended.  The final state is
    the V2 stats over both files, and the aggregate's state stays in the
    checkpoint's 4 partitions: a restart does not re-partition keyed
    state, only the ``migrate_v1_stream`` restore reaches 8."""
    ref = generate_reference_tables(spark, n_orders=120, seed=17)
    li = orders_as_lineitems(ref["purchase_orders"], ref["products"])
    halves = [
        li.filter(F.col("l_orderkey") < "AA-5"),
        li.filter(~(F.col("l_orderkey") < "AA-5")),
    ]
    src, ckpt = str(tmp_path / "lineitems"), str(tmp_path / "ckpt")
    final = []

    def keep_last(batch_df, batch_id):
        final[:] = batch_df.collect()  # complete mode: the whole table

    def drain(half, partitions):
        spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
        half.coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(li.schema).parquet(src)
        q = (
            stream_product_stats(stream).writeStream.foreachBatch(keep_last)
            .outputMode("complete").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    try:
        drain(halves[0], 4)
        drain(halves[1], 8)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")

    got = {
        r["l_partkey"]: (r["orders"], float(r["quantity"]), sorted(r["order_ids"]))
        for r in final
    }
    want = {
        r["sku"]: (r["orders"], float(r["quantity"]), sorted(r["order_ids"]))
        for r in product_stats_v2_typed(li).collect()
    }
    assert got == want
    meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert [(r["operatorName"], r["numPartitions"]) for r in meta] == [
        ("stateStoreSave", 4)
    ]


def test_migrate_v1_stream_plans_jvm_state_store(spark, tmp_path):
    """P1 is a JVM streaming aggregate: its plan saves keyed state in
    the state store and carries no pandas/Python node, so a regression
    to a Python fold fails here rather than only in the benchmark."""
    from kafka_streams_repartition_spark.plans import explain_str
    from kafka_streams_repartition_spark.streaming.state import (
        MERGED_SCHEMA,
        V1_RECORD_SCHEMA,
    )

    stream = spark.readStream.schema(V1_RECORD_SCHEMA).parquet(str(tmp_path))
    merged = migrate_v1_stream(stream)
    plan = explain_str(merged, mode="extended")
    assert "StateStoreSave" in plan, plan
    for node in (
        "FlatMapGroupsInPandasWithState",
        "TransformWithStateInPandas",
        "ArrowEvalPython",
        "BatchEvalPython",
        "PythonUDF",
    ):
        assert node not in plan, plan
    assert [(f.name, f.dataType) for f in merged.schema] == [
        (f.name, f.dataType) for f in MERGED_SCHEMA
    ]


def test_dim_refresh_lands_on_restart(spark, tmp_path):
    """KTable-refresh semantics of the stream-static join: a dimension
    update is invisible to the running plan (file listing pinned) and
    takes effect on the next restart — the checkpoint carries stream
    progress across, so only NEW orders see the new price."""
    from kafka_streams_repartition_spark.streaming import (
        run_foreach_batch_available_now,
    )

    dim_path = str(tmp_path / "dim")
    src = str(tmp_path / "orders")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame([("s1", 10.0)], "sku string, price double").write.mode(
        "overwrite"
    ).parquet(dim_path)
    spark.createDataFrame([("o1", "s1")], "order_id string, sku string").coalesce(
        1
    ).write.mode("overwrite").parquet(src)

    def run():
        orders = spark.readStream.schema("order_id string, sku string").parquet(src)
        dim = spark.read.parquet(dim_path)  # bound at (re)start
        return run_foreach_batch_available_now(
            spark, orders.join(dim, "sku"), ckpt, mode="append"
        )

    first = run()
    # dim update + a new order; the old order is checkpointed as done
    spark.createDataFrame([("s1", 99.0)], "sku string, price double").write.mode(
        "overwrite"
    ).parquet(dim_path)
    spark.createDataFrame([("o2", "s1")], "order_id string, sku string").coalesce(
        1
    ).write.mode("append").parquet(src)
    second = run()

    got = {r["order_id"]: r["price"] for r in first + second}
    assert got == {"o1": 10.0, "o2": 99.0}


def test_stream_pickup_orders_live_dims_batch_parity(spark, tmp_path):
    """(a) With dims untouched, the live-dims foreachBatch topology
    drained over two micro-batches equals the one-shot batch
    enrichment — same orders, same nested items, same prices."""
    from kafka_streams_repartition_spark.operators.pickup_order import (
        enrich_pickup_orders,
    )
    from kafka_streams_repartition_spark.streaming import (
        stream_pickup_orders_live_dims,
    )

    ref = generate_reference_tables(spark, n_orders=60, seed=31)
    paths = {}
    for dim in ("users", "stores", "products"):
        paths[dim] = str(tmp_path / dim)
        ref[dim].write.mode("overwrite").parquet(paths[dim])
    src = str(tmp_path / "orders")
    po = ref["purchase_orders"]
    half = F.crc32(F.col("order_id")) % 2
    po.filter(half == 0).coalesce(1).write.mode("append").parquet(src)
    po.filter(half == 1).coalesce(1).write.mode("append").parquet(src)

    emitted = stream_pickup_orders_live_dims(
        spark,
        spark.readStream.schema(po.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        paths["users"],
        paths["stores"],
        paths["products"],
        str(tmp_path / "ckpt_parity"),
    )

    def key(rows):
        return {
            r["order_id"]: [
                (i["sku"], i["quantity"], i["price"]) for i in r["items"]
            ]
            for r in rows
        }

    want = key(
        enrich_pickup_orders(
            po, ref["users"], ref["stores"], ref["products"]
        ).collect()
    )
    assert key(emitted) == want and want


def test_stream_pickup_orders_live_dims_update_lands_next_batch(
    spark, tmp_path
):
    """(b) The reference-semantics counterpart of
    ``test_dim_refresh_lands_on_restart``: a product-price upsert made
    BETWEEN micro-batches (while the query runs, no restart) must be
    visible to the next batch's orders — KTable state advancing
    mid-stream (Streams.java:107-115)."""
    from kafka_streams_repartition_spark.operators.pickup_order import (
        enrich_pickup_orders,
    )
    from kafka_streams_repartition_spark.streaming import (
        stream_pickup_orders_live_dims,
    )

    ref = generate_reference_tables(spark, n_orders=60, seed=31)
    paths = {}
    for dim in ("users", "stores", "products"):
        paths[dim] = str(tmp_path / dim)
        ref[dim].write.mode("overwrite").parquet(paths[dim])
    # the upsert, built from the IN-MEMORY fixture frame so writing it
    # over the dim path mid-query is not a read-from-overwritten-source
    products_v2 = ref["products"].withColumn(
        "price", (F.col("price") * 2).cast(ref["products"].schema["price"].dataType)
    )
    src = str(tmp_path / "orders")
    po = ref["purchase_orders"]
    half = F.crc32(F.col("order_id")) % 2
    po.filter(half == 0).coalesce(1).write.mode("append").parquet(src)
    po.filter(half == 1).coalesce(1).write.mode("append").parquet(src)

    per_batch: dict[int, list] = {}

    def on_batch(batch_id, rows):
        per_batch[batch_id] = rows
        if batch_id == 0:  # upsert lands while the query is running
            products_v2.write.mode("overwrite").parquet(paths["products"])

    stream_pickup_orders_live_dims(
        spark,
        spark.readStream.schema(po.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        paths["users"],
        paths["stores"],
        paths["products"],
        str(tmp_path / "ckpt_live"),
        on_batch=on_batch,
    )
    assert set(per_batch) == {0, 1}
    assert per_batch[0] and per_batch[1]

    def key(rows):
        return {
            r["order_id"]: [
                (i["sku"], i["quantity"], i["price"]) for i in r["items"]
            ]
            for r in rows
        }

    # batch 0 saw v1 prices, batch 1 saw v2 — each equal to the batch
    # enrichment against THAT dim snapshot, restricted to its orders
    want_v1 = key(
        enrich_pickup_orders(
            po, ref["users"], ref["stores"], ref["products"]
        ).collect()
    )
    want_v2 = key(
        enrich_pickup_orders(
            po, ref["users"], ref["stores"], products_v2
        ).collect()
    )
    got0, got1 = key(per_batch[0]), key(per_batch[1])
    assert got0 == {k: want_v1[k] for k in got0}
    assert got1 == {k: want_v2[k] for k in got1}
    # and the update genuinely changed what batch 1 emitted
    assert any(want_v1[k] != want_v2[k] for k in got1)


def test_windowed_watermark_drops_late_data(spark, tmp_path):
    """Event-time windows with a watermark: rows arriving after their
    window passed the persisted watermark are dropped, on-time rows
    aggregate exactly as in batch."""
    from kafka_streams_repartition_spark.streaming import (
        run_foreach_batch_available_now,
        stream_windowed_counts,
    )

    from datetime import datetime as dt

    schema = "ts timestamp, event_type string, value double"
    ts = lambda h, m: dt(2026, 1, 1, h, m)
    on_time = spark.createDataFrame(
        [
            (ts(10, 5), "click", 1.0),
            (ts(10, 15), "click", 2.0),
            (ts(11, 10), "view", 4.0),
            (ts(12, 30), "click", 8.0),  # advances watermark to 12:00
        ],
        schema,
    )
    late = spark.createDataFrame(
        [
            (ts(10, 20), "click", 100.0),  # 10:00 window < watermark
            (ts(12, 5), "view", 16.0),  # 12:00 window — accepted
        ],
        schema,
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    on_time.coalesce(1).write.mode("overwrite").parquet(src)

    stream = lambda: stream_windowed_counts(
        spark.readStream.schema(on_time.schema).parquet(src),
        watermark="30 minutes",
        window="1 hour",
    )
    first = run_foreach_batch_available_now(spark, stream(), ckpt, mode="update")
    late.coalesce(1).write.mode("append").parquet(src)
    second = run_foreach_batch_available_now(spark, stream(), ckpt, mode="update")

    final: dict = {}
    for r in first + second:
        final[(r["win_start_ms"], r["event_type"])] = (r["n"], r["total"])
    h = lambda hh: int(
        spark.sql(f"SELECT unix_millis(timestamp'2026-01-01 {hh}:00:00')").first()[0]
    )
    assert final == {
        (h("10"), "click"): (2, 3.0),  # late 100.0 dropped
        (h("11"), "view"): (1, 4.0),
        (h("12"), "click"): (1, 8.0),
        (h("12"), "view"): (1, 16.0),  # within watermark — merged in
    }


def test_stream_windowed_counts_equals_batch_on_events_table(spark, sf_dir, tmp_path):
    """The driver's events table through the watermarked streaming
    window == the oracle-checked batch tumbling aggregation, when every
    event is on time (union of per-batch update emissions, last wins)."""
    from kafka_streams_repartition_spark.sources.tables import load_table
    from kafka_streams_repartition_spark.streaming import (
        run_foreach_batch_available_now,
        stream_windowed_counts,
    )

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    path = str(tmp_path / "events_src")
    ev.repartition(4).write.mode("overwrite").parquet(path)
    # generous watermark: files stream in arbitrary order, nothing is
    # late, so streaming final state must equal the batch aggregate
    stream = stream_windowed_counts(
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(path),
        watermark="30 days",
        window="1 hour",
    )
    emitted = run_foreach_batch_available_now(
        spark, stream, str(tmp_path / "ckpt"), mode="update"
    )
    final: dict = {}
    for r in emitted:  # update mode re-emits; last emission per key wins
        final[(r["win_start_ms"], r["event_type"])] = (r["n"], r["total"])
    batch = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
    want = {
        (int(r["ms"]), r["event_type"]): (r["n"], r["total"])
        for r in batch.select(
            F.unix_millis("w.start").alias("ms"), "event_type", "n", "total"
        ).collect()
    }
    assert len(final) == len(want) > 0
    for k, (n, total) in want.items():
        got_n, got_total = final[k]
        assert got_n == n, k
        assert abs(got_total - total) < 0.02, k  # sum order differs stream vs batch


def test_stream_hopping_windows(spark, tmp_path):
    """Hopping variant: one event lands in window/slide overlapping
    windows (1h window, 30m slide → 2 windows per event)."""
    from datetime import datetime as dt

    from kafka_streams_repartition_spark.streaming import (
        run_foreach_batch_available_now,
        stream_windowed_counts,
    )

    schema = "ts timestamp, event_type string, value double"
    a = spark.createDataFrame(
        [(dt(2026, 1, 1, 10, 40), "click", 1.0)], schema
    )
    src = str(tmp_path / "src")
    a.coalesce(1).write.mode("overwrite").parquet(src)
    emitted = run_foreach_batch_available_now(
        spark,
        stream_windowed_counts(
            spark.readStream.schema(a.schema).parquet(src),
            watermark="1 hour",
            window="1 hour",
            slide="30 minutes",
        ),
        str(tmp_path / "ckpt"),
        mode="update",
    )
    ms = lambda h, m: int(
        spark.sql(
            f"SELECT unix_millis(timestamp'2026-01-01 {h:02d}:{m:02d}:00')"
        ).first()[0]
    )
    got = {(r["win_start_ms"], r["event_type"]): (r["n"], r["total"]) for r in emitted}
    assert got == {
        (ms(10, 0), "click"): (1, 1.0),
        (ms(10, 30), "click"): (1, 1.0),
    }


def test_stream_session_windows_merge_and_close(spark, tmp_path):
    """Session windows: events within the gap merge into one session
    (across micro-batches), a quiet period splits sessions, and closed
    sessions drop state past the watermark."""
    from datetime import datetime as dt

    from kafka_streams_repartition_spark.streaming import (
        run_foreach_batch_available_now,
        stream_session_counts,
    )

    schema = "ts timestamp, event_type string, value double"
    ts = lambda h, m: dt(2026, 1, 1, h, m)
    a = spark.createDataFrame(
        [
            (ts(10, 0), "click", 1.0),
            (ts(10, 10), "click", 2.0),  # merges: within 30 min gap
            (ts(13, 0), "click", 4.0),  # new session after quiet period
        ],
        schema,
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    a.coalesce(1).write.mode("overwrite").parquet(src)
    stream = lambda: stream_session_counts(
        spark.readStream.schema(a.schema).parquet(src),
        gap="30 minutes",
        watermark="30 minutes",
    )
    # session windows emit on CLOSE (append mode): a session is final
    # once the watermark passes its end
    first = run_foreach_batch_available_now(spark, stream(), ckpt, mode="append")
    b = spark.createDataFrame(
        [(ts(13, 10), "click", 8.0)], schema  # extends the open session
    )
    b.coalesce(1).write.mode("append").parquet(src)
    second = run_foreach_batch_available_now(spark, stream(), ckpt, mode="append")
    c = spark.createDataFrame(
        [(ts(15, 0), "click", 16.0)], schema  # watermark → 14:30 closes 13:00 session
    )
    c.coalesce(1).write.mode("append").parquet(src)
    third = run_foreach_batch_available_now(spark, stream(), ckpt, mode="append")

    final: dict = {}
    for r in first + second + third:
        final[r["session_start_ms"]] = (r["session_end_ms"], r["n"], r["total"])
    ms = lambda h, m: int(
        spark.sql(
            f"SELECT unix_millis(timestamp'2026-01-01 {h:02d}:{m:02d}:00')"
        ).first()[0]
    )
    assert final == {
        ms(10, 0): (ms(10, 40), 2, 3.0),  # merged, end = last + gap
        ms(13, 0): (ms(13, 40), 2, 12.0),  # extended across batches, then closed
    }  # the 15:00 session is still open — correctly NOT emitted


def test_stream_dedup_exact_drops_duplicates(spark, tmp_path):
    from kafka_streams_repartition_spark.streaming import (
        run_foreach_batch_available_now,
        stream_dedup_exact,
    )

    from datetime import datetime as dt

    schema = "ts timestamp, event_id string, value double"
    a = spark.createDataFrame(
        [
            (dt(2026, 1, 1, 10, 0), "e1", 1.0),
            (dt(2026, 1, 1, 10, 1), "e2", 2.0),
        ],
        schema,
    )
    b = spark.createDataFrame(
        [
            (dt(2026, 1, 1, 10, 2), "e1", 99.0),  # dup across micro-batches
            (dt(2026, 1, 1, 10, 3), "e3", 3.0),
        ],
        schema,
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    a.coalesce(1).write.mode("overwrite").parquet(src)
    stream = lambda: stream_dedup_exact(
        spark.readStream.schema(a.schema).parquet(src), ["event_id"]
    )
    first = run_foreach_batch_available_now(spark, stream(), ckpt, mode="append")
    b.coalesce(1).write.mode("append").parquet(src)
    second = run_foreach_batch_available_now(spark, stream(), ckpt, mode="append")
    got = sorted((r["event_id"], r["value"]) for r in first + second)
    assert got == [("e1", 1.0), ("e2", 2.0), ("e3", 3.0)]


def test_purchase_order_generator_deterministic_and_bounded(spark):
    """G1 (Producer.java:33-76): field domains hold and the same tick
    sequence yields the same orders (no Python in the loop)."""
    from kafka_streams_repartition_spark.sources.generator import (
        MAX_ITEMS,
        MAX_QTY,
        N_STORES,
        N_USERS,
        derive_purchase_orders,
    )

    ticks = spark.range(200).select(
        F.current_timestamp().alias("timestamp"), F.col("id").alias("value")
    )
    a = derive_purchase_orders(ticks)
    rows = a.collect()
    assert len(rows) == 200
    for r in rows:
        assert 0 <= int(r["user_id"]) < N_USERS
        assert 0 <= int(r["store_id"]) < N_STORES
        assert 1 <= len(r["items"]) <= MAX_ITEMS
        for it in r["items"]:
            assert len(it["sku"]) == 10 and it["sku"].isdigit()
            assert 1 <= it["quantity"] <= MAX_QTY
            assert it["price"] is None
    again = {
        r["order_id"]: (r["user_id"], r["store_id"], [i["sku"] for i in r["items"]])
        for r in derive_purchase_orders(ticks).collect()
    }
    first = {
        r["order_id"]: (r["user_id"], r["store_id"], [i["sku"] for i in r["items"]])
        for r in rows
    }
    assert again == first


def test_kafka_decode_permissive_and_ktable(spark):
    """Log-and-continue decode + compacted-topic materialization."""
    schema = "user_id string, name string"
    from pyspark.sql import types as T

    struct = T.StructType(
        [T.StructField("user_id", T.StringType()), T.StructField("name", T.StringType())]
    )
    raw = spark.createDataFrame(
        [
            ("u1", '{"user_id":"u1","name":"old"}', "t", 0, 0, None),
            ("u1", '{"user_id":"u1","name":"new"}', "t", 0, 5, None),
            ("u2", "not-json-at-all {", "t", 1, 1, None),
            ("u3", '{"user_id":"u3","name":"x"}', "t", 1, 2, None),
            ("u3", None, "t", 1, 3, None),  # tombstone deletes u3
        ],
        "key string, value string, topic string, partition int, offset long, timestamp timestamp",
    )
    decoded = decode_json_records(raw, struct)
    corrupt = decoded.filter(F.col("_corrupt").isNotNull()).collect()
    assert len(corrupt) == 1 and corrupt[0]["key"] == "u2"

    table = ktable_from_records(raw, struct)
    got = {r["key"]: r["name"] for r in table.collect()}
    # u1 latest wins; u2 survives as corrupt-latest (name null); u3 tombstoned
    assert got["u1"] == "new" and "u3" not in got

    # round trip
    rt = decode_json_records(
        encode_json_records(
            spark.createDataFrame([("u9", "Nina")], schema), "user_id"
        ).withColumns(
            {
                "topic": F.lit("t"),
                "partition": F.lit(0),
                "offset": F.lit(0).cast("long"),
                "timestamp": F.lit(None).cast("timestamp"),
            }
        ),
        struct,
    ).collect()
    assert rt[0]["name"] == "Nina" and rt[0]["_corrupt"] is None


def test_stream_hll_registers_equal_batch(spark, tmp_path):
    """Streaming HLL registers across micro-batches == batch registers
    over the same rows: the associative max that merges daily sketches
    merges micro-batches identically, with bounded (≤16-row) state."""
    from kafka_streams_repartition_spark.operators.sketches import _hll_parts, _rho
    from kafka_streams_repartition_spark.streaming import (
        run_to_memory_available_now,
        stream_hll_registers,
    )

    schema = "user_id bigint"
    a = spark.createDataFrame([(i,) for i in range(40)], schema)
    b = spark.createDataFrame([(i,) for i in range(20, 90)], schema)
    src = str(tmp_path / "src")
    a.coalesce(1).write.mode("overwrite").parquet(src)
    b.coalesce(1).write.mode("append").parquet(src)

    stream = stream_hll_registers(spark.readStream.schema(schema).parquet(src))
    got = {
        (r["bucket"], r["m_j"])
        for r in run_to_memory_available_now(spark, stream).collect()
    }
    batch = (
        _hll_parts(a.unionByName(b))
        .groupBy("bucket")
        .agg(F.max(_rho()).alias("m_j"))
    )
    want = {(r["bucket"], r["m_j"]) for r in batch.collect()}
    assert got == want and 0 < len(want) <= 16


def test_stream_interval_join_attribution_window(spark, tmp_path):
    """Stream-stream interval join: clicks attribute to impressions of
    the same user within 1 hour; outside-window and wrong-user clicks
    don't join. Inner join emits in append mode."""
    from kafka_streams_repartition_spark.streaming import (
        run_foreach_batch_available_now,
        stream_interval_join,
    )

    from datetime import datetime as dt

    ts = lambda h, m: dt(2026, 1, 1, h, m)
    imps = spark.createDataFrame(
        [
            (ts(10, 0), 1, "ad-a"),
            (ts(10, 0), 2, "ad-b"),
            (ts(12, 0), 1, "ad-c"),
        ],
        "imp_ts timestamp, user_id bigint, ad_id string",
    )
    clicks = spark.createDataFrame(
        [
            (ts(10, 30), 1, 5.0),  # joins ad-a (within 1h)
            (ts(11, 30), 1, 7.0),  # joins nothing (ad-a window closed)
            (ts(12, 10), 1, 9.0),  # joins ad-c
            (ts(10, 10), 3, 1.0),  # no matching user
        ],
        "click_ts timestamp, user_id bigint, click_value double",
    )
    imp_src, click_src = str(tmp_path / "imps"), str(tmp_path / "clicks")
    imps.coalesce(1).write.parquet(imp_src)
    clicks.coalesce(1).write.parquet(click_src)

    joined = stream_interval_join(
        spark.readStream.schema(imps.schema).parquet(imp_src),
        spark.readStream.schema(clicks.schema).parquet(click_src),
        key="user_id",
        left_ts="imp_ts",
        right_ts="click_ts",
        within="1 hour",
    )
    rows = run_foreach_batch_available_now(
        spark, joined, str(tmp_path / "ckpt"), mode="append"
    )
    got = sorted((r["ad_id"], r["click_value"]) for r in rows)
    assert got == [("ad-a", 5.0), ("ad-c", 9.0)]


def test_stream_interval_join_equals_batch_on_events(spark, sf_dir, tmp_path):
    """Driver events table, view→click attribution per user within 30
    minutes: the streaming interval join over the drained table equals
    the batch join with the identical condition (on-time data — the
    equivalence contract every streaming form in this repo meets)."""
    from kafka_streams_repartition_spark.sources.tables import load_table
    from kafka_streams_repartition_spark.streaming import (
        run_foreach_batch_available_now,
        stream_interval_join,
    )

    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("ts").alias("view_ts"), "user_id", F.col("event_id").alias("view_id")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("ts").alias("click_ts"), "user_id", F.col("event_id").alias("click_id")
    )
    v_src, c_src = str(tmp_path / "views"), str(tmp_path / "clicks")
    views.write.parquet(v_src)
    clicks.write.parquet(c_src)

    streamed = stream_interval_join(
        spark.readStream.schema(views.schema).parquet(v_src),
        spark.readStream.schema(clicks.schema).parquet(c_src),
        key="user_id",
        left_ts="view_ts",
        right_ts="click_ts",
        within="30 minutes",
        watermark="0 seconds",
    )
    rows = run_foreach_batch_available_now(
        spark, streamed, str(tmp_path / "ckpt"), mode="append"
    )
    got = sorted((r["view_id"], r["click_id"]) for r in rows)

    batch = views.join(
        clicks,
        (views["user_id"] == clicks["user_id"])
        & (clicks["click_ts"] >= views["view_ts"])
        & (clicks["click_ts"] <= views["view_ts"] + F.expr("INTERVAL 30 minutes")),
    )
    want = sorted((r["view_id"], r["click_id"]) for r in batch.collect())
    assert got == want and len(want) > 0


def test_stream_cms_registers_equal_batch(spark, tmp_path):
    """Streaming CMS registers across micro-batches == batch registers
    over the same rows: counts partial-combine per batch and sum
    associatively, with bounded (≤128-row) state."""
    from kafka_streams_repartition_spark.operators.sketches import (
        CMS_D,
        CMS_W,
        _md5_mod,
    )
    from kafka_streams_repartition_spark.streaming import (
        run_to_memory_available_now,
        stream_cms_registers,
    )

    schema = "user_id bigint"
    a = spark.createDataFrame([(i % 7,) for i in range(40)], schema)
    b = spark.createDataFrame([(i % 11,) for i in range(70)], schema)
    src = str(tmp_path / "src")
    a.coalesce(1).write.mode("overwrite").parquet(src)
    b.coalesce(1).write.mode("append").parquet(src)

    stream = stream_cms_registers(spark.readStream.schema(schema).parquet(src))
    got = {
        (r["d"], r["bucket"], r["c"])
        for r in run_to_memory_available_now(spark, stream).collect()
    }
    buckets = F.array(
        *[_md5_mod(F.col("user_id"), str(d), CMS_W) for d in range(CMS_D)]
    )
    batch = (
        a.unionByName(b)
        .select(F.posexplode(buckets).alias("d", "bucket"))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    want = {(r["d"], r["bucket"], r["c"]) for r in batch.collect()}
    assert got == want and 0 < len(want) <= CMS_D * CMS_W


def test_file_sink_exactly_once_across_restart(spark, tmp_path):
    """The parquet file sink's manifest gives exactly-once output
    across query restarts: a restart with new source data appends only
    the new rows; a restart with nothing new appends nothing. (This is
    the delivery guarantee the reference approximates with Kafka
    transactions — documented in README §Design.)"""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "k bigint, v string"
    b1 = spark.createDataFrame([(i, f"a{i}") for i in range(10)], schema)
    b1.coalesce(1).write.mode("overwrite").parquet(src)

    def drain():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert spark.read.parquet(out).count() == 10

    b2 = spark.createDataFrame([(i, f"b{i}") for i in range(10, 15)], schema)
    b2.coalesce(1).write.mode("append").parquet(src)
    drain()
    got = spark.read.parquet(out)
    assert got.count() == 15  # batch 1 not re-emitted
    assert got.select("k").distinct().count() == 15

    drain()  # restart with no new data: nothing appended
    assert spark.read.parquet(out).count() == 15


def test_stream_event_transitions_equals_batch(spark, tmp_path):
    """The streaming transition counter (keyed last-event state) summed
    across micro-batches must equal the batch Markov matrix, with the
    user streams split mid-stream across two batches."""
    from kafka_streams_repartition_spark.operators import windows as win
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import (
        run_foreach_batch_available_now,
        stream_event_transitions,
    )

    t = load_tables(spark, "/root/testdata/sf0.001")
    ev = t["events"].select("user_id", "ts", "event_id", "event_type")
    ms = ev.select(F.unix_millis("ts").alias("ms"))
    cutoff = ms.approxQuantile("ms", [0.5], 0.0)[0]
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    # TIME-ordered split: everything before the median instant in batch
    # 1, the rest in batch 2 — so each user's stream is cut mid-sequence
    # but never reordered across batches.
    ev.filter(F.unix_millis("ts") < cutoff).coalesce(1).write.mode("append").parquet(src)

    stream = lambda: stream_event_transitions(
        spark.readStream.schema(ev.schema).parquet(src)
    )
    first = run_foreach_batch_available_now(spark, stream(), ckpt, mode="update")
    ev.filter(F.unix_millis("ts") >= cutoff).coalesce(1).write.mode("append").parquet(src)
    second = run_foreach_batch_available_now(spark, stream(), ckpt, mode="update")

    from collections import Counter

    got = Counter()
    for r in first + second:
        got[(r["from_type"], r["to_type"])] += r["n"]
    want = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in win.event_transitions(t).collect()
    }
    assert dict(got) == want


def test_stream_first_touch_attribution_equals_batch(spark, tmp_path):
    """The streaming attributor (keyed last-click state) must produce
    exactly the batch attribution rows, with every user's stream cut
    mid-sequence across two micro-batches — clicks in batch 1 must
    attribute purchases in batch 2 via state."""
    from kafka_streams_repartition_spark.operators import windows as win
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import (
        run_foreach_batch_available_now,
        stream_first_touch_attribution,
    )

    t = load_tables(spark, "/root/testdata/sf0.001")
    ev = t["events"].select("user_id", "ts", "event_id", "event_type")
    ms = ev.select(F.unix_millis("ts").alias("ms"))
    cutoff = ms.approxQuantile("ms", [0.5], 0.0)[0]
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    ev.filter(F.unix_millis("ts") < cutoff).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = lambda: stream_first_touch_attribution(  # noqa: E731
        spark.readStream.schema(ev.schema).parquet(src)
    )
    first = run_foreach_batch_available_now(spark, stream(), ckpt, mode="update")
    ev.filter(F.unix_millis("ts") >= cutoff).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    second = run_foreach_batch_available_now(spark, stream(), ckpt, mode="update")

    got = {
        (r["purchase_event_id"], r["user_id"], r["click_event_id"], r["gap_ms"])
        for r in first + second
    }
    want = {
        (r["purchase_event_id"], r["user_id"], r["click_event_id"], r["gap_ms"])
        for r in win.first_touch_attribution(t).collect()
    }
    assert got == want and len(got) == len(first + second)
    # cross-batch state actually exercised: some attribution must span
    # the cut (purchase in batch 2, click in batch 1)
    batch2_purchases = {r["purchase_event_id"] for r in second}
    batch1_ids = {
        r["event_id"]
        for r in ev.filter(F.unix_millis("ts") < cutoff).collect()
    }
    spanning = {
        r["click_event_id"]
        for r in second
        if r["click_event_id"] in batch1_ids
        and r["purchase_event_id"] in batch2_purchases
    }
    assert spanning, "split produced no cross-batch attribution to test"


def test_stream_first_touch_attribution_out_of_order(spark, tmp_path):
    """Cross-batch DISORDER must not corrupt attribution: a click
    arriving one batch late never regresses the stored most-recent
    click, and a purchase older than the stored click is dropped
    instead of attributed to a future click with a negative gap."""
    from kafka_streams_repartition_spark.streaming import (
        run_foreach_batch_available_now,
        stream_first_touch_attribution,
    )

    def rows(*specs):
        return spark.createDataFrame(
            [
                (uid, F.lit(None), eid, etype, ms)
                for uid, eid, etype, ms in specs
            ],
            "user_id long, _x string, event_id long, event_type string, ms long",
        ).select(
            "user_id",
            F.timestamp_millis(F.col("ms")).alias("ts"),
            "event_id",
            "event_type",
        )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    # batch 1 (arrives first, but holds the LATER events):
    #   user 1: click C2 @5000        user 2: click C3 @4000
    rows((1, 102, "click", 5000), (2, 103, "click", 4000)).coalesce(
        1
    ).write.mode("append").parquet(src)
    schema = "user_id long, ts timestamp, event_id long, event_type string"
    stream = lambda: stream_first_touch_attribution(  # noqa: E731
        spark.readStream.schema(schema).parquet(src)
    )
    first = run_foreach_batch_available_now(spark, stream(), ckpt, mode="update")
    # batch 2 (arrives second, holds OLDER events + the purchase):
    #   user 1: stale click C1 @1000 (must NOT overwrite C2),
    #           purchase P1 @6000 (must attribute to C2, gap 1000)
    #   user 2: purchase P2 @2000 — OLDER than stored click C3:
    #           must be dropped, never a negative gap
    rows(
        (1, 101, "click", 1000),
        (1, 110, "purchase", 6000),
        (2, 111, "purchase", 2000),
    ).coalesce(1).write.mode("append").parquet(src)
    second = run_foreach_batch_available_now(spark, stream(), ckpt, mode="update")

    got = {
        (r["purchase_event_id"], r["user_id"], r["click_event_id"], r["gap_ms"])
        for r in first + second
    }
    assert got == {(110, 1, 102, 1000)}
    assert all(g >= 0 for (_, _, _, g) in got)


def test_stream_ewma_equals_batch(spark, tmp_path):
    """The streaming EWMA recurrence (keyed running S/W state) must end
    at the batch closed-form values, with every user's stream cut
    mid-sequence across two time-ordered micro-batches."""
    from kafka_streams_repartition_spark.operators import windows as win
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import (
        run_foreach_batch_available_now,
        stream_ewma_user_value,
    )

    t = load_tables(spark, "/root/testdata/sf0.001")
    ev = t["events"].select("user_id", "ts", "event_id", "value")
    cutoff = ev.select(F.unix_millis("ts").alias("ms")).approxQuantile(
        "ms", [0.5], 0.0
    )[0]
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    ev.filter(F.unix_millis("ts") < cutoff).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = lambda: stream_ewma_user_value(  # noqa: E731
        spark.readStream.schema(ev.schema).parquet(src)
    )
    first = run_foreach_batch_available_now(spark, stream(), ckpt, mode="update")
    ev.filter(F.unix_millis("ts") >= cutoff).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    second = run_foreach_batch_available_now(spark, stream(), ckpt, mode="update")

    final: dict[int, tuple[float, int]] = {}
    for r in first + second:  # update mode: last emission per user wins
        final[r["user_id"]] = (r["ewma_value"], r["n_events"])
    # batch result (top-50 users) must agree with the streaming state
    for r in win.ewma_user_value(t).collect():
        assert final[r["user_id"]] == (r["ewma_value"], r["n_events"])
    # the cut actually spanned state: some user must appear in both runs
    assert {r["user_id"] for r in first} & {r["user_id"] for r in second}


def test_stream_ewma_tie_order_matches_batch(spark, tmp_path):
    """Regression: a user with two DIFFERENT values at the SAME
    timestamp.  The batch rank (ts DESC, event_id ASC) gives the
    weight-1 slot to the LOWER event_id; the streaming fold must
    consume rows in the exact reverse order (ms ASC, event_id DESC)
    so the same event lands that slot.  The two candidate orders give
    different ewma values here, so a wrong tiebreak fails loudly."""
    from kafka_streams_repartition_spark.operators import windows as win
    from kafka_streams_repartition_spark.streaming import (
        run_foreach_batch_available_now,
        stream_ewma_user_value,
    )

    ev = spark.createDataFrame(
        # user 7: event 1 and event 2 both at ms=1000, values 10 vs 90.
        # Batch: rn=1 → event_id 1 (value 10, weight 1), rn=2 → event 2
        # (value 90, weight 0.5): ewma = (10 + 45) / 1.5 = 36.6667.
        # The wrong order gives (90 + 5) / 1.5 = 63.3333.
        [(7, 1000, 1, 10.0), (7, 1000, 2, 90.0), (8, 500, 3, 4.0)],
        "user_id long, ms long, event_id long, value double",
    ).select(
        "user_id",
        F.timestamp_millis(F.col("ms")).alias("ts"),
        "event_id",
        "value",
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    ev.coalesce(1).write.mode("append").parquet(src)
    out = run_foreach_batch_available_now(
        spark,
        stream_ewma_user_value(spark.readStream.schema(ev.schema).parquet(src)),
        ckpt,
        mode="update",
    )
    got = {r["user_id"]: (r["ewma_value"], r["n_events"]) for r in out}
    want = {
        r["user_id"]: (r["ewma_value"], r["n_events"])
        for r in win.ewma_user_value({"events": ev}).collect()
    }
    assert got == want
    assert got[7] == (36.6667, 2)


def test_stream_cusum_equals_batch(spark, tmp_path):
    """The streaming CUSUM (per-type day-register state) must end at
    the batch changepoint rows after draining both micro-batches."""
    from kafka_streams_repartition_spark.operators import windows as win
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import (
        run_foreach_batch_available_now,
        stream_cusum_changepoint,
    )

    t = load_tables(spark, "/root/testdata/sf0.001")
    ev = t["events"].select("event_type", "ts", "value")
    cutoff = ev.select(F.unix_millis("ts").alias("ms")).approxQuantile(
        "ms", [0.5], 0.0
    )[0]
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    ev.filter(F.unix_millis("ts") < cutoff).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = lambda: stream_cusum_changepoint(  # noqa: E731
        spark.readStream.schema(ev.schema).parquet(src)
    )
    first = run_foreach_batch_available_now(spark, stream(), ckpt, mode="update")
    ev.filter(F.unix_millis("ts") >= cutoff).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    second = run_foreach_batch_available_now(spark, stream(), ckpt, mode="update")

    final = {}
    for r in first + second:
        final[r["event_type"]] = (r["peak_day"], r["peak_cusum"])
    want = {
        r["event_type"]: (r["peak_day"], r["peak_cusum"])
        for r in win.cusum_changepoint(t).collect()
    }
    assert final == want
    # both batches contributed registers for at least one type
    assert {r["event_type"] for r in first} & {r["event_type"] for r in second}


def test_stream_table_profile_registers_equal_batch(spark, tmp_path):
    """Streaming per-column profile registers across micro-batches ==
    the batch register frame over the same rows (shared canonical
    encoding; associative max), with ≤ columns×16 state rows."""
    from kafka_streams_repartition_spark.operators.analytics import (
        _profile_approx_regs,
    )
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import (
        run_to_memory_available_now,
        stream_table_profile,
    )

    t = load_tables(spark, "/root/testdata/sf0.001")
    li = t["lineitem"]
    cols = li.columns
    src = str(tmp_path / "src")
    li.filter(F.col("l_orderkey") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    li.filter(F.col("l_orderkey") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = stream_table_profile(
        spark.readStream.schema(li.schema).parquet(src).select(cols)
    )
    got = {
        (r["column_name"], r["bucket"]): r["m_j"]
        for r in run_to_memory_available_now(spark, stream).collect()
    }
    want = {
        (r["column_name"], r["bucket"]): r["m_j"]
        for r in _profile_approx_regs(t).collect()
    }
    assert got == want
    assert 0 < len(got) <= 6 * 16


def test_maintain_snapshot_equals_batch_merge(spark, tmp_path):
    """The continuously-maintained snapshot after draining a two-batch
    changelog must equal the one-shot batch merge of the full changelog
    (apply_changelog's incremental identity), with the version pointer
    advanced, prior versions retained, and a REPLAYED batch skipped."""
    from kafka_streams_repartition_spark.operators.relational import (
        CDC_SINCE,
        apply_changelog,
        cdc_apply,
    )
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import (
        maintain_snapshot,
        prune_versions,
        read_snapshot,
        snapshot_version,
    )

    t = load_tables(spark, "/root/testdata/sf0.001")
    delta_all = (
        t["orders"]
        .filter(F.col("o_orderdate") >= CDC_SINCE)
        .select(
            F.col("o_custkey").alias("cust_key"),
            F.col("o_orderkey").alias("seq"),
            F.when(F.col("o_orderstatus") == "F", F.lit("delete"))
            .otherwise(F.lit("upsert"))
            .alias("op"),
            F.round("o_totalprice", 2).alias("value"),
        )
    )
    cut = delta_all.approxQuantile("seq", [0.5], 0.0)[0]
    src = str(tmp_path / "delta")
    root = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    # seed the snapshot store with the customer base via a synthetic
    # batch of upserts (seq below every real one)
    base = t["customer"].select(
        F.col("c_custkey").alias("cust_key"),
        F.lit(-1).cast("long").alias("seq"),
        F.lit("upsert").alias("op"),
        F.round("c_acctbal", 2).alias("value"),
    )
    base.coalesce(1).write.mode("append").parquet(src)
    schema = "cust_key long, seq long, op string, value double"
    run = lambda: maintain_snapshot(  # noqa: E731
        spark,
        spark.readStream.schema(schema).parquet(src),
        root,
        ckpt,
        key="cust_key",
    )
    run()
    delta_all.filter(F.col("seq") <= cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    delta_all.filter(F.col("seq") > cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()

    got = {
        (r["cust_key"], r["value"])
        for r in read_snapshot(spark, root).collect()
    }
    want = {
        (r["cust_key"], r["value"]) for r in cdc_apply(t).collect()
    }
    assert got == want
    v = snapshot_version(root)
    assert v is not None and v >= 2  # three batches applied
    # replay skip: calling fold again for an old batch id is a no-op —
    # simulate by re-running the drained stream (no new files)
    run()
    assert snapshot_version(root) == v
    # prune keeps the committed version readable
    prune_versions(root, keep=1)
    assert {
        (r["cust_key"], r["value"])
        for r in read_snapshot(spark, root).collect()
    } == want


def test_maintain_snapshot_rejects_foreign_checkpoint(spark, tmp_path):
    """A snapshot survives but its checkpoint is lost and recreated:
    batch ids restart at 0, every fold would satisfy the replay-skip
    guard, and the snapshot would silently freeze.  The recorded run
    identity must instead fail LOUDLY on the first fold."""
    from pyspark.errors import StreamingQueryException

    from kafka_streams_repartition_spark.streaming import (
        maintain_snapshot,
        read_snapshot,
        snapshot_version,
    )

    src = str(tmp_path / "delta")
    root = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    schema = "key long, seq long, op string, value double"
    spark.createDataFrame(
        [(1, 1, "upsert", 10.0), (2, 2, "upsert", 20.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run = lambda cp: maintain_snapshot(  # noqa: E731
        spark, spark.readStream.schema(schema).parquet(src), root, cp
    )
    run(ckpt)
    v = snapshot_version(root)
    assert v is not None

    # same checkpoint, replayed drain: fine (identity matches, no-op)
    run(ckpt)
    assert snapshot_version(root) == v

    # checkpoint lost → recreated: the guard must raise, not skip
    spark.createDataFrame([(1, 3, "upsert", 99.0)], schema).coalesce(
        1
    ).write.mode("append").parquet(src)
    with pytest.raises((RuntimeError, StreamingQueryException)) as exc:
        run(str(tmp_path / "ckpt2"))
    assert "live and die as a pair" in str(exc.value)
    # and the snapshot was left untouched, not silently frozen-as-ok
    assert snapshot_version(root) == v
    assert {
        (r["key"], r["value"]) for r in read_snapshot(spark, root).collect()
    } == {(1, 10.0), (2, 20.0)}


def test_fold_committed_commits_replays_and_guards_lineage(spark, tmp_path):
    """The one commit loop every persisted streaming face runs
    (``snapshot._fold_committed``): each micro-batch's step tables land
    under ``batch=<id>/`` and ``_CURRENT`` names the last id; a re-drain
    on the same checkpoint runs the step for the new input only; a
    fresh checkpoint on the same root fails before its step runs,
    naming the query that built the root."""
    import os

    from pyspark.errors import StreamingQueryException

    from kafka_streams_repartition_spark.streaming.snapshot import (
        _checkpoint_query_id,
        _fold_committed,
        snapshot_version,
    )

    src = str(tmp_path / "src")
    root = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long"
    calls = []

    def add(ids):
        spark.createDataFrame([(i,) for i in ids], schema).coalesce(
            1
        ).write.mode("append").parquet(src)

    def step(batch_df, batch_id):
        calls.append(batch_id)
        return {"rows": batch_df}

    def drain(cp):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        _fold_committed(stream, root, cp, "test index", step)

    def ids(batch_id):
        path = os.path.join(root, f"batch={batch_id}", "rows")
        return {r["id"] for r in spark.read.parquet(path).collect()}

    add([1, 2])
    add([3])
    drain(ckpt)
    assert calls == [0, 1]
    assert sorted(d for d in os.listdir(root) if d.startswith("batch=")) == [
        "batch=0",
        "batch=1",
    ]
    assert snapshot_version(root) == 1
    assert ids(0) | ids(1) == {1, 2, 3}

    add([4])
    drain(ckpt)
    assert calls == [0, 1, 2]
    assert snapshot_version(root) == 2
    assert ids(2) == {4}

    stored = _checkpoint_query_id(ckpt)
    assert stored is not None
    with pytest.raises((RuntimeError, StreamingQueryException)) as exc:
        drain(str(tmp_path / "ckpt2"))
    assert stored in str(exc.value)
    assert "live and die as a pair" in str(exc.value)
    assert calls == [0, 1, 2]
    assert snapshot_version(root) == 2


def test_bench_load_flag_thresholds():
    """The bench artifact's idle/loaded annotation: ~1.5 per 8 cores."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench",
        os.path.join(os.path.dirname(__file__), "..", "bench.py"),
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    assert bench.load_flag(0.5, 8) == "idle"
    assert bench.load_flag(1.49, 8) == "idle"
    assert bench.load_flag(1.51, 8) == "loaded"
    assert bench.load_flag(5.9, 32) == "idle"  # 1.5/8 scaled to 32 cores
    assert bench.load_flag(6.1, 32) == "loaded"


def test_stream_embedding_index_equals_batch_lsh(spark, tmp_path):
    """The incrementally-maintained embedding index drained over a
    mid-stream cut must emit, across all batches, EXACTLY the one-shot
    dedup_embedding_lsh pair set (same pairs, same rounded cosines,
    each pair once) — same-batch pairs from the batch self-join,
    cross-batch pairs from the batch-vs-index join."""
    from kafka_streams_repartition_spark.operators import dedup as dd
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import (
        stream_embedding_index,
    )

    t = load_tables(spark, "/root/testdata/sf0.001")
    emb = t["embeddings"].select("vec_id", "embedding")
    src = str(tmp_path / "src")
    # mid-corpus cut: two files → two micro-batches
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    per_batch: dict[int, int] = {}
    emitted = stream_embedding_index(
        spark,
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        str(tmp_path / "index"),
        str(tmp_path / "ckpt"),
        on_batch=lambda bid, rows: per_batch.__setitem__(bid, len(rows)),
    )
    got = [(r["doc_a"], r["doc_b"], r["cosine"]) for r in emitted]
    assert len(got) == len(set(got))  # each pair exactly once
    want = {
        (r["doc_a"], r["doc_b"], r["cosine"])
        for r in dd.dedup_embedding_lsh(t).collect()
    }
    assert set(got) == want and want
    # the cut genuinely spanned the index: both batches emitted pairs,
    # and batch 1 found cross-batch pairs the self-join alone cannot
    assert set(per_batch) == {0, 1} and per_batch[0] and per_batch[1]


def test_stream_semdedup_equals_batch(spark, tmp_path):
    """Streaming semantic dedup against the FROZEN quantizer drained
    over a mid-stream cut must materialize EXACTLY the batch semdedup
    verdicts (same cells, same cent_cos, same removed/kept), including
    cross-batch dominance: a batch-0 keep flipped to removed by a
    batch-1 arrival — the changelog semantics a one-shot operator never
    exercises."""
    from kafka_streams_repartition_spark.operators import dedup as dd
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import stream_semdedup

    t = load_tables(spark, "/root/testdata/sf0.001")
    emb = t["embeddings"].select("vec_id", "embedding")
    src = str(tmp_path / "src")
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    quant = dd.semdedup_quantizer(t)
    per_batch: dict[int, list] = {}
    got = stream_semdedup(
        spark,
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        quant,
        str(tmp_path / "index"),
        str(tmp_path / "ckpt"),
        on_batch=per_batch.__setitem__,
    ).toPandas()
    want = dd.semdedup(t).toPandas()
    key = lambda df: sorted(  # noqa: E731
        map(
            tuple,
            df[["vec_id", "cell", "cent_cos", "removed", "kept"]].values,
        )
    )
    assert key(got) == key(want) and len(want)
    # the cut genuinely exercised the changelog: some batch-0 vector was
    # KEPT by batch 0's own verdicts and flipped to removed by batch 1
    assert set(per_batch) == {0, 1}
    kept_b0 = {
        r["vec_id"] for r in per_batch[0] if not r["removed"]
    }
    flipped = {
        r["vec_id"]
        for r in per_batch[1]
        if r["removed"] and r["vec_id"] % 2 == 0
    }
    assert kept_b0 & flipped


def test_stream_semdedup_mega_cell_capped_and_exact(spark, tmp_path):
    """Adversarial mega-cell on the STREAMING path (mirror of the batch
    test): hundreds of near-identical one-label vectors collapse into
    ONE quantizer cell, streamed across two batches with a tiny
    cell_cap.  The per-batch (cell, chunk) tiling must keep every
    candidate join key bounded (chunked side ≤ ~cap rows per chunk)
    while the folded verdicts stay EXACTLY the one-shot batch semdedup
    output — chunking partitions the candidate pair set and removal is
    an existential over partners, so the cap is output-invariant."""
    import numpy as np

    from kafka_streams_repartition_spark.operators import dedup as dd
    from kafka_streams_repartition_spark.streaming import stream_semdedup

    rng = np.random.default_rng(23)
    base = rng.normal(size=64)
    n, cap = 400, 8
    vecs = [
        (i, (base + 1e-9 * rng.normal(size=64)).tolist(), 0)
        for i in range(n)
    ]
    emb = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label int"
    )
    t2 = {"embeddings": emb}
    src = str(tmp_path / "src")
    emb.select("vec_id", "embedding").filter(
        F.col("vec_id") % 2 == 0
    ).coalesce(1).write.mode("append").parquet(src)
    emb.select("vec_id", "embedding").filter(
        F.col("vec_id") % 2 == 1
    ).coalesce(1).write.mode("append").parquet(src)

    quant = dd.semdedup_quantizer(t2)
    got = stream_semdedup(
        spark,
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        quant,
        str(tmp_path / "index"),
        str(tmp_path / "ckpt"),
        cell_cap=cap,
    ).toPandas()
    want = dd.semdedup(t2).toPandas()
    key = lambda df: sorted(  # noqa: E731
        map(
            tuple,
            df[["vec_id", "cell", "cent_cos", "removed", "kept"]].values,
        )
    )
    assert key(got) == key(want)
    # the mega-cell shape really happened: one cell, one keeper
    assert len(got) == n and got["kept"].sum() == 1
    # the hash-chunking really bounds each join key: the dominator side
    # places ≤ ~cap rows per (cell, chunk) (4x slack for hash skew)
    k = -(-n // cap)  # ceil: chunk count the second batch used
    per_chunk = (
        emb.select(
            F.pmod(
                F.xxhash64("vec_id", F.lit("sd-stream-tile")), F.lit(k)
            ).alias("chunk")
        )
        .groupBy("chunk")
        .count()
        .toPandas()
    )
    assert per_chunk["count"].max() <= 4 * cap


def test_stream_index_emissions_survive_restart(spark, tmp_path):
    """Emitted pairs are committed state, not driver-lifetime state: a
    process restart against a surviving checkpoint+index (every batch
    replay-skipped) must return the FULL emission history — the
    exactly-once emission contract across restarts, not just within one
    process.  Also pins the production sink artifact: each committed
    batch dir carries its ``pairs`` parquet."""
    import os

    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import (
        stream_embedding_index,
    )

    t = load_tables(spark, "/root/testdata/sf0.001")
    emb = t["embeddings"].select("vec_id", "embedding")
    src = str(tmp_path / "src")
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    root, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    reader = lambda: (  # noqa: E731
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    first = stream_embedding_index(spark, reader(), root, ckpt)
    key = lambda rows: sorted(  # noqa: E731
        (r["doc_a"], r["doc_b"], r["cosine"]) for r in rows
    )
    assert first
    for d in os.listdir(root):
        if d.startswith("batch="):
            assert os.path.isdir(os.path.join(root, d, "pairs"))
    # "restart": same checkpoint + surviving index, nothing new to read
    # → zero batches run, yet the full history comes back
    again = stream_embedding_index(spark, reader(), root, ckpt)
    assert key(again) == key(first)


def test_stream_corpus_curation_equals_batch(spark, tmp_path):
    """The full streaming ingest-curation pipeline (quality gate →
    digest-index exact dedup → incremental MinHash near-dup) drained
    over a mid-corpus id-ordered cut accepts EXACTLY the batch
    corpus_curation output — same doc_ids, same stats."""
    from kafka_streams_repartition_spark.operators import (
        text_analysis as tx,
    )
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import (
        stream_corpus_curation,
    )

    t = load_tables(spark, "/root/testdata/sf0.001")
    docs = t["documents"].select("doc_id", "text")
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    src = str(tmp_path / "src")
    # id-ordered arrival: first-wins == the batch keep-min-id rule
    docs.filter(F.col("doc_id") <= cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    docs.filter(F.col("doc_id") > cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    seen: list[int] = []
    curated = stream_corpus_curation(
        spark,
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        str(tmp_path / "index"),
        str(tmp_path / "ckpt"),
        on_batch=seen.append,
    )
    got = {
        (r["doc_id"], r["n_tokens"], r["quality_score"])
        for r in curated.collect()
    }
    want = {
        (r["doc_id"], r["n_tokens"], r["quality_score"])
        for r in tx.corpus_curation(t).collect()
    }
    assert seen == [0, 1]  # the cut actually produced two batches
    assert got == want and want


def test_stream_corpus_curation_cross_batch_gates(spark, tmp_path):
    """Cross-batch state actually gates: an exact duplicate and a
    near-duplicate of batch-0 docs arriving in batch 1 are both
    rejected, while a fresh batch-1 doc is accepted."""
    from kafka_streams_repartition_spark.streaming import (
        stream_corpus_curation,
    )

    base = (
        "the quick brown fox jumps over the lazy dog near the old "
        "river bank while the sun sets over the quiet green valley "
        "and the birds sing in the tall trees of the forest"
    )
    near = base.replace("green valley", "wide valley")
    fresh = (
        "a completely different report about spark shuffle plans "
        "and the cost of wide joins in the adaptive runtime of a "
        "large cluster with many executors and the stages they run"
    )
    b0 = spark.createDataFrame(
        [(1, base)], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(10, base), (11, near), (12, fresh)], "doc_id long, text string"
    )
    src = str(tmp_path / "src")
    b0.coalesce(1).write.mode("append").parquet(src)
    b1.coalesce(1).write.mode("append").parquet(src)
    curated = stream_corpus_curation(
        spark,
        spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        str(tmp_path / "index"),
        str(tmp_path / "ckpt"),
    )
    ids = {r["doc_id"] for r in curated.collect()}
    assert 1 in ids  # the original is accepted
    assert 10 not in ids  # exact dup of batch 0, rejected by digest
    assert 11 not in ids  # near dup of batch 0, rejected by the index
    assert 12 in ids  # fresh content passes


def test_stream_novelty_scoring_equals_batch(spark, tmp_path):
    """The incrementally-maintained shingle seen-set drained over an
    id-ordered mid-corpus cut reproduces the one-shot novelty_scoring
    verdicts exactly, and the per-batch novelty rate declines (the
    diminishing-returns curve the monitor exists for)."""
    from kafka_streams_repartition_spark.operators import dedup as dd
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import (
        stream_novelty_scoring,
    )

    t = load_tables(spark, "/root/testdata/sf0.001")
    docs = t["documents"].select("doc_id", "text")
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") <= cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    docs.filter(F.col("doc_id") > cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    seen: list[int] = []
    scored = stream_novelty_scoring(
        spark,
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        str(tmp_path / "index"),
        str(tmp_path / "ckpt"),
        on_batch=seen.append,
    )
    got = {tuple(r) for r in scored.collect()}
    want = {tuple(r) for r in dd.novelty_scoring(t).collect()}
    assert seen == [0, 1]
    assert got == want and want
    rows = scored.collect()
    early = [r for r in rows if r["doc_id"] <= cut]
    late = [r for r in rows if r["doc_id"] > cut]
    rate = lambda rs: sum(r["n_novel"] for r in rs) / max(  # noqa: E731
        1, sum(r["n_grams"] for r in rs)
    )
    assert rate(late) < rate(early)


def test_stream_minhash_index_equals_batch_lsh(spark, tmp_path):
    """Text twin of the embedding index: the incrementally-maintained
    MinHash band index drained over a mid-corpus cut emits exactly the
    one-shot dedup_minhash_lsh pair set — same pairs, same rounded
    Jaccards, each pair once."""
    from kafka_streams_repartition_spark.operators import dedup as dd
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import (
        stream_minhash_index,
    )

    t = load_tables(spark, "/root/testdata/sf0.001")
    docs = t["documents"].select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    per_batch: dict[int, int] = {}
    emitted = stream_minhash_index(
        spark,
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        str(tmp_path / "index"),
        str(tmp_path / "ckpt"),
        on_batch=lambda bid, rows: per_batch.__setitem__(bid, len(rows)),
    )
    got = [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in emitted]
    assert len(got) == len(set(got))  # each pair exactly once
    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dd.dedup_minhash_lsh(t).collect()
    }
    assert set(got) == want and want
    assert set(per_batch) == {0, 1} and per_batch[1]


def test_stream_embedding_index_rejects_foreign_checkpoint(spark, tmp_path):
    """Same run-identity contract as maintain_snapshot: a recreated
    checkpoint against a surviving index fails loudly, never silently
    freezes the index."""
    from pyspark.errors import StreamingQueryException

    from kafka_streams_repartition_spark.streaming import (
        stream_embedding_index,
    )

    src = str(tmp_path / "src")
    root = str(tmp_path / "index")
    vecs = spark.createDataFrame(
        [(1, [1.0] * 64), (2, [1.0] * 64)],
        "vec_id long, embedding array<double>",
    )
    vecs.coalesce(1).write.mode("append").parquet(src)
    run = lambda cp: stream_embedding_index(  # noqa: E731
        spark,
        spark.readStream.schema(vecs.schema).parquet(src),
        root,
        cp,
    )
    out = run(str(tmp_path / "ckpt"))
    assert [(r["doc_a"], r["doc_b"]) for r in out] == [(1, 2)]
    with pytest.raises((RuntimeError, StreamingQueryException)) as exc:
        run(str(tmp_path / "ckpt2"))
    assert "live and die as a pair" in str(exc.value)


def test_stream_interval_join_outer_null_pads_on_window_close(spark, tmp_path):
    """Left-outer stream-stream interval join: matched impressions emit
    enriched, unmatched ones emit null-padded once the watermark passes
    their window end (a max-ts sentinel advances it over every real
    window), and the drained result equals the batch leftOuter join."""
    from kafka_streams_repartition_spark.streaming import (
        run_foreach_batch_available_now,
        stream_interval_join_outer,
    )

    from datetime import datetime as dt

    ts = lambda h, m: dt(2026, 1, 1, h, m)  # noqa: E731
    sentinel = dt(2026, 1, 2, 0, 0)
    imps = spark.createDataFrame(
        [
            (ts(10, 0), 1, "ad-a"),   # matched by the 10:30 click
            (ts(10, 0), 2, "ad-b"),   # no click for user 2 -> null-padded
            (ts(12, 0), 1, "ad-c"),   # matched by the 12:10 click
            (sentinel, -999, "ad-sentinel"),
        ],
        "imp_ts timestamp, user_id bigint, ad_id string",
    )
    clicks = spark.createDataFrame(
        [
            (ts(10, 30), 1, 5.0),   # joins ad-a (within 1h)
            (ts(11, 30), 1, 7.0),   # ad-a window closed at 11:00 -> no join
            (ts(12, 10), 1, 9.0),   # joins ad-c
            (sentinel, -998, 0.0),
        ],
        "click_ts timestamp, user_id bigint, click_value double",
    )
    imp_src, click_src = str(tmp_path / "imps"), str(tmp_path / "clicks")
    imps.coalesce(1).write.parquet(imp_src)
    clicks.coalesce(1).write.parquet(click_src)

    joined = stream_interval_join_outer(
        spark.readStream.schema(imps.schema).parquet(imp_src),
        spark.readStream.schema(clicks.schema).parquet(click_src),
        key="user_id",
        left_ts="imp_ts",
        right_ts="click_ts",
        within="1 hour",
        watermark="0 seconds",
    )
    rows = run_foreach_batch_available_now(
        spark, joined, str(tmp_path / "ckpt"), mode="append"
    )
    got = sorted(
        (r["ad_id"], r["click_value"])
        for r in rows
        if r["ad_id"] != "ad-sentinel"
    )
    assert got == [("ad-a", 5.0), ("ad-b", None), ("ad-c", 9.0)]

    cond = (
        (imps["user_id"] == clicks["user_id"])
        & (clicks["click_ts"] >= imps["imp_ts"])
        & (clicks["click_ts"] <= imps["imp_ts"] + F.expr("INTERVAL 1 hour"))
    )
    want = sorted(
        (r["ad_id"], r["click_value"])
        for r in imps.join(clicks, cond, "leftOuter").collect()
        if r["ad_id"] != "ad-sentinel"
    )
    assert got == want


def test_stream_line_dedup_equals_batch(spark, tmp_path):
    """The incrementally-maintained document-frequency table drained
    over an id-ordered mid-corpus cut reproduces one-shot line_dedup
    exactly — the latest-wins changelog fold corrects every history
    doc whose lines crossed the boilerplate threshold after it was
    first scored."""
    from kafka_streams_repartition_spark.operators import dedup as dd
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import stream_line_dedup

    t = load_tables(spark, "/root/testdata/sf0.001")
    docs = t["documents"].select("doc_id", "text")
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") <= cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    docs.filter(F.col("doc_id") > cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    seen: list[int] = []
    folded = stream_line_dedup(
        spark,
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        str(tmp_path / "index"),
        str(tmp_path / "ckpt"),
        on_batch=seen.append,
    )
    got = {tuple(r) for r in folded.collect()}
    want = {tuple(r) for r in dd.line_dedup(t).collect()}
    assert seen == [0, 1]
    assert got == want and want


def test_stream_line_dedup_cross_batch_flip(spark, tmp_path):
    """A line below the df threshold in batch 0 crosses it in batch 1:
    the batch-0 documents are RE-EMITTED with corrected verdicts, and
    the fold equals the one-shot batch op.  Constructs the flip
    explicitly: docs 1 and 2 share line L (df=2 < LINE_DF_MIN=3) in
    batch 0; batch 1's doc 3 brings L to df=3."""
    import os

    from kafka_streams_repartition_spark.operators import dedup as dd
    from kafka_streams_repartition_spark.streaming import stream_line_dedup

    L = " ".join(f"tok{i}" for i in range(dd.LINE_W))  # one exact line
    uniq = lambda d: " ".join(  # noqa: E731
        f"only{d}w{i}" for i in range(dd.LINE_W)
    )
    rows = [
        (1, L + " " + uniq(1)),
        (2, L + " " + uniq(2)),
        (3, L + " " + uniq(3)),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "src")
    docs.filter("doc_id <= 2").coalesce(1).write.mode("append").parquet(src)
    docs.filter("doc_id = 3").coalesce(1).write.mode("append").parquet(src)
    root = str(tmp_path / "index")
    folded = stream_line_dedup(
        spark,
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        root,
        str(tmp_path / "ckpt"),
    )
    got = {r["doc_id"]: r for r in folded.collect()}
    # every doc has 2 lines; after batch 1 the shared line is boiler
    for d in (1, 2, 3):
        assert got[d]["n_lines"] == 2 and got[d]["n_boiler"] == 1
        assert got[d]["kept_tokens"] == dd.LINE_W
    # the fold equals the one-shot batch op on the full corpus
    t = {"documents": docs}
    want = {tuple(r) for r in dd.line_dedup(t).collect()}
    assert {tuple(r) for r in folded.collect()} == want
    # the flip is visible in the changelog: docs 1 and 2 were scored
    # clean in batch 0 and re-emitted as boiler by batch 1
    b0 = spark.read.parquet(os.path.join(root, "batch=0", "docs"))
    b1 = spark.read.parquet(os.path.join(root, "batch=1", "docs"))
    assert {r["doc_id"]: r["n_boiler"] for r in b0.collect()} == {1: 0, 2: 0}
    re_emitted = {r["doc_id"]: r["n_boiler"] for r in b1.collect()}
    assert re_emitted == {1: 1, 2: 1, 3: 1}


def test_stream_line_dedup_restart_returns_full_state(spark, tmp_path):
    """A process restart against a surviving checkpoint+index (every
    batch replay-skipped) still returns the FULL folded state — the
    changelog is committed state, not driver-lifetime memory."""
    from kafka_streams_repartition_spark.operators import dedup as dd
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import stream_line_dedup

    t = load_tables(spark, "/root/testdata/sf0.001")
    docs = t["documents"].select("doc_id", "text").filter("doc_id < 100")
    src = str(tmp_path / "src")
    docs.filter("doc_id < 50").coalesce(1).write.mode("append").parquet(src)
    docs.filter("doc_id >= 50").coalesce(1).write.mode("append").parquet(src)
    args = (
        str(tmp_path / "index"),
        str(tmp_path / "ckpt"),
    )
    stream = lambda: spark.readStream.schema(docs.schema).option(  # noqa: E731
        "maxFilesPerTrigger", 1
    ).parquet(src)
    first = stream_line_dedup(spark, stream(), *args).collect()
    second = stream_line_dedup(spark, stream(), *args).collect()
    assert {tuple(r) for r in second} == {tuple(r) for r in first}
    assert first


def test_stream_domain_kl_every_snapshot_equals_batch(spark, tmp_path):
    """The mixture-drift monitor's snapshot equals one-shot domain_kl
    over exactly the documents ingested so far — at EVERY cut, not
    just the last (each snapshot recomputes the global functional
    from the folded vocabulary counts)."""
    import os

    from kafka_streams_repartition_spark.operators import selection as sel
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import stream_domain_kl

    t = load_tables(spark, "/root/testdata/sf0.001")
    docs = t["documents"].select("doc_id", "text", "source")
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    src = str(tmp_path / "src")
    first_half = docs.filter(F.col("doc_id") <= cut)
    first_half.coalesce(1).write.mode("append").parquet(src)
    docs.filter(F.col("doc_id") > cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    root = str(tmp_path / "index")
    folded = stream_domain_kl(
        spark,
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        root,
        str(tmp_path / "ckpt"),
    )
    # final snapshot == one-shot over the full corpus
    want = {tuple(r) for r in sel.domain_kl(t).collect()}
    assert {tuple(r) for r in folded.collect()} == want and want
    # batch-0 snapshot == one-shot over the first half only
    snap0 = spark.read.parquet(os.path.join(root, "batch=0", "kl")).drop(
        "batch"
    )
    want0 = {
        tuple(r) for r in sel.domain_kl({"documents": first_half}).collect()
    }
    assert {tuple(r) for r in snap0.collect()} == want0 and want0
    # superseded cumulative rollups are pruned: only the LATEST batch
    # still carries counts (on-disk state is one vocab-sized table,
    # not O(n_batches x vocab)), while every batch keeps its snapshot
    assert not os.path.isdir(os.path.join(root, "batch=0", "counts"))
    assert os.path.isdir(os.path.join(root, "batch=1", "counts"))


def test_stream_domain_kl_read_back_runs_no_job(spark, tmp_path):
    """Returning the latest snapshot starts no Spark job: ``_CURRENT``
    already names the latest batch, so the read-back is a lazy scan of
    that one committed dir (scanning every snapshot to collect
    ``max(batch)`` cost two jobs).  After a two-batch drain, a restart
    on the same checkpoint runs no micro-batch, so the jobs started in
    the caller's job group are the read-back's alone."""
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import stream_domain_kl
    from kafka_streams_repartition_spark.streaming.snapshot import (
        snapshot_version,
    )

    t = load_tables(spark, "/root/testdata/sf0.001")
    docs = t["documents"].select("doc_id", "text", "source")
    src = str(tmp_path / "src")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.mode("append").parquet(src)
    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    args = (str(tmp_path / "index"), str(tmp_path / "ckpt"))
    stream = lambda: spark.readStream.schema(docs.schema).option(  # noqa: E731
        "maxFilesPerTrigger", 1
    ).parquet(src)
    first = stream_domain_kl(spark, stream(), *args)
    assert snapshot_version(args[0]) == 1  # two batches committed

    sc = spark.sparkContext
    group = "stream-domain-kl-read-back"
    sc.setJobGroup(group, "read-back only")
    try:
        again = stream_domain_kl(spark, stream(), *args)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == []
    assert {tuple(r) for r in again.collect()} == {
        tuple(r) for r in first.collect()
    }


def test_stream_domain_entropy_every_snapshot_equals_batch(spark, tmp_path):
    """The per-source entropy monitor's snapshot equals one-shot
    domain_entropy over exactly the documents ingested so far — at
    EVERY cut (same folded vocabulary rollup as stream_domain_kl, and
    the snapshot math IS the batch op's _entropy_from_counts) — and
    superseded cumulative rollups are pruned."""
    import os

    from kafka_streams_repartition_spark.operators import selection as sel
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import (
        stream_domain_entropy,
    )

    t = load_tables(spark, "/root/testdata/sf0.001")
    docs = t["documents"].select("doc_id", "text", "source")
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    src = str(tmp_path / "src")
    first_half = docs.filter(F.col("doc_id") <= cut)
    first_half.coalesce(1).write.mode("append").parquet(src)
    # arrival order stress: the second file carries the LOWER-id docs'
    # complement, including sources already seen in batch 0
    docs.filter(F.col("doc_id") > cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    root = str(tmp_path / "index")
    folded = stream_domain_entropy(
        spark,
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        root,
        str(tmp_path / "ckpt"),
    )
    want = {tuple(r) for r in sel.domain_entropy(t).collect()}
    assert {tuple(r) for r in folded.collect()} == want and want
    snap0 = spark.read.parquet(
        os.path.join(root, "batch=0", "entropy")
    ).drop("batch")
    want0 = {
        tuple(r)
        for r in sel.domain_entropy({"documents": first_half}).collect()
    }
    assert {tuple(r) for r in snap0.collect()} == want0 and want0
    assert not os.path.isdir(os.path.join(root, "batch=0", "counts"))
    assert os.path.isdir(os.path.join(root, "batch=1", "counts"))


def test_stream_doremi_weights_every_snapshot_equals_batch(spark, tmp_path):
    """The streaming DoReMi monitor's weight table equals one-shot
    doremi_weights over exactly the documents ingested so far — at
    EVERY cut (the tilt is a global functional of the corpus
    distribution, recomputed per batch via the shared _kl_from_counts
    → _doremi_from_kl kernels) — and superseded cumulative vocabulary
    rollups are pruned."""
    import os

    from kafka_streams_repartition_spark.operators import selection as sel
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming.embindex import (
        stream_doremi_weights,
    )

    t = load_tables(spark, "/root/testdata/sf0.001")
    docs = t["documents"].select("doc_id", "text", "source")
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    src = str(tmp_path / "src")
    first_half = docs.filter(F.col("doc_id") <= cut)
    first_half.coalesce(1).write.mode("append").parquet(src)
    docs.filter(F.col("doc_id") > cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    root = str(tmp_path / "index")
    folded = stream_doremi_weights(
        spark,
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        root,
        str(tmp_path / "ckpt"),
    )
    want = {tuple(r) for r in sel.doremi_weights(t).collect()}
    assert {tuple(r) for r in folded.collect()} == want and want
    snap0 = spark.read.parquet(
        os.path.join(root, "batch=0", "doremi")
    ).drop("batch")
    want0 = {
        tuple(r)
        for r in sel.doremi_weights({"documents": first_half}).collect()
    }
    assert {tuple(r) for r in snap0.collect()} == want0 and want0
    assert not os.path.isdir(os.path.join(root, "batch=0", "counts"))
    assert os.path.isdir(os.path.join(root, "batch=1", "counts"))


def test_stream_zipf_fit_every_snapshot_equals_batch(spark, tmp_path):
    """The streaming vocabulary monitor's fit snapshot equals one-shot
    zipf_fit over exactly the documents ingested so far — at EVERY cut
    (rank–frequency is a global functional, recomputed per batch via
    the shared _zipf_from_counts kernel) — and superseded cumulative
    count rollups are pruned."""
    import os

    from kafka_streams_repartition_spark.operators import (
        text_analysis as tx,
    )
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming.embindex import (
        stream_zipf_fit,
    )

    t = load_tables(spark, "/root/testdata/sf0.001")
    docs = t["documents"].select("doc_id", "text")
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    src = str(tmp_path / "src")
    first_half = docs.filter(F.col("doc_id") <= cut)
    first_half.coalesce(1).write.mode("append").parquet(src)
    docs.filter(F.col("doc_id") > cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    root = str(tmp_path / "index")
    folded = stream_zipf_fit(
        spark,
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        root,
        str(tmp_path / "ckpt"),
    )
    want = {tuple(r) for r in tx.zipf_fit(t).collect()}
    assert {tuple(r) for r in folded.collect()} == want and want
    snap0 = spark.read.parquet(os.path.join(root, "batch=0", "zipf")).drop(
        "batch"
    )
    want0 = {
        tuple(r) for r in tx.zipf_fit({"documents": first_half}).collect()
    }
    assert {tuple(r) for r in snap0.collect()} == want0 and want0
    assert not os.path.isdir(os.path.join(root, "batch=0", "counts"))
    assert os.path.isdir(os.path.join(root, "batch=1", "counts"))


def test_stream_token_budget_every_snapshot_equals_batch(spark, tmp_path):
    """The streaming UniMax controller's allocation snapshot equals
    one-shot token_budget over exactly the documents ingested so far —
    at EVERY cut (the allocation is a global functional of all
    sources' availability, recomputed per batch via the shared
    _unimax_fill) — and superseded cumulative avail rollups are
    pruned."""
    import os

    from kafka_streams_repartition_spark.operators import selection as sel
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import stream_token_budget

    t = load_tables(spark, "/root/testdata/sf0.001")
    docs = t["documents"].select("doc_id", "text", "source")
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    src = str(tmp_path / "src")
    first_half = docs.filter(F.col("doc_id") <= cut)
    first_half.coalesce(1).write.mode("append").parquet(src)
    docs.filter(F.col("doc_id") > cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    root = str(tmp_path / "index")
    folded = stream_token_budget(
        spark,
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        root,
        str(tmp_path / "ckpt"),
    )
    want = {tuple(r) for r in sel.token_budget(t).collect()}
    assert {tuple(r) for r in folded.collect()} == want and want
    snap0 = spark.read.parquet(os.path.join(root, "batch=0", "alloc")).drop(
        "batch"
    )
    want0 = {
        tuple(r)
        for r in sel.token_budget({"documents": first_half}).collect()
    }
    assert {tuple(r) for r in snap0.collect()} == want0 and want0
    # cumulative rollup pruned to the latest committed copy
    assert not os.path.isdir(os.path.join(root, "batch=0", "avail"))
    assert os.path.isdir(os.path.join(root, "batch=1", "avail"))


def test_stream_filter_attribution_equals_batch(spark, tmp_path):
    """The ingest-time cascade monitor drained over a mid-corpus
    id-ordered cut folds to EXACTLY the one-shot filter_attribution
    table (verdicts are final at arrival: Gopher/quality are per-row,
    exact-dup is first-arrival-wins, near-dup flags the later side),
    and the cumulative counter rollup is pruned to its latest copy."""
    import os

    from kafka_streams_repartition_spark.operators import selection as sel
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import (
        stream_filter_attribution,
    )

    t = load_tables(spark, "/root/testdata/sf0.001")
    docs = t["documents"]
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") <= cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    docs.filter(F.col("doc_id") > cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    root = str(tmp_path / "index")
    folded = stream_filter_attribution(
        spark,
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        root,
        str(tmp_path / "ckpt"),
    )
    want = {tuple(r) for r in sel.filter_attribution(t).collect()}
    assert {tuple(r) for r in folded.collect()} == want and want
    # both batches committed; superseded counter rollup pruned
    assert not os.path.isdir(os.path.join(root, "batch=0", "counters"))
    assert os.path.isdir(os.path.join(root, "batch=1", "counters"))
    # the near-dup/exact gates really exercised the cross-batch index
    # (batch 1 flags against batch 0's digests/bands): the one-shot
    # table must show dup rejections that a batch-0-only run lacks
    half = sel.filter_attribution(
        {"documents": docs.filter(F.col("doc_id") <= cut)}
    ).collect()
    full_dups = sum(r["n_exact_dup"] + r["n_near_dup"] for r in half)
    got_dups = sum(
        r["n_exact_dup"] + r["n_near_dup"] for r in folded.collect()
    )
    assert got_dups >= full_dups


def test_stream_filter_attribution_twice_seen_digest(spark, tmp_path):
    """A digest already held by TWO history docs must flag a new copy
    once, not fan the probe join out: three identical docs split 2+1
    across the cut fold to exactly the one-shot table (n_docs exact,
    one exact-dup per later copy)."""
    from kafka_streams_repartition_spark.operators import selection as sel
    from kafka_streams_repartition_spark.streaming import (
        stream_filter_attribution,
    )

    text = "the and is in it of to a " * 20  # stopword-rich: gates pass
    docs = spark.createDataFrame(
        [(i, text, "en", "webA", len(text)) for i in (1, 2, 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    src = str(tmp_path / "src")
    docs.filter("doc_id <= 2").coalesce(1).write.mode("append").parquet(src)
    docs.filter("doc_id = 3").coalesce(1).write.mode("append").parquet(src)
    folded = stream_filter_attribution(
        spark,
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        str(tmp_path / "index"),
        str(tmp_path / "ckpt"),
    )
    [got] = folded.collect()
    assert got["n_docs"] == 3  # no fanout inflation
    assert got["n_exact_dup"] == 2  # docs 2 and 3, once each
    want = {tuple(r) for r in sel.filter_attribution({"documents": docs}).collect()}
    assert {tuple(r) for r in folded.collect()} == want


def test_stream_crossmodal_clusters_every_snapshot_equals_batch(
    spark, tmp_path
):
    """The streaming cross-modal entity resolver's snapshot equals
    one-shot crossmodal_clusters over exactly the documents ingested so
    far — at EVERY cut: the union-find fold is monotone (labels only
    decrease toward the component min id), so cross-batch merges land
    exactly where the batch CC would put them.  Also pins the pruning
    discipline: labels/flags state keeps only the latest committed
    copy, while every batch keeps its snapshot."""
    import os

    from kafka_streams_repartition_spark.operators import dedup as dd2
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import (
        stream_crossmodal_clusters,
    )

    t = load_tables(spark, "/root/testdata/sf0.001")
    both = (
        t["documents"]
        .select("doc_id", "text")
        .join(
            t["embeddings"].select(
                F.col("vec_id").alias("doc_id"), "embedding"
            ),
            "doc_id",
        )
    )
    cut = both.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    src = str(tmp_path / "src")
    first = both.filter(F.col("doc_id") <= cut)
    first.coalesce(1).write.mode("append").parquet(src)
    both.filter(F.col("doc_id") > cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    root = str(tmp_path / "index")
    folded = stream_crossmodal_clusters(
        spark,
        spark.readStream.schema(both.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        root,
        str(tmp_path / "ckpt"),
    )

    def one_shot(docs_emb):
        tt = {
            "documents": docs_emb.select("doc_id", "text"),
            "embeddings": docs_emb.select(
                F.col("doc_id").alias("vec_id"), "embedding"
            ),
        }
        return dd2.crossmodal_clusters(tt)

    want = {tuple(r) for r in one_shot(both).collect()}
    assert {tuple(r) for r in folded.collect()} == want and want
    # the corpus genuinely exercises a cross-batch merge: some cluster
    # must span the cut (else this test proves nothing)
    ids = sorted(r[0] for r in want)
    by_cluster: dict[int, list[int]] = {}
    for r in want:
        by_cluster.setdefault(r[1], []).append(r[0])
    assert any(
        min(m) <= cut < max(m) for m in by_cluster.values()
    ), "no cluster spans the cut"
    # batch-0 snapshot == one-shot over the first half only
    snap0 = spark.read.parquet(
        os.path.join(root, "batch=0", "clusters")
    ).drop("batch")
    want0 = {tuple(r) for r in one_shot(first).collect()}
    assert {tuple(r) for r in snap0.collect()} == want0 and want0
    # cumulative label/flag state pruned to the latest committed copy;
    # per-batch snapshots and index contributions retained
    assert not os.path.isdir(os.path.join(root, "batch=0", "labels"))
    assert not os.path.isdir(os.path.join(root, "batch=0", "flags"))
    assert os.path.isdir(os.path.join(root, "batch=1", "labels"))
    assert os.path.isdir(os.path.join(root, "batch=0", "bands"))
    assert os.path.isdir(os.path.join(root, "batch=0", "sigs"))


def test_stream_crossmodal_clusters_cascading_merge(spark, tmp_path):
    """The hardest union-find path: a batch-2 bridge document merges
    TWO clusters that were each born in their own earlier batch — the
    old→new mapping must relabel BOTH committed clusters in one fold
    (cluster-graph CC, not single-edge patching).  Topology (embedding
    family; texts all distinct so the text family is silent):
    batch 0 = {1,2} (cluster 1), batch 1 = {11,12} (cluster 11),
    batch 2 = {21} with cos ≥ threshold to both groups but the groups
    orthogonal to each other → final single cluster labeled 1."""
    import math

    from kafka_streams_repartition_spark.operators import dedup as dd2
    from kafka_streams_repartition_spark.streaming import (
        stream_crossmodal_clusters,
    )

    DIM = 64
    s = 1 / math.sqrt(2)
    a = [1.0] + [0.0] * (DIM - 1)
    b = [0.0, 1.0] + [0.0] * (DIM - 2)
    x = [s, s] + [0.0] * (DIM - 2)
    texts = {
        1: "quick brown fox jumps over lazy dog tonight",
        2: "seven silent ships sailed south past storm clouds",
        11: "green apples taste better after first autumn frost",
        12: "mountain rivers carve deep canyons through red stone",
        21: "old libraries keep forgotten maps of vanished roads",
    }
    rows = [
        (1, texts[1], a),
        (2, texts[2], a),
        (11, texts[11], b),
        (12, texts[12], b),
        (21, texts[21], x),
    ]
    schema = "doc_id long, text string, embedding array<double>"
    both = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "src")
    for cond in ("doc_id <= 2", "doc_id IN (11, 12)", "doc_id = 21"):
        both.filter(cond).coalesce(1).write.mode("append").parquet(src)
    root = str(tmp_path / "index")
    folded = stream_crossmodal_clusters(
        spark,
        spark.readStream.schema(both.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        root,
        str(tmp_path / "ckpt"),
    )
    got = {tuple(r) for r in folded.collect()}
    tt = {
        "documents": both.select("doc_id", "text"),
        "embeddings": both.select(
            F.col("doc_id").alias("vec_id"), "embedding"
        ).withColumn("label", F.lit(0)),
    }
    want = {tuple(r) for r in dd2.crossmodal_clusters(tt).collect()}
    assert got == want
    # the merge really happened: one cluster labeled by the global min,
    # embedding-only evidence, never cross-modal
    assert {r[1] for r in got} == {1}
    assert all(r[2] is False and r[3] is True and not r[5] for r in got)
    assert {r[0] for r in got} == {1, 2, 11, 12, 21}


def test_stream_quality_aware_every_snapshot_equals_batch(spark, tmp_path):
    """The streaming keep-the-cleanest resolver's snapshot equals
    one-shot dedup_quality_aware over exactly the documents ingested so
    far — at EVERY cut: labels come from the shared monotone union-find
    fold, and quality scores are per-row-final at arrival, so each
    snapshot's per-cluster max(struct(score, -id)) keeper is the batch
    rule replayed.  A keeper demotion across the cut must occur (a
    later, higher-quality arrival takes over an existing cluster) or
    the test proves nothing."""
    import os

    from kafka_streams_repartition_spark.operators import dedup as dd2
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import stream_quality_aware

    t = load_tables(spark, "/root/testdata/sf0.001")
    docs = t["documents"]
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    src = str(tmp_path / "src")
    first = docs.filter(F.col("doc_id") <= cut)
    first.coalesce(1).write.mode("append").parquet(src)
    docs.filter(F.col("doc_id") > cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    root = str(tmp_path / "index")
    folded = stream_quality_aware(
        spark,
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        root,
        str(tmp_path / "ckpt"),
    )
    want = {tuple(r) for r in dd2.dedup_quality_aware(t).collect()}
    got = {tuple(r) for r in folded.collect()}
    assert got == want and want
    # batch-0 snapshot == one-shot over the first half only
    snap0 = spark.read.parquet(
        os.path.join(root, "batch=0", "clusters")
    ).drop("batch")
    want0 = {
        tuple(r)
        for r in dd2.dedup_quality_aware({"documents": first}).collect()
    }
    assert {tuple(r) for r in snap0.collect()} == want0 and want0
    # a cross-cut keeper decision really happened: some cluster holds
    # members on both sides of the cut, and its final keeper is decided
    # over the union (not batch-0's local view)
    by_cluster: dict[int, list] = {}
    for r in got:
        by_cluster.setdefault(r[1], []).append(r)
    spanning = [
        m for m in by_cluster.values()
        if min(x[0] for x in m) <= cut < max(x[0] for x in m)
    ]
    assert spanning
    # cumulative label state pruned; scores/index parts retained
    assert not os.path.isdir(os.path.join(root, "batch=0", "labels"))
    assert os.path.isdir(os.path.join(root, "batch=1", "labels"))
    assert os.path.isdir(os.path.join(root, "batch=0", "scores"))


def test_stream_token_budget_zero_token_source(spark, tmp_path):
    """A source whose documents ALL tokenize to zero words (empty /
    whitespace-only text) must survive into the availability rollup and
    the allocation snapshot exactly as the one-shot operator treats it
    (an avail=0 row) — at every cut, including a cut where the
    zero-token source is the ONLY source seen so far.  The round-9
    advisor flagged this as a hole; the stream rollup is per-DOC rows
    (size(words(text)) per document, not exploded term rows), so the
    source persists — this test pins that contract against regression
    to a term-row-derived rollup."""
    import os

    from kafka_streams_repartition_spark.operators import selection as sel
    from kafka_streams_repartition_spark.streaming import stream_token_budget

    rows = [
        (1, "", "xx", "emptyA", 0),
        (2, "   ", "xx", "emptyA", 3),
        (3, "alpha beta gamma " * 10, "en", "webB", 170),
        (4, "delta epsilon " * 8, "en", "webB", 112),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    docs = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "src")
    # batch 0 holds ONLY the zero-token source
    docs.filter("doc_id <= 2").coalesce(1).write.mode("append").parquet(src)
    docs.filter("doc_id > 2").coalesce(1).write.mode("append").parquet(src)
    root = str(tmp_path / "index")
    folded = stream_token_budget(
        spark,
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        root,
        str(tmp_path / "ckpt"),
    )
    want = {tuple(r) for r in sel.token_budget({"documents": docs}).collect()}
    assert {tuple(r) for r in folded.collect()} == want and want
    assert any(r[0] == "emptyA" and r[1] == 0 for r in want)  # 0-row present
    snap0 = spark.read.parquet(os.path.join(root, "batch=0", "alloc")).drop(
        "batch"
    )
    want0 = {
        tuple(r)
        for r in sel.token_budget(
            {"documents": docs.filter("doc_id <= 2")}
        ).collect()
    }
    assert {tuple(r) for r in snap0.collect()} == want0 and want0


def test_stream_mixture_plan_zero_token_source(spark, tmp_path):
    """Mixture-plan face of the zero-token-source contract: the batch
    operator DROPS a zero-token source (its kl diagnostic has no term
    rows, and the decision table inner-joins the three diagnostics), so
    the streaming snapshot must agree — present sources match exactly
    and the zero-token source appears in neither face, at every cut."""
    import os

    from kafka_streams_repartition_spark.operators import selection as sel
    from kafka_streams_repartition_spark.streaming import stream_mixture_plan

    rows = [
        (1, "", "xx", "emptyA", 0),
        (2, "   ", "xx", "emptyA", 3),
        (3, "alpha beta gamma " * 10, "en", "webB", 170),
        (4, "delta epsilon beta " * 8, "en", "webB", 152),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    docs = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "src")
    docs.filter("doc_id <= 2").coalesce(1).write.mode("append").parquet(src)
    docs.filter("doc_id > 2").coalesce(1).write.mode("append").parquet(src)
    root = str(tmp_path / "index")
    folded = stream_mixture_plan(
        spark,
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        root,
        str(tmp_path / "ckpt"),
    )
    want = {tuple(r) for r in sel.mixture_plan({"documents": docs}).collect()}
    got = {tuple(r) for r in folded.collect()}
    assert got == want and want
    assert not any(r[0] == "emptyA" for r in want)  # dropped on BOTH faces
    # batch-0 cut: the only source so far is zero-token → empty table
    # on both faces
    snap0 = spark.read.parquet(os.path.join(root, "batch=0", "plan")).drop(
        "batch"
    )
    want0 = sel.mixture_plan(
        {"documents": docs.filter("doc_id <= 2")}
    ).collect()
    assert snap0.count() == 0 and len(want0) == 0


def test_stream_mixture_plan_every_snapshot_equals_batch(spark, tmp_path):
    """The continuously-maintained mixture decision table equals
    one-shot mixture_plan over exactly the documents ingested so far —
    at EVERY cut (all three diagnostics are global functionals
    recomputed from the one folded vocabulary rollup via the batch
    kernels), and the rollup is pruned to its latest copy."""
    import os

    from kafka_streams_repartition_spark.operators import selection as sel
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import stream_mixture_plan

    t = load_tables(spark, "/root/testdata/sf0.001")
    docs = t["documents"].select("doc_id", "text", "source")
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    src = str(tmp_path / "src")
    first_half = docs.filter(F.col("doc_id") <= cut)
    first_half.coalesce(1).write.mode("append").parquet(src)
    docs.filter(F.col("doc_id") > cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    root = str(tmp_path / "index")
    folded = stream_mixture_plan(
        spark,
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        root,
        str(tmp_path / "ckpt"),
    )
    want = {tuple(r) for r in sel.mixture_plan(t).collect()}
    assert {tuple(r) for r in folded.collect()} == want and want
    snap0 = spark.read.parquet(os.path.join(root, "batch=0", "plan")).drop(
        "batch"
    )
    want0 = {
        tuple(r)
        for r in sel.mixture_plan({"documents": first_half}).collect()
    }
    assert {tuple(r) for r in snap0.collect()} == want0 and want0
    assert not os.path.isdir(os.path.join(root, "batch=0", "counts"))
    assert os.path.isdir(os.path.join(root, "batch=1", "counts"))


def test_latest_committed_dir_numeric_order(tmp_path):
    """batch=10 must beat batch=2 (numeric, not lexicographic), and
    uncommitted dirs past the pointer are ignored."""
    import os

    from kafka_streams_repartition_spark.streaming.snapshot import (
        _latest_committed_dir,
    )

    root = str(tmp_path / "idx")
    for b in (0, 2, 10, 11):  # 11 is uncommitted (past the pointer)
        os.makedirs(os.path.join(root, f"batch={b}", "counts"))
    with open(os.path.join(root, "_CURRENT"), "w") as fh:
        fh.write("10")
    got = _latest_committed_dir(root, "counts")
    assert got == os.path.join(root, "batch=10", "counts")
    assert _latest_committed_dir(root, "missing-sub") is not None  # same dirs
    assert _latest_committed_dir(str(tmp_path / "empty"), "counts") is None
    # a ROOT path containing "batch=" must not confuse the id parse
    # (ids come from each entry's own directory name, never from
    # splitting the full path)
    trap = str(tmp_path / "runs" / "batch=99-replay" / "idx")
    for b in (2, 10):
        os.makedirs(os.path.join(trap, f"batch={b}", "counts"))
    with open(os.path.join(trap, "_CURRENT"), "w") as fh:
        fh.write("10")
    assert _latest_committed_dir(trap, "counts") == os.path.join(
        trap, "batch=10", "counts"
    )


def test_prune_superseded_keeps_pointer_batch(tmp_path):
    """_prune_superseded drops only pre-pointer copies of the named
    sub-table: the pointer's own batch and other sub-tables survive,
    and the call is idempotent."""
    import os

    from kafka_streams_repartition_spark.streaming.snapshot import (
        _latest_committed_dir,
        _prune_superseded,
    )

    root = str(tmp_path / "idx")
    for b in (0, 1, 2):
        os.makedirs(os.path.join(root, f"batch={b}", "counts"))
        os.makedirs(os.path.join(root, f"batch={b}", "kl"))
    with open(os.path.join(root, "_CURRENT"), "w") as fh:
        fh.write("2")
    for _ in range(2):  # idempotent
        _prune_superseded(root, "counts")
        assert not os.path.isdir(os.path.join(root, "batch=0", "counts"))
        assert not os.path.isdir(os.path.join(root, "batch=1", "counts"))
        assert os.path.isdir(os.path.join(root, "batch=2", "counts"))
        # other sub-tables (the snapshot curve) are untouched
        for b in (0, 1, 2):
            assert os.path.isdir(os.path.join(root, f"batch={b}", "kl"))
    assert _latest_committed_dir(root, "counts") == os.path.join(
        root, "batch=2", "counts"
    )


def test_read_committed_before_first_commit_folds_away(spark, tmp_path):
    """Before any commit ``_read_committed`` is an empty relation that
    Catalyst folds: a left join or left-anti join against it, and a
    union with it, optimize to the other side alone (no ``LogicalRDD``
    left in the plan) with the rows unchanged — which is what lets a
    face's step run one code path on batch 0."""
    from kafka_streams_repartition_spark.streaming.snapshot import (
        _read_committed,
    )

    root = str(tmp_path / "idx")
    for latest in (False, True):
        hist = _read_committed(
            spark, root, "counts", "k long, c long", latest=latest
        )
        small = spark.range(4).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        cases = {
            "left": (
                small.join(hist, "k", "left"),
                {(k, 10 * k, None) for k in range(4)},
            ),
            "left_anti": (
                small.join(hist, "k", "left_anti"),
                {(k, 10 * k) for k in range(4)},
            ),
            "union": (
                small.select("k", F.col("v").alias("c")).unionByName(hist),
                {(k, 10 * k) for k in range(4)},
            ),
        }
        for how, (df, want) in cases.items():
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "LogicalRDD" not in plan, (how, plan)
            assert {tuple(r) for r in df.collect()} == want, how


def test_prune_versions_keep_zero_leaves_only_committed(tmp_path):
    """``prune_versions(root, keep=0)`` drops every version dir but the
    committed one (``versions[:-0]`` is empty, so a bare negative slice
    would prune nothing); a ``keep`` past the version count prunes
    nothing."""
    import os

    from kafka_streams_repartition_spark.streaming.snapshot import (
        prune_versions,
    )

    root = str(tmp_path / "snap")
    for v in (0, 1, 2, 3):  # 3 is an orphan past the pointer
        os.makedirs(os.path.join(root, f"version={v}"))
    with open(os.path.join(root, "_CURRENT"), "w") as fh:
        fh.write("2")
    assert prune_versions(root, keep=9) == []
    assert prune_versions(root, keep=0) == [0, 1, 3]
    assert sorted(os.listdir(root)) == ["_CURRENT", "version=2"]


def test_stream_crossmodal_reingested_id_snapshot_equals_batch(
    spark, tmp_path
):
    """A doc_id re-sent in a later micro-batch collides with its OWN
    committed copy in both pair kernels (Jaccard/cosine = 1.0).  The
    round-9 advisor flagged that the self-edge survived into the
    flag/label folds, silently breaking snapshot-equals-batch for that
    input class; both kernels now drop ia == ib on the batch-vs-index
    join.  Topology: batch 0 = {1, 2} (same embedding, an embed pair),
    batch 1 re-sends doc 1 verbatim plus new doc 21 (bridges nothing
    new).  The final snapshot must equal one-shot crossmodal_clusters
    over the DISTINCT corpus {1, 2, 21}."""
    from kafka_streams_repartition_spark.operators import dedup as dd2
    from kafka_streams_repartition_spark.streaming import (
        stream_crossmodal_clusters,
    )

    DIM = 64
    a = [1.0] + [0.0] * (DIM - 1)
    texts = {
        1: "quick brown fox jumps over lazy dog tonight",
        2: "seven silent ships sailed south past storm clouds",
        21: "old libraries keep forgotten maps of vanished roads",
    }
    rows = [(1, texts[1], a), (2, texts[2], a), (21, texts[21], a)]
    schema = "doc_id long, text string, embedding array<double>"
    both = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "src")
    both.filter("doc_id <= 2").coalesce(1).write.mode("append").parquet(src)
    # batch 1: doc 1 RE-INGESTED verbatim + a genuinely new doc
    both.filter("doc_id IN (1, 21)").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    root = str(tmp_path / "index")
    folded = stream_crossmodal_clusters(
        spark,
        spark.readStream.schema(both.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        root,
        str(tmp_path / "ckpt"),
    )
    got = sorted(tuple(r) for r in folded.collect())
    tt = {
        "documents": both.select("doc_id", "text"),
        "embeddings": both.select(
            F.col("doc_id").alias("vec_id"), "embedding"
        ),
    }
    want = sorted(tuple(r) for r in dd2.crossmodal_clusters(tt).collect())
    # exact multiset equality: a surviving self-edge would duplicate
    # rows or flip doc 1's flags, and set-compare would hide the dup
    assert got == want and want
    assert {r[0] for r in want} == {1, 2, 21}


def test_stream_quality_aware_reingested_id_snapshot_equals_batch(
    spark, tmp_path
):
    """Re-ingested doc_id through the quality-aware resolver: the
    committed score table already holds the doc's (per-row-final)
    score, so the second arrival must not append a second score row —
    the snapshot re-derives keepers from ONE row per doc (the advisor's
    round-9 item).  Multiset equality against the one-shot operator
    over the distinct corpus catches both the duplicate score row and
    any self-pair leak through the MinHash kernel."""
    from kafka_streams_repartition_spark.operators import dedup as dd2
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import stream_quality_aware

    t = load_tables(spark, "/root/testdata/sf0.001")
    docs = t["documents"]
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") <= cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    # batch 1: the second half PLUS a re-ingested slice of batch 0
    docs.filter(
        (F.col("doc_id") > cut) | (F.col("doc_id") % 3 == 0)
    ).coalesce(1).write.mode("append").parquet(src)
    root = str(tmp_path / "index")
    folded = stream_quality_aware(
        spark,
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        root,
        str(tmp_path / "ckpt"),
    )
    got = sorted(tuple(r) for r in folded.collect())
    want = sorted(
        tuple(r)
        for r in dd2.dedup_quality_aware({"documents": docs}).collect()
    )
    assert got == want and want
    # exactly one snapshot row per distinct doc in a cluster
    assert len(got) == len({r[0] for r in got})
    # the re-ingested slice really intersects the clustered population
    # (else the duplicate-score path was never exercised)
    assert any(r[0] <= cut and r[0] % 3 == 0 for r in got)


def test_stream_leakage_split_every_snapshot_equals_batch(spark, tmp_path):
    """The streaming train/val leakage audit's snapshot equals one-shot
    leakage_split over exactly the documents ingested so far — at EVERY
    cut: the split side is a pure function of doc_id, each verified
    pair is emitted exactly once (in the batch of its later side), and
    the audit re-derives from the committed pair population, so a
    cross-batch pair that straddles the split retro-appears in the
    eviction counts the moment it verifies."""
    import os

    from kafka_streams_repartition_spark.operators import dedup as dd2
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import stream_leakage_split

    t = load_tables(spark, "/root/testdata/sf0.001")
    docs = t["documents"]
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    src = str(tmp_path / "src")
    first = docs.filter(F.col("doc_id") <= cut)
    first.coalesce(1).write.mode("append").parquet(src)
    docs.filter(F.col("doc_id") > cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    root = str(tmp_path / "index")
    folded = stream_leakage_split(
        spark,
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        root,
        str(tmp_path / "ckpt"),
    )
    [got] = [tuple(r) for r in folded.collect()]
    [want] = [tuple(r) for r in dd2.leakage_split(t).collect()]
    assert got == want
    # the corpus genuinely exercises the audit (pairs exist and some
    # straddle the split, else the test proves nothing)
    assert want[2] > 0 and want[3] > 0  # n_pairs, n_straddle
    snap0 = spark.read.parquet(os.path.join(root, "batch=0", "audit")).drop(
        "batch"
    )
    [got0] = [tuple(r) for r in snap0.collect()]
    [want0] = [
        tuple(r)
        for r in dd2.leakage_split({"documents": first}).collect()
    ]
    assert got0 == want0
    # cumulative counter state pruned; pairs/audits retained per batch
    assert not os.path.isdir(os.path.join(root, "batch=0", "counts"))
    assert os.path.isdir(os.path.join(root, "batch=1", "counts"))
    assert os.path.isdir(os.path.join(root, "batch=0", "pairs"))


def test_stream_decontaminate_every_snapshot_equals_batch(spark, tmp_path):
    """The streaming decontamination scrub's snapshot equals one-shot
    decontaminate over exactly the documents ingested so far — at EVERY
    cut — and the RETRO path is genuinely exercised: an eval doc
    arriving in batch 1 must flag (or raise the count of) a train doc
    committed in batch 0 without rescanning the corpus."""
    import os

    from kafka_streams_repartition_spark.operators import dedup as dd2
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import stream_decontaminate

    t = load_tables(spark, "/root/testdata/sf0.001")
    docs = t["documents"]
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    src = str(tmp_path / "src")
    first = docs.filter(F.col("doc_id") <= cut)
    first.coalesce(1).write.mode("append").parquet(src)
    docs.filter(F.col("doc_id") > cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    root = str(tmp_path / "index")
    folded = stream_decontaminate(
        spark,
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        root,
        str(tmp_path / "ckpt"),
    )
    got = sorted(tuple(r) for r in folded.collect())
    want = sorted(tuple(r) for r in dd2.decontaminate(t).collect())
    assert got == want and want
    snap0 = spark.read.parquet(os.path.join(root, "batch=0", "scrub")).drop(
        "batch"
    )
    got0 = sorted(tuple(r) for r in snap0.collect())
    want0 = sorted(
        tuple(r)
        for r in dd2.decontaminate({"documents": first}).collect()
    )
    assert got0 == want0 and want0
    # retro-flagging really happened: some batch-0 train doc's shared
    # count grew (or appeared) after batch 1's eval arrivals
    final_by_id = {r[0]: r[2] for r in got}
    snap0_by_id = {r[0]: r[2] for r in got0}
    assert any(
        doc_id <= cut and final_by_id[doc_id] > snap0_by_id.get(doc_id, 0)
        for doc_id in final_by_id
    ), "no retroactive contamination across the cut"
    # cumulative count state pruned; gram/egram contributions retained
    assert not os.path.isdir(os.path.join(root, "batch=0", "counts"))
    assert os.path.isdir(os.path.join(root, "batch=1", "counts"))
    assert os.path.isdir(os.path.join(root, "batch=0", "tgrams"))
    assert os.path.isdir(os.path.join(root, "batch=0", "egrams"))


def test_index_planes_pinned_at_creation(tmp_path):
    """The streaming banding width is an index-creation-time property:
    first resolution persists it beside the commit pointer, later
    resolutions read it back, and a conflicting explicit request fails
    LOUDLY (silently rebanding would make every signature length differ
    and no bucket ever collide)."""
    import pytest as _pytest

    from kafka_streams_repartition_spark.operators.dedup import (
        EMBDUP_PLANE_MIN,
    )
    from kafka_streams_repartition_spark.streaming.embindex import (
        _index_planes,
    )

    root = str(tmp_path / "idx")
    import os

    os.makedirs(root, exist_ok=True)
    assert _index_planes(root) == EMBDUP_PLANE_MIN  # default, persisted
    assert _index_planes(root) == EMBDUP_PLANE_MIN  # read back
    assert _index_planes(root, EMBDUP_PLANE_MIN) == EMBDUP_PLANE_MIN
    with _pytest.raises(RuntimeError, match="planes"):
        _index_planes(root, EMBDUP_PLANE_MIN + 2)
    root2 = str(tmp_path / "idx2")
    os.makedirs(root2, exist_ok=True)
    assert _index_planes(root2, 8) == 8  # explicit pin at creation
    assert _index_planes(root2) == 8  # later batches inherit it


def test_stream_span_dedup_every_snapshot_equals_batch_any_order(
    spark, tmp_path
):
    """The streaming span-ownership fold under the WORST arrival
    order — id-DESCENDING halves, so batch 1's smaller ids dethrone
    batch 0's owners and every shared span flips: the folded changelog
    must equal one-shot span_dedup on the corpus so far at every cut,
    and the batch-0 snapshot must equal the one-shot over the late
    half alone (where the late docs were momentarily the owners)."""
    import os

    from kafka_streams_repartition_spark.operators import dedup as dd2
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming import stream_span_dedup

    t = load_tables(spark, "/root/testdata/sf0.001")
    docs = t["documents"]
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    src = str(tmp_path / "src")
    late = docs.filter(F.col("doc_id") > cut)   # batch 0: LARGE ids first
    late.coalesce(1).write.mode("append").parquet(src)
    docs.filter(F.col("doc_id") <= cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    root = str(tmp_path / "index")
    folded = stream_span_dedup(
        spark,
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        root,
        str(tmp_path / "ckpt"),
    )
    got = sorted(tuple(r) for r in folded.collect())
    want = sorted(tuple(r) for r in dd2.span_dedup(t).collect())
    assert got == want and want
    # batch-0 snapshot equals the one-shot over the late half alone
    snap0 = spark.read.parquet(os.path.join(root, "batch=0", "docs")).drop(
        "batch"
    )
    got0 = sorted(tuple(r) for r in snap0.collect())
    want0 = sorted(
        tuple(r) for r in dd2.span_dedup({"documents": late}).collect()
    )
    assert got0 == want0 and want0
    # the dethroning path genuinely ran: some late doc's final stale
    # count EXCEEDS its batch-0 (owner-era) count
    final_by_id = {r[0]: r[2] for r in got}
    snap0_by_id = {r[0]: r[2] for r in got0}
    assert any(
        final_by_id.get(d, 0) > c0 for d, c0 in snap0_by_id.items()
    ), "no cross-batch dethroning happened — weak fixture"


def test_stream_hard_negatives_every_snapshot_equals_batch(spark, tmp_path):
    """The streaming hard-negative miner's snapshot equals one-shot
    hard_negative_mining over exactly the vectors ingested so far — at
    EVERY cut (corpus growth is monotone, so a committed query's
    previous top-k plus the new candidates' scores re-rank to the
    exact cumulative top-k; new queries backfill against the committed
    corpus once) — and superseded neg/qid snapshots are pruned."""
    import os

    from kafka_streams_repartition_spark.operators import similarity as sim
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming.embindex import (
        stream_hard_negatives,
    )

    t = load_tables(spark, "/root/testdata/sf0.001")
    vecs = t["embeddings"].select("vec_id", "embedding", "label")
    cut = vecs.agg(F.expr("percentile(vec_id, 0.5)")).collect()[0][0]
    src = str(tmp_path / "src")
    first_half = vecs.filter(F.col("vec_id") <= cut)
    first_half.coalesce(1).write.mode("append").parquet(src)
    vecs.filter(F.col("vec_id") > cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    root = str(tmp_path / "index")
    cuts: dict[int, set] = {}

    def grab(batch_id: int) -> None:
        # the negs snapshot is cumulative state (pruned when
        # superseded), so each cut is inspected inside the commit hook
        cuts[batch_id] = {
            tuple(r)
            for r in spark.read.parquet(
                os.path.join(root, f"batch={batch_id}", "negs")
            ).collect()
        }

    folded = stream_hard_negatives(
        spark,
        spark.readStream.schema(vecs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        root,
        str(tmp_path / "ckpt"),
        on_batch=grab,
    )
    want = {
        tuple(r) for r in sim.hard_negative_mining(t).collect()
    }
    assert {tuple(r) for r in folded.collect()} == want and want
    want0 = {
        tuple(r)
        for r in sim.hard_negative_mining(
            {"embeddings": first_half}
        ).collect()
    }
    assert cuts[0] == want0 and want0
    assert cuts[1] == want
    assert not os.path.isdir(os.path.join(root, "batch=0", "qids"))
    assert not os.path.isdir(os.path.join(root, "batch=0", "negs"))
    assert os.path.isdir(os.path.join(root, "batch=1", "negs"))
    assert os.path.isdir(os.path.join(root, "batch=0", "vecs"))


def test_stream_hamming_neighbors_every_snapshot_equals_batch(spark, tmp_path):
    """The streaming MIH radius index's snapshot equals one-shot
    hamming_neighbors over exactly the documents ingested so far — at
    EVERY cut, under id-DESCENDING arrival (late batches admit NEW
    lower-id queries that must backfill against the committed code
    table once) and under re-ingestion (a replayed batch changes
    nothing: first arrival's code already carries the verdicts) — and
    superseded pair/qid snapshots are pruned while the append-only
    code contributions stay."""
    import os

    from kafka_streams_repartition_spark.operators import dedup as dd
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming.embindex import (
        stream_hamming_neighbors,
    )

    t = load_tables(spark, "/root/testdata/sf0.001")
    docs = t["documents"].select("doc_id", "text")
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    late = docs.filter(F.col("doc_id") > cut)
    early = docs.filter(F.col("doc_id") <= cut)
    src = str(tmp_path / "src")
    late.coalesce(1).write.mode("append").parquet(src)       # batch 0
    early.coalesce(1).write.mode("append").parquet(src)      # batch 1
    late.coalesce(1).write.mode("append").parquet(src)       # batch 2: re-ingest
    root = str(tmp_path / "index")
    cuts: dict[int, set] = {}

    def grab(batch_id: int) -> None:
        cuts[batch_id] = {
            tuple(r)
            for r in spark.read.parquet(
                os.path.join(root, f"batch={batch_id}", "pairs")
            ).collect()
        }

    folded = stream_hamming_neighbors(
        spark,
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        root,
        str(tmp_path / "ckpt"),
        on_batch=grab,
    )
    want_late = {
        tuple(r) for r in dd.hamming_neighbors({"documents": late}).collect()
    }
    want_full = {
        tuple(r) for r in dd.hamming_neighbors(t).collect()
    }
    assert cuts[0] == want_late and want_late
    assert cuts[1] == want_full and want_full
    assert cuts[2] == want_full  # re-ingest is a no-op
    assert {tuple(r) for r in folded.collect()} == want_full
    assert not os.path.isdir(os.path.join(root, "batch=0", "pairs"))
    assert not os.path.isdir(os.path.join(root, "batch=1", "qids"))
    assert os.path.isdir(os.path.join(root, "batch=2", "pairs"))
    assert os.path.isdir(os.path.join(root, "batch=0", "codes"))
    assert os.path.isdir(os.path.join(root, "batch=1", "codes"))


def test_stream_dedup_inflation_every_snapshot_equals_batch(spark, tmp_path):
    """The streaming inflation dashboard's snapshot equals one-shot
    dedup_inflation over exactly the documents ingested so far — at
    EVERY cut, under id-DESCENDING arrival and under re-ingestion (a
    replayed batch drops against the committed id set) — and
    superseded snapshots prune while the per-batch hstat/id
    contributions stay append-only."""
    import os

    from kafka_streams_repartition_spark.operators import dedup as dd
    from kafka_streams_repartition_spark.sources.tables import load_tables
    from kafka_streams_repartition_spark.streaming.embindex import (
        stream_dedup_inflation,
    )

    t = load_tables(spark, "/root/testdata/sf0.001")
    base = t["documents"].select("doc_id", "text")
    # the sf0.001 fixture has no exact dups — inject verbatim copies
    # under fresh ids (a dup in EACH half plus one spanning the cut)
    copies = base.orderBy("doc_id").limit(6).select(
        (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"), "text"
    )
    docs = base.unionByName(copies)
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    late = docs.filter(F.col("doc_id") > cut)
    early = docs.filter(F.col("doc_id") <= cut)
    src = str(tmp_path / "src")
    late.coalesce(1).write.mode("append").parquet(src)    # batch 0
    early.coalesce(1).write.mode("append").parquet(src)   # batch 1
    late.coalesce(1).write.mode("append").parquet(src)    # batch 2: replay
    root = str(tmp_path / "index")
    cuts: dict[int, tuple] = {}

    def grab(batch_id: int) -> None:
        [row] = spark.read.parquet(
            os.path.join(root, f"batch={batch_id}", "snap")
        ).collect()
        cuts[batch_id] = tuple(row)

    folded = stream_dedup_inflation(
        spark,
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        root,
        str(tmp_path / "ckpt"),
        on_batch=grab,
    )
    [want_late] = dd.dedup_inflation({"documents": late}).collect()
    [want_full] = dd.dedup_inflation({"documents": docs}).collect()
    assert cuts[0] == tuple(want_late)
    assert cuts[1] == tuple(want_full)
    assert cuts[2] == tuple(want_full)  # re-ingest is a no-op
    assert [tuple(r) for r in folded.collect()] == [tuple(want_full)]
    assert want_full["n_dup_docs"] > 0  # the fixture genuinely dedups
    assert not os.path.isdir(os.path.join(root, "batch=0", "snap"))
    assert os.path.isdir(os.path.join(root, "batch=2", "snap"))
    assert os.path.isdir(os.path.join(root, "batch=0", "hstats"))
    assert os.path.isdir(os.path.join(root, "batch=1", "ids"))
