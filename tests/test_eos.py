"""Exactly-once sink semantics (SURVEY §2.10 "Hard 3"): a forced crash
mid-stream followed by a checkpoint restart must produce every input
effect exactly once — the Spark-side answer to the reference's
EXACTLY_ONCE_V2 (``Streams.java:46``, ``Producer.java:110-127``)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafka_streams_repartition_spark.streaming.eos import (
    exactly_once_kafka_sink,
    transactional_dir_sink,
    with_idempotence_key,
)
from kafka_streams_repartition_spark.streaming.snapshot import snapshot_version


@pytest.fixture()
def numbered_files(spark, tmp_path):
    """Four single-file parquet inputs → four micro-batches."""
    src = str(tmp_path / "src")
    for i in range(4):
        spark.range(i * 10, i * 10 + 10).select(
            F.col("id"), (F.col("id") * 2).alias("doubled")
        ).coalesce(1).write.mode("append").parquet(src)
    return src


def _run(spark, src, out_dir, ckpt, sink):
    stream = (
        spark.readStream.schema("id long, doubled long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_restart_replay_no_duplicate_effects(spark, tmp_path, numbered_files):
    """Crash AFTER the batch-1 commit point but BEFORE Spark acks the
    micro-batch: the restart replays batch 1, the sink sees its own
    completed commit and skips — output holds every row exactly once."""
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    real = transactional_dir_sink(out_dir)
    crashed = {"done": False}

    def crashing_sink(batch_df, batch_id):
        real(batch_df, batch_id)  # effect fully committed...
        if batch_id == 1 and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash after commit, before ack")

    with pytest.raises(Exception, match="injected crash"):
        _run(spark, numbered_files, out_dir, ckpt, crashing_sink)
    assert snapshot_version(out_dir) == 1

    # Restart from the same checkpoint: batch 1 is redelivered (its
    # crash prevented Spark's own commit), later batches run fresh.
    _run(spark, numbered_files, out_dir, ckpt, real)

    got = sorted(
        r["id"] for r in spark.read.parquet(os.path.join(out_dir, "batch=*")).collect()
    )
    assert got == list(range(40))  # each input row exactly once
    assert snapshot_version(out_dir) == 3


def test_crash_before_commit_point_redoes_batch(spark, tmp_path, numbered_files):
    """Crash BEFORE the rename commit point: restart redoes the whole
    batch from staging; still exactly once, never a torn directory."""
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    real = transactional_dir_sink(out_dir)
    crashed = {"done": False}

    def crashing_sink(batch_df, batch_id):
        if batch_id == 2 and not crashed["done"]:
            crashed["done"] = True
            # stage the write (the expensive part) then die pre-rename
            staging = os.path.join(out_dir, f".staging-{batch_id}")
            batch_df.write.mode("overwrite").parquet(staging)
            raise RuntimeError("injected crash before commit")
        real(batch_df, batch_id)

    with pytest.raises(Exception, match="injected crash"):
        _run(spark, numbered_files, out_dir, ckpt, crashing_sink)
    assert snapshot_version(out_dir) == 1  # effect NOT visible

    _run(spark, numbered_files, out_dir, ckpt, real)
    got = sorted(
        r["id"] for r in spark.read.parquet(os.path.join(out_dir, "batch=*")).collect()
    )
    assert got == list(range(40))
    assert not any(f.startswith(".staging") for f in os.listdir(out_dir))


def test_crash_between_rename_and_commit_keeps_published_batch(
    spark, tmp_path, numbered_files, monkeypatch
):
    """Crash AFTER ``batch=2`` is renamed into place but BEFORE
    ``_CURRENT`` moves: glob readers may already see that batch, so the
    replay keeps the same files and only commits — no batch a reader
    saw vanishes, and every row lands exactly once."""
    from kafka_streams_repartition_spark.streaming import snapshot

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    commit = snapshot._commit_batch

    def crashing_commit(root, batch_id):
        if batch_id == 2:
            raise RuntimeError("injected crash")
        commit(root, batch_id)

    monkeypatch.setattr(snapshot, "_commit_batch", crashing_commit)
    with pytest.raises(Exception, match="injected crash"):
        _run(spark, numbered_files, out_dir, ckpt, transactional_dir_sink(out_dir))
    assert snapshot_version(out_dir) == 1
    published = os.path.join(out_dir, "batch=2")
    files = sorted(os.listdir(published))

    monkeypatch.setattr(snapshot, "_commit_batch", commit)
    _run(spark, numbered_files, out_dir, ckpt, transactional_dir_sink(out_dir))
    assert sorted(os.listdir(published)) == files  # kept, not rewritten
    got = sorted(
        r["id"] for r in spark.read.parquet(os.path.join(out_dir, "batch=*")).collect()
    )
    assert got == list(range(40))
    assert snapshot_version(out_dir) == 3


def test_recreated_checkpoint_raises_instead_of_skipping(spark, tmp_path):
    """A second query with a fresh checkpoint restarts batch ids at 0.
    Writing it into an output dir that already holds committed batches
    of another query must fail loudly: skipping its batch 0 as a
    "replay" would silently lose its rows."""
    out_dir = str(tmp_path / "out")
    srcs = []
    for name, lo in (("a", 0), ("b", 100)):
        src = str(tmp_path / name)
        spark.range(lo, lo + 10).select(
            F.col("id"), (F.col("id") * 2).alias("doubled")
        ).coalesce(1).write.parquet(src)
        srcs.append(src)

    def drain(src, ck):
        ckpt = str(tmp_path / ck)
        _run(spark, src, out_dir, ckpt, transactional_dir_sink(out_dir))

    drain(srcs[0], "ck1")
    assert snapshot_version(out_dir) == 0
    with pytest.raises(Exception, match="built by streaming query"):
        drain(srcs[1], "ck2")  # fresh checkpoint: batch ids restart at 0
    got = sorted(
        r["id"] for r in spark.read.parquet(os.path.join(out_dir, "batch=*")).collect()
    )
    assert got == list(range(10))  # source A intact, nothing half-written
    assert snapshot_version(out_dir) == 0


def test_idempotence_key_stable_and_lineage_preferring(spark):
    """eos_key must be identical across replays of the same batch, and
    must use (topic, partition, offset) when Kafka lineage exists."""
    plain = spark.createDataFrame(
        [(1, "a"), (2, "b")], "order_id long, sku string"
    )
    k1 = {r["eos_key"] for r in with_idempotence_key(plain, 7).collect()}
    k2 = {r["eos_key"] for r in with_idempotence_key(plain, 7).collect()}
    assert k1 == k2 and len(k1) == 2
    # a different batch id yields different keys for content-hash frames
    k3 = {r["eos_key"] for r in with_idempotence_key(plain, 8).collect()}
    assert k1 != k3

    kafka_shaped = spark.createDataFrame(
        [("t", 0, 5, "x"), ("t", 1, 5, "y")],
        "topic string, partition int, offset long, value string",
    )
    keys = [r["eos_key"] for r in with_idempotence_key(kafka_shaped, 0).collect()]
    assert sorted(keys) == ["t/0/5", "t/1/5"]


def test_kafka_eos_sink_skips_committed_and_builds_headers(
    spark, tmp_path, monkeypatch
):
    """Broker-free gate: the Kafka EOS sink (1) skips a batch whose
    ledger entry exists without touching the producer, and (2) emits
    (key, value, headers[eos_key]) records for a fresh batch."""
    ledger = str(tmp_path / "ledger")
    sink = exactly_once_kafka_sink("broker:9092", "out", "order_id", ledger)
    batch = spark.createDataFrame([(1, "a")], "order_id long, sku string")

    produced = []

    def fake_save(self):
        # capture the frame the writer would send instead of producing
        produced.append(self)

    from pyspark.sql.readwriter import DataFrameWriter

    monkeypatch.setattr(DataFrameWriter, "save", fake_save, raising=True)

    sink(batch, 0)
    assert snapshot_version(ledger) == 0
    assert len(produced) == 1

    sink(batch, 0)  # replay of a committed batch: no produce
    assert len(produced) == 1
