"""The ``orders-repartition`` workload: the reference's stateful order
app moving from 4 to 8 shuffle partitions and catching up through a
state restore (``BuildSystem.java:39-40``), as a backlog drain.

- v1 leg: at 4 partitions, the first half of the backlog drains through
  ``stream_pickup_orders`` and ``stream_product_stats``;
- restore leg: the v1 stats replay through ``v1_typed_to_records`` →
  ``migrate_v1_stream`` into an 8-partition checkpoint;
- v2 leg: at 8 partitions, the second half drains into fresh
  checkpoints.

Every drain is ``availableNow`` over one parquet file per micro-batch.
The backlog is FIXTURES.md §A.4's 10,000 orders, half per leg (§A.6),
in ``FILES_PER_LEG`` files per leg.  A warm-up catch-up over one
smaller file per leg, with inputs and checkpoints of its own, runs
before the timed window: it starts every query, Python worker and code
path the window uses.  The window is ``rounds`` whole catch-ups, each
on a fresh backlog and fresh checkpoints.

With ``--trace 1`` the curation layer is measured too, after the traced
window: the sf0.01 documents drain through ``stream_corpus_curation``
and its accepted set is checked against ``corpus_curation``.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter

from . import inputs
from .common import fresh_dir, median, next_job_id

FILES_PER_LEG = 2
ORDERS_PER_FILE = inputs.BACKLOG_ORDERS // 2 // FILES_PER_LEG
WARM_ORDERS_PER_FILE = ORDERS_PER_FILE // 5
# one catch-up's window on a 4-core host; --seconds buys whole rounds
# (at least one)
ROUND_SECONDS = 20
CURATE_FILES = 3
STREAMS = ("pickup", "product_stats", "migrate")


class BatchLog:
    """Per-micro-batch progress of every drain in a window."""

    def __init__(self) -> None:
        self.by_stream: dict[str, list] = {s: [] for s in STREAMS}

    def durations(self, key: str, *streams: str) -> list[float]:
        return [
            float(p.durationMs.get(key, 0))
            for s in (streams or STREAMS) for p in self.by_stream[s]
        ]

    def overhead(self) -> list[float]:
        """Micro-batch bookkeeping: trigger time not spent in addBatch."""
        return [
            float(p.durationMs["triggerExecution"]) - float(p.durationMs.get("addBatch", 0))
            for s in STREAMS for p in self.by_stream[s]
        ]


def drain(df, name: str, ckpt: str, tracer) -> list:
    """Run ``df`` to completion with ``availableNow`` into the update-mode
    memory sink ``name``; returns the progress of batches that read input."""
    with tracer.span(f"drain.{name}"):
        q = (
            df.writeStream.format("memory").queryName(name).outputMode("update")
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        )
        q.awaitTermination()
    return [p for p in q.recentProgress if p.numInputRows > 0]


def last_per_key(rows, key: str) -> dict:
    """Fold an update-mode memory sink (rows in emission order)."""
    return {r[key]: r for r in rows}


def as_json(df) -> Counter:
    from pyspark.sql import functions as F

    return Counter(r[0] for r in df.select(F.to_json(F.struct(*df.columns))).collect())


class OrdersRepartition:
    name = "orders-repartition"
    shuffle_partitions = 4

    def __init__(self, spark, workdir: str, seed: int, seconds: int) -> None:
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.rounds = max(1, seconds // ROUND_SECONDS)

    def prepare(self, tag: str) -> dict:
        """Dimensions, then one backlog per round (the warm-up: one round
        of one file per leg), tick ranges disjoint per tag, round and
        seed."""
        n_files, rounds, per_file = (
            (1, 1, WARM_ORDERS_PER_FILE) if tag == "warm"
            else (FILES_PER_LEG, self.rounds, ORDERS_PER_FILE)
        )
        dims = inputs.write_dimensions(os.path.join(self.workdir, f"dims-{tag}"), self.seed)
        slot = {"warm": 0, "main": 1, "trace": 2}[tag]
        root = fresh_dir(os.path.join(self.workdir, f"in-{tag}"))
        backlogs, rows = [], inputs.N_USERS + inputs.N_STORES + inputs.N_PRODUCTS
        for r in range(rounds):
            schema, tables = inputs.backlog_tables(
                self.spark, ((self.seed * 3 + slot) * 64 + r) * 10_000_000,
                2 * n_files, per_file,
            )
            legs = {}
            for leg, part in (("v1", tables[:n_files]), ("v2", tables[n_files:])):
                legs[leg] = os.path.join(root, f"r{r}", leg)
                inputs.write_files(part, legs[leg])
            backlogs.append({"name": f"{tag}{r}", "legs": legs})
            rows += sum(t.num_rows for t in tables)
        return {
            "tag": tag, "schema": schema, "dims": dims, "backlogs": backlogs,
            "n_files": 2 * n_files, "orders": rounds * 2 * n_files * per_file,
            "rows": rows,
        }

    def warm_up(self, tracer) -> None:
        self.window(self.prepare("warm"), tracer)

    def _dims(self, inp: dict):
        return {k: self.spark.read.parquet(v) for k, v in inp["dims"].items()}

    def _read(self, inp: dict, backlog: dict, leg: str):
        return self.spark.read.schema(inp["schema"]).parquet(backlog["legs"][leg])

    def window(self, inp: dict, tracer) -> dict:
        """One catch-up per backlog, each on fresh checkpoints."""
        out = {"log": BatchLog(), "batches": {}, "parts": Counter()}
        t0 = time.perf_counter()
        for backlog in inp["backlogs"]:
            self._catch_up(inp, backlog, out, tracer)
        out["window_s"] = time.perf_counter() - t0
        return out

    def _catch_up(self, inp: dict, backlog: dict, out: dict, tracer) -> None:
        """v1 leg at 4 partitions → restore into 8-partition state → v2
        leg at 8 partitions."""
        from kafka_streams_repartition_spark.operators.product_stats import (
            product_stats_v1_typed,
        )
        from kafka_streams_repartition_spark.sources.fixtures import orders_as_lineitems
        from kafka_streams_repartition_spark.streaming import (
            migrate_v1_stream,
            stream_pickup_orders,
            stream_product_stats,
        )
        from kafka_streams_repartition_spark.streaming.state import v1_typed_to_records

        spark, name = self.spark, backlog["name"]
        dims = self._dims(inp)
        ck = fresh_dir(os.path.join(self.workdir, f"ckpt-{name}"))
        log = out["log"]
        counts = out["batches"].setdefault(name, Counter())

        def stream(leg: str):
            return (
                spark.readStream.schema(inp["schema"]).option("maxFilesPerTrigger", 1)
                .parquet(backlog["legs"][leg])
            )

        def run(kind: str, df, query: str, ckpt: str) -> None:
            progress = drain(df, query, ckpt, tracer)
            log.by_stream[kind] += progress
            counts[kind] += len(progress)

        def leg_drains(leg: str, parts: int) -> None:
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            l0 = time.perf_counter()
            with tracer.span(f"leg.{leg}", partitions=parts):
                run("pickup",
                    stream_pickup_orders(stream(leg), dims["users"], dims["stores"], dims["products"]),
                    f"pickup_{leg}_{name}", os.path.join(ck, f"pickup-{leg}"))
                run("product_stats",
                    stream_product_stats(orders_as_lineitems(stream(leg), dims["products"])),
                    f"stats_{leg}_{name}", os.path.join(ck, f"stats-{leg}"))
            out["parts"][f"{leg}_s"] += time.perf_counter() - l0

        leg_drains("v1", 4)
        with tracer.span("restore.migrate", partitions=8):
            r0 = time.perf_counter()
            spark.conf.set("spark.sql.shuffle.partitions", "8")
            rec = v1_typed_to_records(product_stats_v1_typed(
                orders_as_lineitems(self._read(inp, backlog, "v1"), dims["products"])
            ))
            rec_dir = os.path.join(ck, "v1-records")
            rec.write.parquet(rec_dir)
            run("migrate", migrate_v1_stream(spark.readStream.schema(rec.schema).parquet(rec_dir)),
                f"migrate_{name}", os.path.join(ck, "migrate"))
            out["parts"]["restore_s"] += time.perf_counter() - r0
        leg_drains("v2", 8)
        spark.conf.set("spark.sql.shuffle.partitions", str(self.shuffle_partitions))

    def check(self, inp: dict, out: dict, tracer) -> tuple[int, int]:
        """(attempted, failed) over output records of every catch-up:
        pickup orders against the batch topology, streamed stats and
        migrated state against the typed v1/v2 stats, the v1→v2 merge
        against v2 stats over the whole backlog, and one micro-batch per
        input file per stream."""
        attempted = failed = 0
        with tracer.span("check"):
            for backlog in inp["backlogs"]:
                a, f = self._check_catch_up(inp, backlog, out["batches"][backlog["name"]])
                attempted, failed = attempted + a, failed + f
        return attempted, failed

    def _check_catch_up(self, inp: dict, backlog: dict, counts: Counter) -> tuple[int, int]:
        from pyspark.sql import functions as F

        from kafka_streams_repartition_spark.operators.pickup_order import enrich_pickup_orders
        from kafka_streams_repartition_spark.operators.product_stats import (
            order_ids_to_string,
            product_stats_v1_typed,
            product_stats_v2_typed,
            stores_map_to_string,
        )
        from kafka_streams_repartition_spark.operators.restore import merge_v1_into_v2
        from kafka_streams_repartition_spark.sources.fixtures import orders_as_lineitems

        spark, name = self.spark, backlog["name"]
        dims = self._dims(inp)
        attempted = failed = 0

        def tally(got: Counter, want: Counter) -> None:
            nonlocal attempted, failed
            attempted += sum(want.values())
            failed += sum(((got - want) + (want - got)).values())

        for s in ("pickup", "product_stats"):
            attempted += 1
            failed += counts[s] != inp["n_files"]
        read = {leg: self._read(inp, backlog, leg) for leg in ("v1", "v2")}
        tally(
            as_json(spark.table(f"pickup_v1_{name}").unionByName(spark.table(f"pickup_v2_{name}"))),
            as_json(enrich_pickup_orders(read["v1"].unionByName(read["v2"]),
                                         dims["users"], dims["stores"], dims["products"])),
        )

        li = {leg: orders_as_lineitems(df, dims["products"]) for leg, df in read.items()}
        # each typed side is both collected and merged: computed once
        v1 = product_stats_v1_typed(li["v1"]).localCheckpoint()
        v2 = product_stats_v2_typed(li["v2"]).localCheckpoint()
        v1_rows = v1.collect()

        def topline(sku, orders, quantity, ids):
            return json.dumps([str(sku), int(orders), round(float(quantity), 6),
                               sorted(str(x) for x in ids)])

        for leg, typed in (("v1", v1_rows), ("v2", v2.collect())):
            streamed = last_per_key(spark.table(f"stats_{leg}_{name}").collect(), "l_partkey")
            tally(
                Counter(topline(k, r["orders"], r["quantity"], r["order_ids"])
                        for k, r in streamed.items()),
                Counter(topline(r["sku"], r["orders"], r["quantity"], r["order_ids"])
                        for r in typed),
            )
        # the migrated 8-partition state equals the v1 stats
        migrated = last_per_key(spark.table(f"migrate_{name}").collect(), "sku")
        tally(
            Counter(
                json.dumps([topline(k, r["orders"], r["quantity"], json.loads(r["order_ids_json"])),
                            json.loads(r["store_entries_json"])], sort_keys=True)
                for k, r in migrated.items()
            ),
            Counter(
                json.dumps([topline(r["sku"], r["orders"], r["quantity"], r["order_ids"]),
                            {str(e["store_id"]): float(e["quantity"]) for e in r["quantity_by_store"]}],
                           sort_keys=True)
                for r in v1_rows
            ),
        )

        def canon(df):
            return df.select(
                "sku",
                F.col("orders").cast("long"),
                F.round("quantity", 2).alias("quantity"),
                stores_map_to_string(F.col("quantity_by_store")).alias("stores"),
                order_ids_to_string(F.col("order_ids")).alias("ids"),
            )

        tally(
            as_json(canon(merge_v1_into_v2(v1, v2))),
            as_json(canon(product_stats_v2_typed(li["v1"].unionByName(li["v2"])))),
        )
        return attempted, failed

    def curate(self, tracer) -> tuple[dict, int, int]:
        """The curation layer, traced runs only: the sf0.01 documents,
        in id order and cut into ``CURATE_FILES`` files at seeded
        points, drain through ``stream_corpus_curation``.  Returns its
        layer metrics and (attempted, failed): each accepted or missing
        document against ``corpus_curation`` over the same documents,
        and one micro-batch per file."""
        from kafka_streams_repartition_spark.operators.text_analysis import corpus_curation
        from kafka_streams_repartition_spark.streaming import stream_corpus_curation

        spark = self.spark
        root = fresh_dir(os.path.join(self.workdir, "curate"))
        src, index = os.path.join(root, "in"), os.path.join(root, "index")
        paths, offered = inputs.document_files(src, self.seed, CURATE_FILES)
        marks = [next_job_id(spark)]
        with tracer.span("drain.curate", files=len(paths)):
            curated = stream_corpus_curation(
                spark,
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1).parquet(src),
                index, os.path.join(root, "ckpt"),
                on_batch=lambda _: marks.append(next_job_id(spark)),
            )
        with tracer.span("check.curate"):
            def key(r) -> str:
                return json.dumps([r["doc_id"], r["n_tokens"], r["quality_score"]])

            got = Counter(key(r) for r in curated.collect())
            want = Counter(key(r) for r in corpus_curation({"documents": spark.read.parquet(src)}).collect())
        index_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(index) if "accepted" not in d for f in files
        )
        metrics = {
            "streaming.curate.jobs_per_batch": median([b - a for a, b in zip(marks, marks[1:])]),
            "streaming.curate.index_mb": index_bytes / 1e6,
            "streaming.curate.accept_ratio": sum(got.values()) / offered,
        }
        attempted = sum(want.values()) + 1
        failed = sum(((got - want) + (want - got)).values()) + (len(marks) - 1 != len(paths))
        return metrics, attempted, failed

    def metrics(self, out: dict, inp: dict, traced: bool) -> dict:
        log = out["log"]
        m = {
            "throughput_per_s": inp["orders"] / out["window_s"],
            "latency_p50_ms": median(log.durations("triggerExecution", "pickup")),
        }
        if not traced:
            return m
        last_state = [s for st in STREAMS for p in log.by_stream[st][-1:] for s in p.stateOperators]
        m.update({
            "streaming.batches": len(log.by_stream["pickup"]),
            "streaming.add_batch_ms_p50": median(log.durations("addBatch")),
            "streaming.overhead_ms_p50": median(log.overhead()),
            "streaming.query_planning_ms_p50": median(log.durations("queryPlanning")),
            "streaming.wal_commit_ms_p50": median(log.durations("walCommit")),
            "streaming.commit_offsets_ms_p50": median(log.durations("commitOffsets")),
            "streaming.latest_offset_ms_p50": median(log.durations("latestOffset")),
            "streaming.state_rows_total": sum(s.numRowsTotal for s in last_state),
            "streaming.state_memory_mb": sum(s.memoryUsedBytes for s in last_state) / 1e6,
            "streaming.state_commit_ms_p50": median([
                float(s.commitTimeMs) for st in STREAMS for p in log.by_stream[st]
                for s in p.stateOperators
            ]),
            "streaming.trigger_ms_p50": median(log.durations("triggerExecution")),
            "streaming.product_stats.trigger_ms_p50": median(
                log.durations("triggerExecution", "product_stats")
            ),
            "restore.migrate_s": out["parts"]["restore_s"],
            "restore.records": sum(p.numInputRows for p in log.by_stream["migrate"]),
        })
        return m
