"""The ``query-sweep`` workload: a fixed subset of the registry
(``__spark_entry__.queries()``) over the driver testdata at sf0.01,
each query materialized through the noop sink.

Two untimed passes run first, each collecting every answer and hashing
it against the stored DuckDB-oracle hash.  The first is memo-cold: it
builds the memos.  The second is memo-warm, so a memo hit that returns
a wrong answer fails; it also lets the JIT finish its first wave of
compilation (on a 4-core host the pass after the memo-cold one took
about a half longer than the passes after it).  The timed passes that
follow run memo-warm.  The seed only rotates the starting query.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import time

from . import inputs
from .common import cores, fresh_dir, group_cost, median

HASHES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_hashes.json")

# one warm pass on a 4-core host; --seconds buys whole passes (at least one)
PASS_SECONDS = 10

QUERIES = [
    # reference rows: the pickup topology, and v1 stats merged into v2
    "pickup_order_summary",
    "restore_merge",
    # reads the trained-quantizer memo its own first call stores
    "cluster_purity",
    # a driver-bound text row (19 jobs per call)
    "bm25_search",
]


def _norm(v):
    """Value normal form shared by Spark and DuckDB answers (the sweep's
    answers hold numbers and strings): numbers as floats, as the oracle
    gate's ``==`` equates an integral double with its int; NaN as None."""
    if hasattr(v, "item"):
        v = v.item()  # numpy scalar
    if v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float)):
        return None if math.isnan(v) else repr(float(v))
    raise TypeError(f"unexpected answer value {v!r}")


def answer_hash(pdf) -> str:
    """Order-free hash of a pandas answer: columns by name, rows sorted."""
    cols = sorted(pdf.columns)
    rows = [
        json.dumps([_norm(v) for v in row], sort_keys=True)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    body = json.dumps([cols, sorted(rows)])
    return hashlib.sha256(body.encode()).hexdigest()


class QuerySweep:
    name = "query-sweep"
    shuffle_partitions = None  # one per core

    def __init__(self, spark, workdir: str, seed: int, seconds: int) -> None:
        self.spark = spark
        self.workdir = workdir
        k = seed % len(QUERIES)
        self.order = QUERIES[k:] + QUERIES[:k]
        self.passes = max(1, seconds // PASS_SECONDS)
        self.cores = cores()
        self.hashes: dict[str, dict[str, str]] = {}
        self.inp: dict = {}

    def prepare(self, tag: str) -> dict:
        """A copy of the sf0.01 tables; a traced run re-uses the main one."""
        if tag == "trace":
            return self.inp
        sf_dir = fresh_dir(os.path.join(self.workdir, f"sf-{tag}"))
        rows = inputs.copy_sweep_tables(sf_dir)
        self.inp = {"tag": tag, "sf_dir": sf_dir, "rows": rows}
        return self.inp

    def _answers(self) -> dict[str, str]:
        """Each query's collected answer hashed, in sweep order."""
        import __spark_entry__ as entrymod

        queries = entrymod.queries()
        hashes = {}
        for name in self.order:
            try:
                hashes[name] = answer_hash(
                    queries[name](self.spark, self.inp["sf_dir"]).toPandas()
                )
            except Exception as exc:  # noqa: BLE001 — a failed op, counted
                hashes[name] = f"error: {type(exc).__name__}: {exc}"[:300]
        return hashes

    def warm_up(self, tracer) -> None:
        """The two untimed passes over the main dataset, memo-cold then
        memo-warm, each answer hashed for the check."""
        t0 = time.perf_counter()
        self.hashes = {"cold": self._answers()}
        self.cold_pass_s = time.perf_counter() - t0
        self.hashes["warm"] = self._answers()

    def window(self, inp: dict, tracer) -> dict:
        """``self.passes`` memo-warm passes through the noop sink."""
        import __spark_entry__ as entrymod

        from kafka_streams_repartition_spark.functions.caching import memo_counters

        queries = entrymod.queries()
        sc = self.spark.sparkContext
        wall: dict[str, list[float]] = {q: [] for q in self.order}
        cost: dict[str, dict] = {}
        memo: dict[str, list[int]] = {q: [0, 0] for q in self.order}
        errors = 0
        passes = self.passes
        t0 = time.perf_counter()
        for p in range(passes):
            for name in self.order:
                group = f"sweep-{inp['tag']}-{p}-{name}"
                if tracer.enabled:
                    sc.setJobGroup(group, name)
                h0, m0 = memo_counters()
                q0 = time.perf_counter()
                with tracer.span(f"operators.{name}", group=group):
                    try:
                        queries[name](self.spark, inp["sf_dir"]).write.mode(
                            "overwrite").format("noop").save()
                    except Exception:  # noqa: BLE001 — a failed op, counted
                        errors += 1
                wall[name].append(time.perf_counter() - q0)
                h1, m1 = memo_counters()
                memo[name][0] += h1 - h0
                memo[name][1] += m1 - m0
                if tracer.enabled:
                    c = group_cost(self.spark, group)
                    acc = cost.setdefault(name, {k: 0.0 for k in c})
                    for k, v in c.items():
                        acc[k] += v / passes
        window_s = time.perf_counter() - t0
        if tracer.enabled:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return {"window_s": window_s, "wall": wall, "cost": cost, "memo": memo,
                "errors": errors, "executions": passes * len(self.order)}

    def check(self, inp: dict, out: dict, tracer) -> tuple[int, int]:
        """(attempted, failed): every timed execution (failed if it
        raised), and every query's memo-cold and memo-warm answers of the
        warm-up, each against its oracle hash."""
        with open(HASHES) as fh:
            want = json.load(fh)
        wrong = sum(answers[q] != want[q] for answers in self.hashes.values() for q in self.order)
        return out["executions"] + 2 * len(self.order), out["errors"] + wrong

    def metrics(self, out: dict, inp: dict, traced: bool) -> dict:
        samples = [s for v in out["wall"].values() for s in v]
        m = {
            "throughput_per_s": out["executions"] / out["window_s"],
            "latency_p50_ms": 1000 * median(samples),
        }
        if not traced:
            return m
        m["operators.cold_pass_s"] = self.cold_pass_s
        for name in self.order:
            wall_ms = 1000 * median(out["wall"][name])
            c = out["cost"].get(name, {})
            pre = f"operators.{name}"
            m.update({
                f"{pre}.wall_ms_p50": wall_ms,
                f"{pre}.jobs": c.get("jobs", 0),
                f"{pre}.stages": c.get("stages", 0),
                f"{pre}.executor_ms": c.get("executor_ms", 0),
                f"{pre}.driver_ms": max(0.0, wall_ms - c.get("executor_ms", 0) / self.cores),
                f"{pre}.shuffle_mb": c.get("shuffle_mb", 0),
                f"functions.{name}.memo_hits": out["memo"][name][0],
                f"functions.{name}.memo_misses": out["memo"][name][1],
            })
        return m
