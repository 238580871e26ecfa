#!/usr/bin/env python
"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

stdout contract — TWO JSON lines (consumers parse line-by-line, not the
whole capture):

  1. the full result object
     {"metric": "total_runtime", "value": N, "unit": "sec",
      "queries": {"q": sec, ...}, "sf": 0.1, ...}
  2. a compact tail-safe summary (same headline fields, no per-query
     dict) — guaranteed to fit a ~2 KB stdout tail-capture window, with
     "queries_in" pointing at the durable bench_results.json artifact.

Per-query timing is the MEDIAN of N repeats (default 3): round 4 showed
best-of-2 can immortalize one lucky run (the committed r3 artifact read
~4x faster than every reproduction).  The artifact also records
os.getloadavg() at start/end so a loaded machine is visible in the
numbers it produced.

Each query is fully materialized through the noop sink (forces every
column to compute — a bare count() would let Catalyst prune the work).

Environment: SPARK_GRAFT_SF_DIR (input dir), SPARK_GRAFT_BENCH_ONLY
(comma-separated subset of queries), SPARK_GRAFT_BENCH_OUT (artifact
path, default bench_results.json) and SPARK_GRAFT_BENCH_REPEATS.
:func:`run_bench` runs one such bench in a fresh process; the
protocols in tools/ call it.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import subprocess
import sys
import time

import __spark_entry__ as entrymod
from kafka_streams_repartition_spark.session import get_spark

REPO = os.path.dirname(os.path.abspath(__file__))


def load_flag(loadavg_1m: float, cores: int) -> str:
    """'idle' or 'loaded': a 1-minute loadavg above ~1.5 per 8 cores
    means other work is competing for the CPUs and every timing in this
    run is inflated by roughly the contention factor (round 5: a
    loadavg-2.58 driver re-run read a uniform ~1.28x over the
    committed idle artifact).  The flag travels IN the artifact so a
    loaded run can never silently become the round's number."""
    return "loaded" if loadavg_1m > 1.5 * (cores / 8) else "idle"


def _proc_stat_busy_jiffies() -> int | None:
    """Host-wide USER+NICE jiffies.  User time only, deliberately:
    system time includes kernel worker threads (pagecache writeback,
    block I/O) that OUR OWN disk-heavy queries drive but that no
    process-tree walk can attribute (kworkers hang off kthreadd) —
    measured: the DISK_ONLY checkpoint ladder of crossmodal_clusters
    read as 4.4 "external" cores of pure kworker time on an idle box.
    A genuinely competing process burns user time, which this sees."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(x) for x in parts[1:]]
        return vals[0] + vals[1]
    except Exception:
        return None


def _own_tree_jiffies() -> int | None:
    """utime of this process and every live descendant (the
    py4j-launched JVM and its python workers) plus reaped-child user
    time (cutime) — the run's OWN USER CPU, to subtract from the host
    user delta.  Live descendants are found by one ppid-closure walk."""
    try:
        me = os.getpid()
        stats: dict[int, tuple[int, int]] = {}  # pid -> (ppid, own+reaped)
        for ent in os.listdir("/proc"):
            if not ent.isdigit():
                continue
            try:
                with open(f"/proc/{ent}/stat") as fh:
                    raw = fh.read()
            except (OSError, ValueError):
                continue  # died mid-walk: its time folds into cutime later
            # field 2 (comm) may contain spaces/parens: split after ')';
            # a process dying mid-read can hand back a truncated line —
            # skip it (its time folds into its parent's cutime)
            try:
                rest = raw[raw.rindex(")") + 2:].split()
                ppid = int(rest[1])
                cpu = int(rest[11]) + int(rest[13])  # utime + cutime
            except (ValueError, IndexError):
                continue
            stats[int(ent)] = (ppid, cpu)
        tree = {me}
        grew = True
        while grew:
            grew = False
            for pid, (ppid, _) in stats.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        return sum(cpu for pid, (_, cpu) in stats.items() if pid in tree)
    except Exception:
        return None


def external_busy_cores(
    host0: int | None, own0: int | None,
    host1: int | None, own1: int | None,
    elapsed_s: float,
) -> float | None:
    """Average number of cores OTHER work kept busy (user time) during
    the run: (host user delta − our tree's user delta) / elapsed.  Unlike
    end-of-run loadavg — which the bench's own 32-thread bursts push to
    6-8 even on an idle box (r9's idle artifact ended at 7.65) — this
    subtracts our own work, so it separates a genuinely idle machine
    from the r10 failure mode: a load transient inflated 8 queries up
    to 9.7× while the artifact still said "idle" because only the
    start-of-run 1-minute loadavg was consulted."""
    if None in (host0, own0, host1, own1) or elapsed_s <= 0:
        return None
    hz = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
    return max(0.0, ((host1 - host0) - (own1 - own0)) / (elapsed_s * hz))


# >2 cores of sustained external work (or cores/16 on bigger boxes) =
# someone else is measurably on the machine; r10's tainted run would
# have carried ~5-6 here
EXTERNAL_CORES_LIMIT = 2.0


# --- per-repeat process-state instrumentation (round 13) --------------------
# The r12 judge found the official sweep disagreeing with a same-code
# same-order idle close-out by 10x on single queries, and one query's
# repeats rising monotonically 8.9->30.3s within a sweep.  Ordering
# cannot explain same-order spread, so the artifact now RECORDS the
# process state that can: block-manager storage memory, the block
# manager's on-disk bytes (spill + DISK_ONLY + checkpoint blocks), and
# shared-frame memo traffic, sampled after every repeat.  A sweep whose
# repeats disagree >1.5x on any >1s query flags itself unstable the
# same way external_busy_cores already flags load.


def _storage_bytes(spark) -> int | None:
    """Block-manager storage memory in use (bytes) — localCheckpoint
    and cache() blocks awaiting ContextCleaner show up here."""
    try:
        env = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()
        return int(env.memoryManager().storageMemoryUsed())
    except Exception:
        return None


def _disk_dirs(spark) -> list[str]:
    try:
        env = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()
        dirs = env.blockManager().diskBlockManager().localDirs()
        return [d.getAbsolutePath() for d in dirs]
    except Exception:
        return []


def _disk_bytes(dirs: list[str]) -> int | None:
    """On-disk bytes under the block manager's own local dirs — exact
    attribution (no other process writes there), catches spill/
    DISK_ONLY growth that storage memory alone misses."""
    if not dirs:
        return None
    total = 0
    for d in dirs:
        for root, _, files in os.walk(d, onerror=lambda e: None):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total


def _jvm_gc_ms(spark) -> int | None:
    """Cumulative JVM GC time (ms) across all collectors — per-repeat
    DELTAS separate 'the query got slower' from 'a stop-the-world GC
    landed inside the timed region' (the remaining suspect for flat-
    storage repeat spikes like r13-baseline minhash_band_tuning
    1.4s→14.1s with identical storage/disk/memo state)."""
    try:
        beans = (
            spark.sparkContext._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        total = 0
        it = beans.iterator()
        while it.hasNext():
            total += it.next().getCollectionTime()
        return int(total)
    except Exception:
        return None


def _codegen_compiles(spark) -> int | None:
    """Cumulative Janino compiles of generated classes in this JVM — a
    per-repeat delta names the query that paid for codegen (a warm
    repeat whose classes are all in the session's codegen cache reads
    about 0)."""
    try:
        return int(
            spark.sparkContext._jvm.org.apache.spark.metrics.source
            .CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
        )
    except Exception:
        return None


def _meminfo() -> dict[str, int] | None:
    """MemAvailable/Cached/Dirty (kB): /tmp is where the block manager
    lives, so host page-cache pressure is the remaining suspect for
    same-code run-to-run spread — record it instead of guessing."""
    try:
        out = {}
        with open("/proc/meminfo") as fh:
            for line in fh:
                k, v = line.split(":", 1)
                if k in ("MemAvailable", "Cached", "Dirty"):
                    out[k] = int(v.split()[0])
        return out
    except Exception:
        return None


# repeats disagreeing by more than this on a >=1s query mark the sweep
# unstable (the r12 pathology: 8.9/13.0/30.3 in one official sweep)
REPEAT_SPREAD_LIMIT = 1.5
REPEAT_SPREAD_FLOOR_S = 1.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    base = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1"
    try:
        sf: float | str = float(base)
    except ValueError:  # probe dirs like sf10_text_raw: keep the label
        sf = base
    spark = get_spark("bench")

    # Warm the JVM + parquet footers once so timings measure the queries.
    entrymod.entry(spark).count()

    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    # subset mode for scale probes: run only the named queries
    only_env = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    only = set(only_env.split(",")) if only_env else None
    load_start = os.getloadavg()
    cores = os.cpu_count() or 8
    # start loadavg is a WARNING only — back-to-back bench legs leave
    # the previous leg's own load undecayed in the 1/5-minute averages,
    # so it cannot be the flag; the flag comes from the external-CPU
    # measurement below (own work subtracted), falling back to this
    # heuristic only when /proc is unreadable
    start_warn = load_flag(max(load_start[0], load_start[1]), cores)
    if start_warn == "loaded":
        print(
            f"# WARNING: loadavg is high at bench start "
            f"({load_start[0]:.2f}/{load_start[1]:.2f} on {cores} cores > "
            f"{1.5 * cores / 8:.1f}) — a previous run's decay or real "
            "contention; the external-CPU measure decides the flag",
            file=sys.stderr,
        )
    host0, own0 = _proc_stat_busy_jiffies(), _own_tree_jiffies()
    run_t0 = time.perf_counter()
    timings: dict[str, float] = {}
    raw_samples: dict[str, list[float]] = {}
    state_track: dict[str, dict] = {}
    errors: dict[str, str] = {}
    mem_start = _meminfo()
    disk_dirs = _disk_dirs(spark)
    from kafka_streams_repartition_spark.functions.caching import (
        memo_counters,
    )

    # per-QUERY JVM GC hygiene (outside every timed region): each
    # repeat's lazy localCheckpoint blocks are only reclaimable after
    # their Python frames die AND the JVM GCs AND ContextCleaner drains
    # — three async stages whose backlog across 200+ queries is storage
    # pressure late queries pay for.  One System.gc() per query bounds
    # the backlog to a single query's worth.
    for name, fn in entrymod.queries().items():
        if only is not None and name not in only:
            continue
        # Fault-isolated: one broken query records an error and moves on
        # instead of zeroing the whole artifact (round-2 failure mode:
        # the harness died at query 6 and emitted nothing).
        samples: list[float] = []
        rep_storage: list[int | None] = []
        rep_disk: list[int | None] = []
        rep_gc: list[int | None] = []
        rep_cc: list[int | None] = []
        memo0 = memo_counters()
        try:
            # median-of-N: robust to one lucky/unlucky run in either
            # direction (best-of-N let a single outlier set the record).
            for _ in range(repeats):
                gc0, cc0 = _jvm_gc_ms(spark), _codegen_compiles(spark)
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                samples.append(time.perf_counter() - t0)
                gc1, cc1 = _jvm_gc_ms(spark), _codegen_compiles(spark)
                rep_gc.append(
                    None if None in (gc0, gc1) else gc1 - gc0
                )
                rep_cc.append(None if None in (cc0, cc1) else cc1 - cc0)
                # drop THIS repeat's Python frames before the next one:
                # without it repeats accumulate `repeats` copies of
                # every scratch checkpoint (the r12 monotone-rise
                # pathology's raw material); runs outside the timer
                gc.collect()
                rep_storage.append(_storage_bytes(spark))
                rep_disk.append(_disk_bytes(disk_dirs))
        except Exception as exc:  # noqa: BLE001 — record and continue
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"# {name}: ERROR {errors[name][:120]}", file=sys.stderr)
            continue
        timings[name] = round(statistics.median(samples), 3)
        raw_samples[name] = [round(s, 3) for s in samples]
        memo1 = memo_counters()
        state_track[name] = {
            "storage_mb": [
                None if b is None else round(b / 1e6, 1) for b in rep_storage
            ],
            "blockmgr_disk_mb": [
                None if b is None else round(b / 1e6, 1) for b in rep_disk
            ],
            "memo_hits": memo1[0] - memo0[0],
            "memo_misses": memo1[1] - memo0[1],
            # in-region JVM GC ms per repeat (None if JMX unreadable)
            "gc_ms": rep_gc,
            # generated classes compiled per repeat (None if unreadable)
            "codegen_compiles": rep_cc,
        }
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        gc.collect()

    total = round(sum(timings.values()), 3)
    ext_cores = external_busy_cores(
        host0, own0,
        _proc_stat_busy_jiffies(), _own_tree_jiffies(),
        time.perf_counter() - run_t0,
    )
    ext_limit = max(EXTERNAL_CORES_LIMIT, cores / 16)
    if ext_cores is not None:
        # measured ground truth: non-bench CPU during the run
        flag = "loaded" if ext_cores > ext_limit else "idle"
    else:
        flag = start_warn  # /proc unreadable: loadavg heuristic
    if flag == "loaded" and ext_cores is not None:
        print(
            f"# WARNING: OTHER work kept ~{ext_cores:.1f} cores busy "
            f"during this run (> {ext_limit:.1f}); timings are "
            "contention-inflated — prefer an idle re-run",
            file=sys.stderr,
        )
    # self-flag repeat instability (the r12 judge ask): a query whose
    # own repeats disagree >1.5x cannot be trusted as a gate number —
    # name it in the artifact instead of letting the median launder it
    # the first repeat is expectedly cold (scan/JIT warmup) — judge the
    # WARM repeats against each other; a warm spread >1.5x is state the
    # median launders (the r12 rise was across warm repeats: 13->30s)
    unstable = {}
    for n, s in raw_samples.items():
        warm = s[1:] if len(s) >= 3 else s
        if (
            max(warm) >= REPEAT_SPREAD_FLOOR_S
            and min(warm) > 0
            and max(warm) / min(warm) > REPEAT_SPREAD_LIMIT
        ):
            unstable[n] = s
    if unstable:
        print(
            f"# WARNING: {len(unstable)} queries' repeats disagree "
            f">{REPEAT_SPREAD_LIMIT}x (see repeat_unstable in artifact) "
            "— their medians are state-dependent, prefer isolated medians",
            file=sys.stderr,
        )
    out = {
        "metric": "total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "repeats": repeats,
        "stat": "median",
        # first run of each query is cold (scan/JIT warmup); the JVM
        # itself is warmed once by entry() above
        "jvm_warm": True,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "cores": cores,
        # the SPARK_GRAFT_BENCH_ONLY subset this run was limited to
        # (null for a full sweep): a subset artifact must not be read
        # as a registry ranking
        "only": None if only is None else sorted(only),
        # avg cores of NON-bench work measured over the run (None if
        # /proc was unreadable); the flag trips above max(2, cores/16)
        "external_busy_cores": (
            None if ext_cores is None else round(ext_cores, 2)
        ),
        "load_flag": flag,
        "repeat_stability": "unstable" if unstable else "stable",
        "jvm_gc_per_query": True,
        "meminfo_start_kb": mem_start,
        "meminfo_end_kb": _meminfo(),
    }
    if unstable:
        out["repeat_unstable"] = unstable
    if errors:
        out["errors"] = errors
    # raw per-repeat samples go to the FILE artifact only (stdout stays
    # tail-safe): single-repeat decade ratios swung 3-6.6x in r10, so a
    # recorded spread is what makes a median claim checkable
    out["samples"] = raw_samples
    # per-repeat storage memory / block-manager disk / memo traffic —
    # the process state that explains (or exonerates) any per-query
    # spread in THIS artifact, instead of a post-hoc guess
    out["state"] = state_track
    # Durable artifact: the round driver's stdout tail-capture truncated
    # BENCH_r03 to 75/109 timings ("parsed": null).  The file is the full
    # record; stdout stays a single compact JSON line.
    results_path = os.environ.get("SPARK_GRAFT_BENCH_OUT") or os.path.join(
        REPO, "bench_results.json"
    )
    with open(results_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out, separators=(",", ":")))
    # The round driver tail-captures ~2 KB of stdout (BENCH_r03 kept only
    # the last 75 of 109 timings, so the full line above truncates at the
    # FRONT and parses as null).  Close stdout with a compact line that
    # always fits the window: headline metric + pointer to the complete
    # per-query artifact written above.
    print(json.dumps({
        "metric": "total_runtime", "value": total, "unit": "sec",
        "sf": sf, "n_queries": len(timings), "n_errors": len(errors),
        "load_flag": flag, "n_repeat_unstable": len(unstable),
        "queries_in": "bench_results.json",
    }, separators=(",", ":")))


RUN_TIMEOUT_S = 3600


def run_bench(sf_dir: str, queries: list[str], out_path: str) -> dict:
    """Run ``queries`` at ``sf_dir`` in a fresh ``bench.py`` process (its
    own JVM, cold memos; the rest of the environment, e.g.
    ``SPARK_GRAFT_CPUS``, is inherited) and return the artifact it
    writes to ``out_path``.  A timeout or a non-zero exit comes back as
    an artifact whose ``errors`` names every query, so one failed leg
    does not stop a multi-leg protocol."""
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_BENCH_ONLY=",".join(queries),
        SPARK_GRAFT_BENCH_OUT=out_path,
    )
    try:
        subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            cwd=REPO,
            env=env,
            check=True,
            stdout=subprocess.DEVNULL,
            timeout=RUN_TIMEOUT_S,
        )
    except subprocess.TimeoutExpired:
        return {"queries": {},
                "errors": {q: f"timeout>{RUN_TIMEOUT_S}s" for q in queries}}
    except subprocess.CalledProcessError as exc:
        return {"queries": {},
                "errors": {q: f"exit {exc.returncode}" for q in queries}}
    with open(out_path) as fh:
        return json.load(fh)


if __name__ == "__main__":
    main()
