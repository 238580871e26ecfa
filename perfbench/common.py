"""Shared plumbing for the benchmark workloads: the pinned session,
host-contention meter, percentile helper, Spark status readers, and the
in-memory span tracer.

Nothing here runs at import time; ``run.py`` drives it.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import tempfile
import time
import uuid
from contextlib import contextmanager

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Samples a tail percentile needs: the highest percentile reported is the
# one with at least ten samples beyond it, so p90 needs 100.
MIN_SAMPLES_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile ``q`` (0 < q < 100) of ``values``.

    Refuses a tail percentile that fewer than ten samples lie beyond:
    p90 of 99 samples would rest on nine points.
    """
    if not values:
        raise ValueError("percentile of no samples")
    n = len(values)
    if q > 50 and n * (100 - q) / 100 < MIN_SAMPLES_BEYOND:
        raise ValueError(
            f"p{q:g} needs {int(MIN_SAMPLES_BEYOND * 100 / (100 - q))} "
            f"samples, got {n}"
        )
    if q == 50:
        return statistics.median(values)
    ordered = sorted(values)
    rank = max(1, -(-q * n // 100))  # ceil(q*n/100)
    return ordered[int(rank) - 1]


def median(values: list[float]) -> float:
    return percentile(values, 50)


# --- run directory and session pinning ----------------------------------


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def pin_environment(workdir: str) -> None:
    """Process environment the JVM and its Python workers inherit: a
    fresh ``SPARK_LOCAL_DIRS`` and ``TMPDIR`` under this run's
    directory, the package's core count set to this host's, and the
    repo root on ``PYTHONPATH`` so pandas-state workers can import the
    package.  Must run before the session starts."""
    os.environ["SPARK_LOCAL_DIRS"] = fresh_dir(os.path.join(workdir, "spark-local"))
    os.environ["TMPDIR"] = fresh_dir(os.path.join(workdir, "tmp"))
    tempfile.tempdir = None  # re-read TMPDIR
    # the package sizes file-scan splits from this (default 32)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if REPO_ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([REPO_ROOT, *paths])


def cores() -> int:
    return len(os.sched_getaffinity(0))


def java_options() -> str:
    """The JVM's temporary files kept in the run's directory, and no
    hsperfdata file in /tmp.  The JIT and the heap stay as the package
    configures them."""
    return f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"


def start_session(shuffle_partitions: int | None):
    """``get_spark`` pinned to this host's cores (``shuffle_partitions``
    defaults to one per core), keeping every micro-batch's progress and
    every job's status for the whole run."""
    from kafka_streams_repartition_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cores()}]",
        shuffle_partitions=shuffle_partitions or cores(),
        extra_conf={
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": java_options(),
        },
    )


# --- host contention ------------------------------------------------------


def _proc_stat_cpu() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class HostMeter:
    """Hypervisor steal and other processes' busy cores over a run,
    through ``bench.py``'s own-tree/host user-jiffy accounting."""

    def __init__(self) -> None:
        from bench import _own_tree_jiffies, _proc_stat_busy_jiffies

        self._own = _own_tree_jiffies
        self._host = _proc_stat_busy_jiffies
        self.t0 = time.perf_counter()
        self.cpu0 = _proc_stat_cpu()
        self.host0, self.own0 = self._host(), self._own()

    def read(self) -> dict[str, float]:
        from bench import external_busy_cores

        cpu1 = _proc_stat_cpu()
        delta = [b - a for a, b in zip(self.cpu0, cpu1)]
        total = sum(delta[:8])  # user..steal; guest is inside user
        steal = delta[7] if len(delta) > 7 else 0
        ext = external_busy_cores(
            self.host0, self.own0, self._host(), self._own(),
            time.perf_counter() - self.t0,
        )
        return {
            "host.steal_frac": steal / total if total else 0.0,
            "host.external_cores": ext if ext is not None else 0.0,
        }


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every descendant
    (the JVM and its Python workers), reaped children included.  The
    kernel does not charge hypervisor steal to a task, so this counts
    the work done, not the time the host took away."""
    hz = os.sysconf("SC_CLK_TCK")
    stats: dict[int, tuple[int, int]] = {}
    for ent in os.listdir("/proc"):
        if not ent.isdigit():
            continue
        try:
            with open(f"/proc/{ent}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
            stats[int(ent)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
        except (OSError, ValueError, IndexError):
            continue  # exited mid-walk: its time is in its parent's c*time
    tree, grew = {os.getpid()}, True
    while grew:
        grew = False
        for pid, (ppid, _) in stats.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return sum(cpu for pid, (_, cpu) in stats.items() if pid in tree) / hz


def jit_ticks(spark) -> dict[str, int]:
    """CPU clock ticks each live JIT compiler thread of the JVM has used
    so far, by thread id.  The JVM starts and stops compiler threads as
    its queue grows and shrinks, so compare two readings per thread."""
    pid = spark.sparkContext._gateway.proc.pid
    ticks = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue  # thread exited mid-walk
        if "CompilerThre" in raw[raw.index("(") + 1:raw.rindex(")")]:
            rest = raw.rsplit(")", 1)[1].split()
            ticks[tid] = int(rest[11]) + int(rest[12])
    return ticks


def jit_cpu_s(before: dict[str, int], after: dict[str, int]) -> float:
    """Compiler CPU seconds between two ``jit_ticks`` readings: the
    share of a window's CPU that is compilation, not the program.  A
    thread that exited in between is missed, so this is a lower bound."""
    used = sum(t - before.get(tid, 0) for tid, t in after.items())
    return used / os.sysconf("SC_CLK_TCK")


# --- Spark status readers -----------------------------------------------


def jvm_gc_ms(spark) -> int:
    from bench import _jvm_gc_ms

    return _jvm_gc_ms(spark) or 0


def next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def group_cost(spark, group: str) -> dict[str, float]:
    """Jobs, stages, executor run time and shuffle bytes of every job
    run under job group ``group``, from the live status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    stages: set[int] = set()
    for j in jobs:
        info = sc.statusTracker().getJobInfo(j)
        if info is not None:
            stages.update(int(s) for s in info.stageIds)
    executor_ms = shuffle = 0
    ran = 0
    for s in stages:
        try:
            d = store.lastStageAttempt(s)
        except Exception:  # noqa: BLE001 — skipped stage: never ran
            continue
        ran += 1
        executor_ms += d.executorRunTime()
        shuffle += d.shuffleReadBytes() + d.shuffleWriteBytes()
    return {
        "jobs": len(jobs),
        "stages": ran,
        "executor_ms": executor_ms,
        "shuffle_mb": shuffle / 1e6,
    }


def trace_batches(spark, tracer) -> None:
    """Install a ``StreamingQueryListener`` that records a span per
    micro-batch while ``tracer`` is enabled."""
    from datetime import datetime

    from pyspark.sql.streaming import StreamingQueryListener

    class BatchSpans(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            if tracer.enabled and p.numInputRows > 0:
                start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
                tracer.add(
                    "microbatch", start, start + p.durationMs["triggerExecution"] / 1000,
                    query=p.name, batch=p.batchId, rows=p.numInputRows,
                    durations=dict(p.durationMs),
                )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    spark.streams.addListener(BatchSpans())


# --- spans --------------------------------------------------------------


class Tracer:
    """Spans kept in memory and written out once at the end.  Every span
    carries the run id and its parent span's id.  A disabled tracer
    records nothing, so untraced runs pay only a function call."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = uuid.uuid4().hex[:12]
        rec = {
            "run": self.run_id,
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            **attrs,
        }
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """A span measured elsewhere (a micro-batch from its progress
        event), parented under the current span."""
        if self.enabled:
            self.spans.append({
                "run": self.run_id,
                "id": uuid.uuid4().hex[:12],
                "parent": self._stack[-1] if self._stack else None,
                "name": name, "start": start, "end": end, **attrs,
            })

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
