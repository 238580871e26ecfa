#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Workloads: ``orders-repartition`` and
``query-sweep`` (see ``perfbench/README.md``).

Each run: start the pinned session, prepare the seeded inputs three
times (``setup_s`` is session start plus the median preparation), warm
up, then time one fixed-work window and check its outputs.  With
``--trace 1`` a traced window on fresh inputs follows the untraced one;
the per-layer metrics come from it, and the tracing overhead is the
difference between the two.  The orders workload's traced run then
drains the curation stream as well.

The last stdout line is the result object; the line before it records
the run's host contention (steal and other processes' busy cores),
which every run prints, traced or not.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

PREPARE_REPEATS = 3


def workload_class(name: str):
    from perfbench.orders import OrdersRepartition
    from perfbench.sweep import QuerySweep

    return {c.name: c for c in (OrdersRepartition, QuerySweep)}[name]


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — still alive: make sure it ends
            proc.kill()
            proc.wait(timeout=30)


def run(workload: str, seed: int, seconds: int, traced: bool) -> dict:
    from perfbench.common import (
        HostMeter,
        Tracer,
        fresh_dir,
        jit_cpu_s,
        jit_ticks,
        jvm_gc_ms,
        median,
        pin_environment,
        start_session,
        trace_batches,
        tree_cpu_s,
    )

    workdir = fresh_dir(os.path.join(ROOT, ".perfbench", f"{workload}-s{seed}-t{int(traced)}"))
    pin_environment(workdir)
    host = HostMeter()
    tracer = Tracer(False, uuid.uuid4().hex)
    cls = workload_class(workload)
    layer: dict[str, float] = {}

    # --- set-up: the session, then the inputs, prepared several times
    spark = start_session(cls.shuffle_partitions)
    try:
        spark.range(1).count()
        session_s = time.perf_counter() - T0
        wl = cls(spark, workdir, seed, seconds)
        prep = []
        for _ in range(PREPARE_REPEATS):
            p0 = time.perf_counter()
            inp = wl.prepare("main")
            prep.append(time.perf_counter() - p0)
        setup_s = session_s + median(prep)

        # --- warm-up (orders: on inputs of its own; the sweep: its
        # memo-cold and memo-warm collecting passes)
        w0 = time.perf_counter()
        wl.warm_up(tracer)
        warmup_s = time.perf_counter() - w0

        # --- the timed window, untraced
        gc0, cpu0, jit0 = jvm_gc_ms(spark), tree_cpu_s(), jit_ticks(spark)
        out = wl.window(inp, tracer)
        gc_ms, cpu_s = jvm_gc_ms(spark) - gc0, tree_cpu_s() - cpu0
        jit_s = jit_cpu_s(jit0, jit_ticks(spark))
        c0 = time.perf_counter()
        attempted, failed = wl.check(inp, out, tracer)
        phases = {"session_s": session_s, "prepare_s": prep, "warmup_s": warmup_s,
                  "window_s": out["window_s"], "window_parts": out.get("parts", {}),
                  "window_cpu_s": cpu_s, "window_jit_cpu_s": jit_s,
                  "check_s": time.perf_counter() - c0}
        e2e = {**wl.metrics(out, inp, False), "setup_s": setup_s}

        if traced:
            # --- the same window again, traced, on fresh inputs; set-up
            # and warm-up spans are added from the times taken above
            trace_batches(spark, tracer)
            tracer.enabled = True
            wall = time.time() - time.perf_counter()
            tracer.add("session.start", wall + T0, wall + T0 + session_s)
            tracer.add("sources.prepare", wall + T0 + session_s, wall + w0, repeats=prep)
            tracer.add("warmup", wall + w0, wall + w0 + warmup_s)
            with tracer.span("sources.prepare"):
                tinp = wl.prepare("trace")
            gc0, cpu0 = jvm_gc_ms(spark), tree_cpu_s()
            with tracer.span("window", workload=workload):
                tout = wl.window(tinp, tracer)
            layer["jvm.gc_ms"] = jvm_gc_ms(spark) - gc0
            layer["process.window_cpu_s"] = tree_cpu_s() - cpu0
            a, f = wl.check(tinp, tout, tracer)
            attempted, failed = attempted + a, failed + f
            if hasattr(wl, "curate"):
                curate, a, f = wl.curate(tracer)
                layer.update(curate)
                attempted, failed = attempted + a, failed + f
            tracer.enabled = False
            layer.update(wl.metrics(tout, tinp, True))
            layer.update({
                "session.start_s": session_s,
                "sources.prepare_s": median(prep),
                "sources.input_rows": inp["rows"],
                "warmup_s": warmup_s,
                "trace.overhead_frac": tout["window_s"] / out["window_s"] - 1,
                "trace.spans": len(tracer.spans),
            })
            tracer.write(os.path.join(workdir, "trace.json"))
    finally:
        stop_session(spark)

    contention = host.read()
    layer.update(contention)
    return {
        "e2e": e2e, "layer": layer, "gc_ms": gc_ms, "phases": phases, "attempted": attempted,
        "failed": failed, "contention": contention, "workdir": workdir,
    }


def emit(spec: dict, res: dict, workload: str, seed: int, traced: bool) -> None:
    section = spec["per_layer"] if traced else spec["end_to_end"]
    values = res["layer"] if traced else res["e2e"]
    metrics = {}
    for m in section:
        if m["name"] in values:
            v = values[m["name"]]
        elif traced:
            v = 0  # this workload does not touch that layer
        else:
            raise KeyError(f"end-to-end metric {m['name']} not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"run": {
        "workload": workload, "seed": seed, "trace": int(traced),
        "host.steal_frac": res["contention"]["host.steal_frac"],
        "host.external_cores": res["contention"]["host.external_cores"],
        "jvm.gc_ms": res["gc_ms"], "phases": res["phases"],
        "workdir": os.path.relpath(res["workdir"], ROOT),
    }}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["orders-repartition", "query-sweep"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds < 1:
        ap.error("--seed must be >= 0 and --seconds >= 1")
    try:
        import bench  # noqa: F401 — host-contention helpers
        import __spark_entry__  # noqa: F401
        import kafka_streams_repartition_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not here ({exc})", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    emit(spec, res, args.workload, args.seed, bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
