#!/usr/bin/env python
"""Isolated per-query medians — the stable round-over-round baseline
(BENCHNOTES.md): each query runs in its OWN bench.py process (cold
shared-frame caches, its own JVM, repeats=3, external CPU measured), so
the reading carries no registry-order warmth and rounds can be compared
per query.

Query list: the top-N most expensive queries of the newest driver
BENCH_r*.json (default N=20), plus any extra names passed on the
command line.

    python tools/bench_isolated.py [extra_query ...]

Writes BENCH_isolated.json (the committed BENCH_isolated_r12.json is an
earlier run of this protocol).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import run_bench  # noqa: E402

TOP_N = 20
OUT = "BENCH_isolated.json"


def newest_driver_bench(repo: str = REPO) -> tuple[str, dict]:
    """Per-query medians of the newest driver bench under ``repo``.  The
    driver's BENCH_r{N}.json wraps a parsed one-liner whose per-query map
    lives in bench_results.json (written by the same run); fall back to
    any artifact that carries a queries dict directly.  bench.py
    rewrites bench_results.json on every run, so an artifact that
    records a ``SPARK_GRAFT_BENCH_ONLY`` subset exits here instead of
    becoming the ranking."""
    cands = sorted(
        glob.glob(os.path.join(repo, "BENCH_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    )
    path = cands[-1]
    with open(path) as fh:
        d = json.load(fh)
    if "queries" not in d:
        path = os.path.join(repo, "bench_results.json")
        with open(path) as fh:
            d = json.load(fh)
    if d.get("only") is not None:
        sys.exit(
            f"{path} is a subset run ({len(d['only'])} queries); rank from "
            "a full bench.py sweep (no SPARK_GRAFT_BENCH_ONLY)"
        )
    return os.path.basename(path), d


def main() -> None:
    src, bench = newest_driver_bench()
    ranked = sorted(
        bench.get("queries", {}).items(), key=lambda kv: -kv[1]
    )
    qs = [q for q, _ in ranked[:TOP_N]]
    for extra in sys.argv[1:]:
        if extra not in qs:
            qs.append(extra)
    scratch = os.path.join(REPO, ".scale", "isolated")
    os.makedirs(scratch, exist_ok=True)
    out = {
        "metric": "isolated_per_query_median_sf0.1",
        "protocol": "one bench.py process per query (cold caches), "
                    "repeats=3, median, external CPU measured per leg",
        "source_ranking": src,
        "sf_dir": os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
        ),
        "queries": {},
        "samples": {},
        "suite_reading": {q: bench["queries"].get(q) for q in qs},
        "external_busy_cores": {},
        "load_flags": {},
        "errors": {},
    }
    for q in qs:
        r = run_bench(
            out["sf_dir"], [q], os.path.join(scratch, f"iso_{q}.json")
        )
        out["queries"][q] = r.get("queries", {}).get(q)
        out["samples"][q] = r.get("samples", {}).get(q)
        out["external_busy_cores"][q] = r.get("external_busy_cores")
        out["load_flags"][q] = r.get("load_flag")
        out["errors"].update(r.get("errors", {}))
        print(q, out["queries"][q], flush=True)
    with open(os.path.join(REPO, OUT), "w") as fh:
        json.dump(out, fh, indent=1)
    print("wrote", OUT)


if __name__ == "__main__":
    main()
