#!/usr/bin/env python
"""TWO back-to-back full bench sweeps in ONE session (same JVM, same
registry order) — the VERDICT r12 item-1 reproducibility protocol: the
official driver sweep and the builder's close-out disagreed 438.1 s vs
387.2 s on identical code with identical order, so the ordering story
could not explain the spread.  Running the full sweep twice in one
process isolates the remaining suspects: if sweep 2 agrees with sweep 1
per query (>1s queries within 1.5x), the suite is reproducible given a
fixed process; what moved between SESSIONS is then process-start state
(page cache, JIT, heap layout), which the per-repeat gc_ms /
storage / blockmgr instrumentation in bench.py now records directly.

    SPARK_GRAFT_SF_DIR=... python tools/bench_double.py

Writes BENCH_double.json (both sweeps + per-query agreement; the
committed BENCH_double_r14.json is an earlier run of this protocol).
The two sweeps share one process by design, so this tool calls
bench.main() directly rather than bench.run_bench.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def main() -> None:
    scratch = os.path.join(REPO, ".scale", "double")
    os.makedirs(scratch, exist_ok=True)
    outs = []
    for i in (1, 2):
        path = os.path.join(scratch, f"bench_sweep{i}.json")
        os.environ["SPARK_GRAFT_BENCH_OUT"] = path
        bench.main()
        with open(path) as fh:
            outs.append(json.load(fh))
    q1, q2 = outs[0]["queries"], outs[1]["queries"]
    disagree = {}
    for name in q1:
        a, b = q1[name], q2.get(name)
        if b is None:
            continue
        if max(a, b) >= 1.0 and min(a, b) > 0 and max(a, b) / min(a, b) > 1.5:
            disagree[name] = [a, b]
    result = {
        "metric": "back_to_back_full_sweeps_one_session_sf0.1",
        "protocol": "bench.py main() twice in one process; per-query "
                    "medians compared; >1s queries disagreeing >1.5x "
                    "listed",
        "sweep1_total": outs[0]["value"],
        "sweep2_total": outs[1]["value"],
        "n_queries": len(q1),
        "sweep1_flag": outs[0]["load_flag"],
        "sweep2_flag": outs[1]["load_flag"],
        "external_busy_cores": [
            outs[0].get("external_busy_cores"),
            outs[1].get("external_busy_cores"),
        ],
        "disagree_gt_1p5x": disagree,
        "n_disagree": len(disagree),
        "sweep1_queries": q1,
        "sweep2_queries": q2,
        "sweeps_in": [".scale/double/bench_sweep1.json",
                      ".scale/double/bench_sweep2.json"],
    }
    with open(os.path.join(REPO, "BENCH_double.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps({
        "metric": result["metric"],
        "sweep1_total": result["sweep1_total"],
        "sweep2_total": result["sweep2_total"],
        "n_disagree": len(disagree),
    }))


if __name__ == "__main__":
    main()
