#!/usr/bin/env python
"""10x linearity probe: bench the headline queries at sf0.1 and at the
key-offset-replicated sf1 dataset (tools/make_scale_probe.py), and
record the per-query scaling ratio in BENCH_sf1.json.

A ratio <= 12 (linear + fixed overhead) is the pass bar: a query whose
time curves superlinearly at 10x the rows has a plan that will not
survive 100 TB, whatever its sf0.1 number says.

Runs bench.py twice through bench.run_bench (fresh JVM each, so sf0.1
timings are not warmed by the sf1 run or vice versa).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import run_bench  # noqa: E402

HEADLINE = [
    "pricing_summary",
    "shipping_priority",
    "waiting_suppliers",
    "min_cost_supplier_region",
    "important_stock",
    "table_profile",
    "table_profile_approx",
    "mad_outliers",
    "first_touch_attribution",
    "pickup_order_nested",
    # LLM-pipeline heavies (documents/embeddings scale 10x with the
    # fact): linear-expected plans — span/minhash dedup, label
    # propagation, curation, query-bounded ANN, and the CDC merge.
    # dedup_embedding_lsh is deliberately NOT here: its OUTPUT is
    # pair-quadratic on this synthetic geometry (54% candidate ratio
    # at threshold 0.3), so a row-linearity bar does not apply — its
    # sf1 behavior is measured and discussed separately in STATUS.
    "cdc_apply",
    "span_dedup",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "corpus_curation",
    "ann_topk_vectorized",
]

RATIO_BAR = 12.0


def main() -> None:
    sf1_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, ".scale", "sf1"
    )
    small = run_bench(
        "/root/testdata/sf0.1", HEADLINE, "/tmp/bench_probe_sf01.json"
    )
    big = run_bench(sf1_dir, HEADLINE, "/tmp/bench_probe_sf1.json")
    ratios = {
        q: round(big["queries"][q] / small["queries"][q], 2)
        for q in HEADLINE
        if q in big.get("queries", {}) and q in small.get("queries", {})
    }
    out = {
        "metric": "scale_ratio_sf1_over_sf0.1",
        "ratio_bar": RATIO_BAR,
        "sf0.1_sec": small["queries"],
        "sf1_sec": big["queries"],
        "ratio": ratios,
        "over_bar": {q: r for q, r in ratios.items() if r > RATIO_BAR},
        "loadavg_sf1": big.get("loadavg_end"),
        "repeats": big.get("repeats"),
        "errors": {**small.get("errors", {}), **big.get("errors", {})},
    }
    with open(os.path.join(REPO, "BENCH_sf1.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({k: out[k] for k in ("ratio", "over_bar")}, indent=1))


if __name__ == "__main__":
    main()
