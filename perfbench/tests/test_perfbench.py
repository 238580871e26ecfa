"""The benchmark's own tests.  Run from the repository root:

    python -m pytest perfbench/tests -q

The smoke tests drive ``perfbench/run.py`` as the command line it is,
each workload at the smallest window (``--seconds 1``: one unit of
work), in both modes.  They take several minutes: every run starts its
own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

import pyarrow.parquet as pq

from perfbench.common import percentile
from perfbench.inputs import document_files
from perfbench.sweep import answer_hash

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

# per-layer metrics each workload must measure (the rest read 0 there)
LAYERS = {
    "orders-repartition": [
        "streaming.batches", "streaming.add_batch_ms_p50", "streaming.overhead_ms_p50",
        "streaming.query_planning_ms_p50", "streaming.wal_commit_ms_p50",
        "streaming.state_rows_total", "streaming.state_memory_mb",
        "streaming.trigger_ms_p50", "streaming.product_stats.trigger_ms_p50",
        "restore.migrate_s", "restore.records",
        "streaming.curate.jobs_per_batch", "streaming.curate.index_mb",
        "streaming.curate.accept_ratio",
    ],
    "query-sweep": ["operators.cold_pass_s"] + [
        f"operators.{q}.{m}"
        for q in ("pickup_order_summary", "restore_merge", "cluster_purity", "bm25_search")
        for m in ("wall_ms_p50", "jobs", "stages", "executor_ms", "driver_ms")
    ],
}
COMMON = ["session.start_s", "sources.prepare_s", "sources.input_rows", "warmup_s",
          "process.window_cpu_s", "trace.spans"]


def test_percentile_refuses_a_tail_it_cannot_support():
    with pytest.raises(ValueError):
        percentile([float(x) for x in range(99)], 90)
    assert percentile([float(x) for x in range(100)], 90) == 89.0
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0


def test_answer_hash_ignores_order_and_int_double_width():
    a = pd.DataFrame({"k": [2, 1], "v": [1.5, 2.0]})
    b = pd.DataFrame({"v": [2, 1.5], "k": [1.0, 2.0]})
    assert answer_hash(a) == answer_hash(b)
    assert answer_hash(a) != answer_hash(a.assign(v=[1.5, 2.5]))


def test_document_files_keep_id_order_and_every_document(tmp_path):
    for seed in range(5):
        paths, offered = document_files(str(tmp_path / str(seed)), seed, 3)
        ids = [pq.read_table(p).column("doc_id").to_pylist() for p in paths]
        assert len(paths) == 3 and all(ids)
        flat = [i for part in ids for i in part]
        assert flat == sorted(flat) and len(flat) == offered


def run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(LAYERS))
def test_smoke_emits_every_metric_and_passes_its_checks(workload, trace):
    p = run(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    *_, context, last = p.stdout.strip().splitlines()
    res = json.loads(last)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert "host.steal_frac" in json.loads(context)["run"]
    section = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in section} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    values = {k: v["value"] for k, v in res["metrics"].items()}
    for name in (LAYERS[workload] + COMMON) if trace else values:
        assert values[name] > 0, name


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query-sweep",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0 and p.stdout == ""
