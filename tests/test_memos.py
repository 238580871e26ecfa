"""Shared-intermediate memos serve exactly what their builds compute.

Each test pins a memoized path against the computation it stands in
for (the declared producer query, a fresh training, or the inline
shape), or pins that a memo key carries the module constants its build
reads.  Memos may change where work happens, never what any query
computes.  The memo type itself and the one-type guard live in
``test_invariants.py``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_streams_repartition_spark.operators import dedup as dd
from kafka_streams_repartition_spark.operators import selection as sl
from kafka_streams_repartition_spark.operators import similarity as sim
from kafka_streams_repartition_spark.operators import text_analysis as tx
from kafka_streams_repartition_spark.sources.tables import load_tables


@pytest.fixture(scope="module")
def t(spark, sf_dir):
    return load_tables(spark, sf_dir)


def _rows(df, cols=None):
    cols = cols or sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_kmeans_memo_matches_fresh_training(t):
    """kmeans_model's memoized centroid rows equal the fresh-training
    producer (bit-exact doubles).  ALL upstream memos are cleared
    first (r13 advisor: leaving _LCENT_MEMO warm meant the "fresh"
    run still read memoized seed centroids, so a stale seed would
    have escaped this test), and since r14 ``kmeans_cells`` IS the
    always-fresh path (producer discipline), so the comparison is
    memoized-model vs fresh-training by construction."""
    sim._KMEANS_MEMO.clear()
    sim._LCENT_MEMO.clear()
    sim._NVEC_MEMO.clear()
    a1 = sim.kmeans_model(t)[0]  # trains, populates the memo
    a2 = sim.kmeans_model(t)[0]  # memo hit
    fresh = sim.kmeans_cells(t)  # always-fresh producer
    assert _rows(a1) == _rows(fresh)
    assert _rows(a2) == _rows(fresh)


def test_bf_truth_matches_bruteforce(t):
    """_bf_truth serves exactly ann_topk_bruteforce's (query, cand)
    pairs — the gates' memoized truth is the declared query's answer."""
    sim._BF_TRUTH_MEMO.clear()
    want = _rows(sim.ann_topk_bruteforce(t).select("query_id", "cand_id"))
    got = _rows(sim._bf_truth(t))
    assert got == want
    assert _rows(sim._bf_truth(t)) == want  # memo hit


def test_embdup_truth_matches_inline(t):
    """_embdup_truth_pairs equals the inline lo/hi distinct pair set."""
    dd._EMBDUP_TRUTH_CACHE.clear()
    want = _rows(
        dd.dedup_embedding(t)
        .select(
            F.least("query_id", "cand_id").alias("lo"),
            F.greatest("query_id", "cand_id").alias("hi"),
        )
        .distinct()
    )
    assert _rows(dd._embdup_truth_pairs(t)) == want


def test_bpe_merges_memo_matches_trainer(t):
    """_bpe_merges equals the (lhs, rhs) sequence of the declared
    trainer query, in round order."""
    tx._BPE_MERGES_MEMO.clear()
    want = [
        (r["lhs"], r["rhs"])
        for r in tx.bpe_train_merges(t).orderBy("round").collect()
    ]
    assert tx._bpe_merges(t) == want


def test_kmeans_cells_producer_never_consults_memo(t):
    """The declared producer trains fresh: running kmeans_cells never
    reads the model memo (its bench row measures Lloyd training, never
    a lookup), but stores what it trained, so the first consumer is a
    memo hit instead of a second Lloyd loop, and its rows equal the
    producer's."""
    sim._KMEANS_MEMO.clear()
    hits, misses = sim._KMEANS_MEMO.hits, sim._KMEANS_MEMO.misses
    fresh = _rows(sim.kmeans_cells(t))
    assert sim._KMEANS_MEMO.hits == hits, "producer read the model memo"
    assert len(sim._KMEANS_MEMO) == 1, "producer did not store its model"
    model = _rows(sim.kmeans_model(t)[0])
    assert sim._KMEANS_MEMO.hits == hits + 1
    assert sim._KMEANS_MEMO.misses == misses
    assert fresh == model


def test_kmeans_consumers_read_the_memoized_model(t):
    """Every consumer of the trained quantizer reads the memoized model:
    after one training, building and collecting each of them is a memo
    hit and never a second Lloyd loop."""
    sim._KMEANS_MEMO.clear()
    sim.kmeans_model(t)
    hits, misses = sim._KMEANS_MEMO.hits, sim._KMEANS_MEMO.misses
    for consumer in (
        sim.cluster_purity,
        sim.ivf_cell_balance,
        sl.cluster_sample,
        dd.semdedup,
        dd.semdedup_recall,
        dd.dedup_stacked_recall,
    ):
        consumer(t).collect()
    assert sim._KMEANS_MEMO.misses == misses, "a consumer retrained"
    assert sim._KMEANS_MEMO.hits >= hits + 6, "a consumer skipped the memo"


def test_mrl_curve_shared_truth_equals_fresh_truth(t):
    """mrl_recall_curve's memoized-truth fast path (d = DIM leg served
    from _bf_truth) is bit-identical to building the truth leg fresh
    from _truncated_topk — the pre-r14 shape, reconstructed inline."""
    qcap = sim.derived_mrl_query_cap(sim._n_vecs(t["embeddings"]))
    truth = sim._truncated_topk(t, sim.DIM, qcap).localCheckpoint(
        eager=False
    )
    legs = []
    for d in sim.MRL_DIMS:
        if d == sim.DIM:
            legs.append(
                truth.agg(
                    F.count(F.lit(1)).cast("long").alias("n_truth")
                ).select(
                    F.lit(d).cast("long").alias("dims"),
                    "n_truth",
                    F.col("n_truth").alias("n_approx"),
                    F.col("n_truth").alias("n_hits"),
                    F.round(F.lit(1.0), 4).alias("recall"),
                )
            )
            continue
        approx = sim._truncated_topk(t, d, qcap)
        legs.append(
            sim._recall_one_row(truth, approx).select(
                F.lit(d).cast("long").alias("dims"),
                "n_truth",
                "n_approx",
                "n_hits",
                "recall",
            )
        )
    want = legs[0]
    for leg in legs[1:]:
        want = want.unionByName(leg)
    sim._BF_TRUTH_MEMO.clear()
    got = sim.mrl_recall_curve(t)
    assert _rows(got) == _rows(want)
    # warm-memo second run still identical
    assert _rows(sim.mrl_recall_curve(t)) == _rows(want)


@pytest.mark.parametrize(
    "mod, const, value, memo, build, measure",
    [
        # 5-grams are strictly more plentiful than 13-grams
        (dd, "RNS_NGRAM", 5, "_RNS_DG_CACHE", dd._rns_dg, lambda g: g.count()),
        (sim, "QUERY_MOD", 7, "_QSUBSET_MEMO",
         lambda t: sim._qsubset_n(t["embeddings"]), lambda n: n),
        (sim, "KCENTER_K", 2, "_KCENTER_MEMO", sim._kcenter_centers, len),
        (sim, "ANN_QUERY_CAP", 2, "_MMR_MEMO", sim._mmr_pool_pairs,
         lambda pp: pp[0].select("query_id").distinct().count()),
        # the truth set holds TOP_K candidates per query
        (sim, "TOP_K", 2, "_BF_TRUTH_MEMO", sim._bf_truth,
         lambda f: f.count()),
        # at QUERY_MOD 1 every vector is a query, so more pairs pass
        (dd, "QUERY_MOD", 1, "_EMBDUP_TRUTH_CACHE", dd._embdup_truth_pairs,
         lambda f: f.count()),
    ],
    ids=["RNS_NGRAM", "QUERY_MOD", "KCENTER_K", "ANN_QUERY_CAP",
         "BF_TRUTH_TOP_K", "EMBDUP_TRUTH_QUERY_MOD"],
)
def test_memo_key_carries_shaping_constant(
    t, monkeypatch, mod, const, value, memo, build, measure
):
    """A memo's key carries the module constants its build reads:
    overriding one rebuilds instead of serving the value built under
    the old setting."""
    getattr(mod, memo).clear()
    before = measure(build(t))
    monkeypatch.setattr(mod, const, value)
    after = measure(build(t))
    assert after != before, f"{const} override served the stale value"
