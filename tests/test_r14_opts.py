"""Round-14 optimization invariants: every restructure must be
output-invariant.

Each test pins that an optimized path produces EXACTLY what the
unoptimized computation produces — the optimizations move work
(shared gram frames, single-pass aggregations, collect-per-round
lineage truncation), never change what any query computes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_streams_repartition_spark.operators import analytics as an
from kafka_streams_repartition_spark.operators import dedup as dd
from kafka_streams_repartition_spark.operators import selection as sl
from kafka_streams_repartition_spark.operators import similarity as sim
from kafka_streams_repartition_spark.sources.tables import load_tables


@pytest.fixture(scope="module")
def t(spark, sf_dir):
    return load_tables(spark, sf_dir)


def _rows(df, cols=None):
    cols = cols or sorted(df.columns)
    return sorted(
        tuple(r[c] for c in cols) for r in df.collect()
    )


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


def test_repeated_ngram_scan_fused_agg_matches_join_shape(t):
    """The fused one-aggregation scan equals the pre-r14 two-frame
    join shape (base ⋈ per-doc-repeated), reconstructed inline from
    the same shared pair frame."""
    dg = dd._rns_dg(t)
    rep = (
        dg.groupBy("gh")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .select("gh")
    )
    pd_ = (
        dg.join(rep, "gh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_repeated"))
    )
    base = dg.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    want = base.join(pd_, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("n_repeated"), F.lit(0))
        .cast("long")
        .alias("n_repeated"),
        F.round(
            F.coalesce(F.col("n_repeated"), F.lit(0)) / F.col("n_grams"),
            6,
        ).alias("repeated_frac"),
    )
    assert _rows(dd.repeated_ngram_scan(t)) == _rows(want)


def test_table_profile_approx_single_pass_matches_two_pass(t):
    """The single-aggregation approx profile equals the pre-r14
    checkpoint + join shape, reconstructed inline from the same
    register frame."""
    from kafka_streams_repartition_spark.operators.sketches import (
        _hll_estimate,
    )

    regs = an._profile_approx_regs(t).localCheckpoint(eager=False)
    exact = regs.groupBy("column_name").agg(
        F.sum("n_vals").alias("n_distinct_exact")
    )
    rel_err = F.round(
        F.abs(F.col("hll_estimate") - F.col("n_distinct_exact"))
        / F.col("n_distinct_exact"),
        4,
    )
    want = (
        _hll_estimate(regs, "column_name")
        .join(exact, "column_name")
        .select(
            "column_name",
            "n_distinct_exact",
            "hll_estimate",
            rel_err.alias("rel_err"),
            (rel_err <= an.HLL_PROFILE_BOUND).alias("within_bound"),
        )
    )
    assert _rows(an.table_profile_approx(t)) == _rows(want)


def test_quality_logreg_deterministic_and_cache_faithful(t):
    """Two fresh trainings of the GD loop produce bit-identical scored
    frames (every sum is exact DECIMAL and rounds re-synchronize at 12
    decimals, so repartitioning/order cannot drift them), and the
    shared consumer cache serves exactly the producer's rows."""
    a = _rows(sl.quality_logreg(t))
    b = _rows(sl.quality_logreg(t))
    assert a == b
    assert _rows(sl._quality_scored_cached(t)) == a
