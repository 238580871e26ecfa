"""Semantic + plan contracts of the data-selection operators
(``operators/selection.py``) — checked on top of DuckDB oracle parity:
DSIR must actually steer toward the target domain, CCNet buckets must
be monotone in score, the logreg trainer must reproduce a pure-numpy
replica of the same GD and beat the majority class, cluster sampling
must fill its quota exactly."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from kafka_streams_repartition_spark.operators import selection as sel
from kafka_streams_repartition_spark.plans.checks import (
    assert_broadcast_join,
    assert_no_cartesian,
    count_scans_of,
    explain_str,
)
from kafka_streams_repartition_spark.sources.tables import load_tables


@pytest.fixture(scope="module")
def t(spark, sf_dir):
    return load_tables(spark, sf_dir)


@pytest.fixture(scope="module")
def docs_pdf(t):
    return (
        t["documents"].select("doc_id", "text", "lang", "source").toPandas()
    )


# --- DSIR ------------------------------------------------------------------


def test_dsir_steers_toward_target(t, docs_pdf):
    """Importance resampling must ENRICH the target domain: the
    target-source share among the selected K strictly exceeds the
    corpus share, and selected docs' mean logw exceeds the corpus
    mean (weights point toward the target)."""
    sel_rows = sel.dsir_select(t).toPandas()
    assert len(sel_rows) == sel.DSIR_K
    src = docs_pdf.set_index("doc_id")["source"]
    tgt = set(sel.DSIR_TARGET_SOURCES)
    share_corpus = src.isin(tgt).mean()
    share_sel = src.loc[sel_rows["doc_id"]].isin(tgt).mean()
    assert share_sel > share_corpus
    assert sel_rows["logw"].mean() > 0  # corpus mean logw is ~< 0 by Jensen


def test_dsir_plan_topk_no_global_sort(t):
    """The draw is top-K (TakeOrderedAndProject), the log-ratio table
    broadcasts, and documents are scanned once for features + once for
    the doc universe — never per-bucket."""
    df = sel.dsir_select(t)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan
    assert_no_cartesian(df)
    assert_broadcast_join(df)
    assert count_scans_of(df, "documents") <= 2


# --- CCNet buckets ---------------------------------------------------------


def test_ccnet_buckets_monotone_and_exhaustive(t, docs_pdf):
    """Within each language: every doc gets exactly one bucket, buckets
    are monotone in bin (head bins ≤ middle bins ≤ tail bins), and the
    lowest-scoring (head-most) bin is head."""
    rows = sel.ccnet_buckets(t).toPandas()
    assert len(rows) == docs_pdf["text"].str.strip().ne("").sum()
    order = {"head": 0, "middle": 1, "tail": 2}
    for lang, grp in rows.groupby("lang"):
        byb = grp.sort_values("bin")
        codes = byb["bucket"].map(order)
        # monotone non-decreasing along bins
        assert (codes.groupby(byb["bin"]).first().diff().dropna() >= 0).all()
        assert byb.iloc[0]["bucket"] == "head"


def test_ccnet_thirds_are_balanced(t):
    """The bin-level tercile rule lands within one bin's mass of a
    true third for the dominant language."""
    rows = sel.ccnet_buckets(t).toPandas()
    en = rows[rows["lang"] == "en"]
    frac_head = (en["bucket"] == "head").mean()
    assert 0.2 < frac_head < 0.47  # millinat bins keep thirds near 1/3


def test_ccnet_plan_broadcast_cut(t):
    df = sel.ccnet_buckets(t)
    assert_no_cartesian(df)
    assert_broadcast_join(df)


# --- quality logreg --------------------------------------------------------


def _numpy_logreg(docs_pdf):
    """Pure-Python replica of the centered-GD training loop, with the
    same 12-decimal weight re-sync the Spark/SQL paths use."""
    B = sel.LOGREG_BUCKETS
    rows = docs_pdf.sort_values("doc_id").reset_index(drop=True)
    n = len(rows)
    y = (rows["lang"] == "en").to_numpy(float)

    def bucket(term: str) -> int:
        return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % B

    X = np.zeros((n, B + 1))
    X[:, B] = 1.0  # bias
    for i, text in enumerate(rows["text"]):
        for tk in {x for x in text.lower().split(" ") if x}:
            X[i, bucket(tk)] = 1.0
    mu = X[:, :B].mean(axis=0)
    Xc = X.copy()
    Xc[:, :B] -= mu
    w = np.zeros(B + 1)
    for _ in range(sel.LOGREG_ROUNDS):
        p = 1.0 / (1.0 + np.exp(-(Xc @ w)))
        w = np.round(w - sel.LOGREG_LR * (Xc.T @ (p - y)) / n, 12)
    p = 1.0 / (1.0 + np.exp(-(Xc @ w)))
    return rows["doc_id"].to_numpy(), p, y


def test_quality_logreg_matches_numpy_replica(t, docs_pdf):
    """The declarative GD is REAL training: probabilities match a
    pure-numpy implementation of the identical algorithm to float
    noise, and every prediction agrees."""
    got = (
        sel.quality_logreg(t)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    ids, p, y = _numpy_logreg(docs_pdf)
    assert (got["doc_id"].to_numpy() == ids).all()
    assert np.abs(got["prob"].to_numpy() - p).max() < 5e-6
    assert (got["pred"].to_numpy() == (p >= 0.5)).all()
    assert (got["label"].to_numpy() == y).all()


def test_quality_logreg_beats_majority(t):
    """Centered GD must actually learn: training accuracy strictly
    exceeds the majority-class rate (the measured failure mode of the
    uncentered variant was never beating it)."""
    got = sel.quality_logreg(t).toPandas()
    base = max(got["label"].mean(), 1 - got["label"].mean())
    assert got["correct"].mean() > base


def test_quality_logreg_plan_broadcast_weights(t):
    """Weights/scalars broadcast every round; documents feed one
    feature pass (checkpoint barrier) — no per-round rescans."""
    df = sel.quality_logreg(t)
    assert_no_cartesian(df)
    assert_broadcast_join(df)


# --- Gopher rule battery ---------------------------------------------------


def test_gopher_rules_flags_consistent(t, docs_pdf):
    """keep == AND of the per-rule flags, every doc is scored, and the
    battery discriminates on this corpus (some pass, some fail)."""
    rows = sel.gopher_rules(t).toPandas()
    assert len(rows) == len(docs_pdf)
    flags = ["ok_word_count", "ok_mean_wlen", "ok_symbols", "ok_alpha",
             "ok_stopwords"]
    assert (rows["keep"] == rows[flags].all(axis=1)).all()
    assert 0 < rows["keep"].sum() < len(rows)
    # spot-check the word-count rule against the raw text
    wc = docs_pdf.set_index("doc_id")["text"].str.split().str.len()
    got_wc = rows.set_index("doc_id")["n_words"]
    assert (wc.loc[got_wc.index] == got_wc).all()


def test_gopher_rules_plan_no_shuffle(t):
    """The battery is a narrow map over one documents scan: no
    exchange anywhere in the plan."""
    df = sel.gopher_rules(t)
    plan = explain_str(df)
    assert "Exchange" not in plan
    assert count_scans_of(df, "documents") == 1


# --- hybrid retrieval (RRF) ------------------------------------------------


def test_hybrid_search_rrf_consistent(t):
    """Every fused row came from at least one leg, ranks are dense
    1..K per query, rrf is non-increasing along rank, and a doc found
    by BOTH legs at rank 1 tops the fusion (1/(k+1)+1/(k+1) dominates
    any single-leg score)."""
    from kafka_streams_repartition_spark.operators import similarity as sim

    rows = sim.hybrid_search(t).toPandas()
    assert (rows["in_lexical"] | rows["in_semantic"]).all()
    for _, grp in rows.groupby("query_id"):
        g = grp.sort_values("rank")
        assert list(g["rank"]) == list(range(1, len(g) + 1))
        assert (g["rrf"].diff().dropna() <= 0).all()
        both_r1 = grp[(grp["in_lexical"]) & (grp["in_semantic"])]
        if len(both_r1) and both_r1["rrf"].max() >= 2 / (sim.RRF_K + 1) - 1e-9:
            assert grp.loc[grp["rrf"].idxmax(), "rank"] == 1


def test_hybrid_search_plan_rank_space_fusion(t):
    """The fusion joins two rank-space frames — no cartesian product,
    and the semantic leg's query set rides a broadcast."""
    from kafka_streams_repartition_spark.operators import similarity as sim

    df = sim.hybrid_search(t)
    assert_no_cartesian(df)
    assert_broadcast_join(df)


# --- contrastive pair mining -----------------------------------------------


def test_pair_mining_margin_and_determinism(t):
    """Positives carry the LSH-verified Jaccard (≥ threshold), every
    positive anchor gets exactly one negative, negatives never
    self-pair, and the positive/negative Jaccard margin is strict."""
    from kafka_streams_repartition_spark.operators.dedup import (
        JACCARD_THRESHOLD,
    )

    rows = sel.pair_mining(t).toPandas()
    pos = rows[rows["label"] == 1]
    neg = rows[rows["label"] == 0]
    assert len(pos) and len(neg)
    assert (pos["jaccard"] >= JACCARD_THRESHOLD).all()
    assert set(neg["anchor"]) == set(pos["anchor"])
    assert neg.groupby("anchor").size().max() == 1
    assert (neg["anchor"] != neg["partner"]).all()
    assert pos["jaccard"].min() > neg["jaccard"].max()


# --- novelty scoring -------------------------------------------------------


def test_novelty_scoring_plan_digest_only_shuffles(t):
    """Gram text never shuffles: the only exchanges carry the 63-bit
    digest (and the final per-doc fold) — no `gram` string column
    survives past the map side into an Exchange's child output."""
    from kafka_streams_repartition_spark.operators import dedup as dd
    from kafka_streams_repartition_spark.plans.checks import explain_str

    df = dd.novelty_scoring(t)
    plan = explain_str(df)
    assert "Exchange" in plan  # the digest-keyed min and per-doc fold
    # hashpartitioning keys are h (digest) or doc_id - never gram text
    import re

    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        # the exploded text column is `gram#N`; `n_grams#N` (a count) is fine
        assert not re.search(r"(?<![_a-z])gram#", m.group(1)), m.group(0)


def test_novelty_scoring_first_doc_fully_novel(t):
    """The lowest doc_id is 100% novel by construction; novelty is in
    [0, 1]; n_novel ≤ n_grams; every doc is scored."""
    from kafka_streams_repartition_spark.operators import dedup as dd

    rows = dd.novelty_scoring(t).toPandas()
    n_docs = t["documents"].count()
    assert len(rows) == n_docs
    first = rows.loc[rows["doc_id"].idxmin()]
    assert first["novelty"] == 1.0
    assert rows["novelty"].between(0, 1).all()
    assert (rows["n_novel"] <= rows["n_grams"]).all()


# --- end-to-end pretraining pipeline ---------------------------------------


def test_pretrain_pipeline_manifest_invariants(t):
    """The shard manifest is well-formed: pack ids are dense from 0
    per shard, every pack is non-empty, the stages actually prune (the
    manifest covers fewer docs than the corpus), and manifest tokens
    equal the gated+deduped survivor token total (conservation)."""
    rows = sel.pretrain_pipeline(t).toPandas()
    assert len(rows)
    for _, grp in rows.groupby("shard"):
        pids = sorted(grp["pack_id"])
        assert pids == list(range(len(pids)))
    assert (rows["n_docs"] >= 1).all() and (rows["pack_tokens"] > 0).all()
    assert rows["n_docs"].sum() < t["documents"].count()


def test_pretrain_pipeline_plan_single_text_scan(t):
    """The gate is fused into the digest scan: at most two documents
    scans survive in the plan (fused gate+digest pass + the LSH pair
    builder), the loser anti-join is broadcast, no cartesian."""
    df = sel.pretrain_pipeline(t)
    assert_no_cartesian(df)
    assert_broadcast_join(df)
    assert count_scans_of(df, "documents") <= 2


def test_pretrain_pipeline_rejected_doc_cannot_evict_survivor(spark):
    """The LSH loser set runs over the GATE-SURVIVING corpus: a junk
    near-dup that the Gopher gate already rejected must not evict its
    clean twin.  doc 1 is doc 2's near-dup (one appended ######## token,
    gram-Jaccard ≈ 0.9) but fails ok_symbols; with the ungated loser set
    the pair (1, 2) would mark doc 2 a loser and drop it from the
    manifest — gated, doc 2 survives."""
    clean_words = (
        "the cat and dog run with speed for fun in the park " * 5
    ).split()
    clean = " ".join(clean_words)
    junk = clean + " ########"
    fillers = [
        " ".join(
            f"{w}{i}" if w not in ("the", "and", "for", "with") else w
            for w in clean_words
        )
        for i in range(3, 6)
    ]
    docs = spark.createDataFrame(
        [(1, junk), (2, clean)] + [(i, f) for i, f in enumerate(fillers, 3)],
        "doc_id long, text string",
    )
    t2 = {"documents": docs}
    gate = sel.gopher_rules(t2).toPandas().set_index("doc_id")["keep"]
    assert not gate[1] and gate[2] and gate[3:].all()
    manifest = sel.pretrain_pipeline(t2).toPandas()
    # every gate survivor (docs 2..5) reaches the manifest — the junk
    # twin's rejection removed it AND its eviction power
    assert manifest["n_docs"].sum() == 4


# --- cluster sampling ------------------------------------------------------


def test_cluster_sample_exact_quota(t):
    """Per cell: exactly min(K, |cell|) rows, rn dense in 1..quota."""
    from kafka_streams_repartition_spark.operators.similarity import (
        kmeans_cells,
    )

    cells = kmeans_cells(t).groupBy("cell").count().toPandas()
    got = sel.cluster_sample(t).toPandas()
    quota = {
        int(r["cell"]): min(sel.CLUSTER_SAMPLE_K, int(r["count"]))
        for _, r in cells.iterrows()
    }
    per_cell = got.groupby("cell")["rn"].agg(["count", "min", "max"])
    for cell, row in per_cell.iterrows():
        assert row["count"] == quota[int(cell)]
        assert row["min"] == 1 and row["max"] == quota[int(cell)]
    assert set(per_cell.index) == set(quota)


def test_cluster_sample_plan_window_group_limit(t):
    """rank-≤-K executes as WindowGroupLimit (per-partition top-K
    before the exchange), not a full per-cell sort-and-filter."""
    plan = explain_str(sel.cluster_sample(t))
    assert "WindowGroupLimit" in plan


# --- domain KL -------------------------------------------------------------


def test_domain_kl_matches_counter_replica(t, docs_pdf):
    """kl_nats equals a plain-python Counter replica of
    D(P_source ‖ P_corpus) for every source, and KL ≥ 0 (Gibbs)."""
    from collections import Counter
    from math import log

    corpus: Counter = Counter()
    per_src: dict[str, Counter] = {}
    for _, r in docs_pdf.iterrows():
        ws = [w for w in r["text"].lower().split(" ") if w != ""]
        per_src.setdefault(r["source"], Counter()).update(ws)
        corpus.update(ws)
    n_tot = sum(corpus.values())
    got = {r["source"]: r for _, r in sel.domain_kl(t).toPandas().iterrows()}
    assert set(got) == set(per_src)
    for src, cnt in per_src.items():
        n_s = sum(cnt.values())
        kl = sum(
            (c / n_s) * log((c * n_tot) / (corpus[w] * n_s))
            for w, c in cnt.items()
        )
        assert got[src]["n_tokens"] == n_s
        assert got[src]["n_terms"] == len(cnt)
        assert abs(got[src]["kl_nats"] - kl) < 5e-4, src
        assert got[src]["kl_nats"] >= 0.0


# --- token budget ----------------------------------------------------------


def test_token_budget_matches_sequential_waterfill(t, docs_pdf):
    """The closed-form window allocation equals the SEQUENTIAL UniMax
    fill (sort ascending by cap, give each source
    min(cap·avail, remaining/m)), the budget is exhausted, and no
    source exceeds the epoch cap."""
    avail = {
        src: sum(
            len([w for w in s.lower().split(" ") if w != ""])
            for s in g["text"]
        )
        for src, g in docs_pdf.groupby("source")
    }
    budget = (sum(avail.values()) * sel.TB_BUDGET_FRAC_PCT) // 100
    order = sorted(avail, key=lambda s: (avail[s] * sel.TB_EPOCH_CAP, s))
    remaining, want = float(budget), {}
    for i, src in enumerate(order):
        share = remaining / (len(order) - i)
        want[src] = min(float(avail[src] * sel.TB_EPOCH_CAP), share)
        remaining -= want[src]
    got = {r["source"]: r for _, r in sel.token_budget(t).toPandas().iterrows()}
    assert set(got) == set(avail)
    for src in avail:
        assert abs(got[src]["alloc_tokens"] - want[src]) < 0.02, src
        assert got[src]["epochs"] <= sel.TB_EPOCH_CAP + 1e-9
        assert got[src]["capped"] == (
            abs(want[src] - avail[src] * sel.TB_EPOCH_CAP) < 1e-6
        )
    # the budget is exhausted up to per-row rounding
    assert abs(sum(r["alloc_tokens"] for r in got.values()) - budget) < 0.01 * len(avail)


# --- temperature mixture -----------------------------------------------------


def test_temperature_mixture_matches_replica(t, docs_pdf):
    """Weights equal the p^alpha replica; they sum to 1; epochs are
    monotone non-increasing in source size (flattening oversamples the
    small sources — the repeat blowup UniMax caps)."""
    avail = {
        src: sum(
            len([w for w in s.lower().split(" ") if w != ""])
            for s in g["text"]
        )
        for src, g in docs_pdf.groupby("source")
    }
    n_tot = sum(avail.values())
    budget = (n_tot * sel.TB_BUDGET_FRAC_PCT) // 100
    alpha = sel.TEMP_ALPHA_PCT / 100.0
    wq = {s: (a / n_tot) ** alpha for s, a in avail.items()}
    z = sum(wq.values())
    got = {
        r["source"]: r
        for _, r in sel.temperature_mixture(t).toPandas().iterrows()
    }
    assert set(got) == set(avail)
    for src, a in avail.items():
        w = wq[src] / z
        assert abs(got[src]["weight"] - w) < 1e-5, src
        assert abs(got[src]["alloc_tokens"] - w * budget) < 0.5, src
        assert abs(got[src]["epochs"] - w * budget / a) < 1e-3, src
    assert abs(sum(r["weight"] for r in got.values()) - 1.0) < 1e-4
    by_size = sorted(avail, key=avail.get)
    eps = [got[s]["epochs"] for s in by_size]
    assert all(a >= b - 1e-9 for a, b in zip(eps, eps[1:]))


# --- semantic pipeline -------------------------------------------------------


def test_semantic_pipeline_matches_manual_composition(t):
    """The pipeline's per-source rollup equals composing its own
    stages by hand: gopher_rules keeps → semdedup over the gated
    embeddings → pandas rollup.  Verifies the stage ORDER (the
    quantizer sees only gate survivors) and the accounting identity
    n_docs = n_gate_fail + n_sem_removed + n_kept."""
    from pyspark.sql import functions as F

    from kafka_streams_repartition_spark.operators import dedup as dd

    keeps = sel.gopher_rules(t).select("doc_id", "keep").toPandas()
    keep_ids = set(keeps[keeps["keep"]]["doc_id"])
    gated_emb = t["embeddings"].filter(F.col("vec_id").isin(keep_ids))
    removed = {
        r["vec_id"]
        for r in dd.semdedup({**t, "embeddings": gated_emb})
        .filter("removed")
        .select("vec_id")
        .collect()
    }
    docs = t["documents"].select("doc_id", "source", "text").toPandas()
    got = {
        r["source"]: r
        for _, r in sel.semantic_pipeline(t).toPandas().iterrows()
    }
    for src, g in docs.groupby("source"):
        ids = list(g["doc_id"])
        n_fail = sum(1 for i in ids if i not in keep_ids)
        n_rm = sum(1 for i in ids if i in keep_ids and i in removed)
        n_kept = sum(1 for i in ids if i in keep_ids and i not in removed)
        kept_tok = sum(
            len([w for w in txt.lower().split(" ") if w != ""])
            for i, txt in zip(g["doc_id"], g["text"])
            if i in keep_ids and i not in removed
        )
        r = got[src]
        assert r["n_docs"] == len(ids), src
        assert r["n_gate_fail"] == n_fail, src
        assert r["n_sem_removed"] == n_rm, src
        assert r["n_kept"] == n_kept, src
        assert r["kept_tokens"] == kept_tok, src
        assert r["n_docs"] == r["n_gate_fail"] + r["n_sem_removed"] + r["n_kept"]


# --- quality AUC -------------------------------------------------------------


def test_quality_auc_matches_rank_replica(t):
    """The histogram-exact AUC equals the tie-aware Mann-Whitney
    midrank replica over quality_logreg's own scores, accuracy equals
    the mean of `correct`, and the trained filter beats chance."""
    scored = sel.quality_logreg(t).toPandas()
    pos = sorted(scored[scored["label"] == 1]["prob"])
    neg = sorted(scored[scored["label"] != 1]["prob"])
    wins = ties = 0
    for p in pos:
        for n in neg:
            if p > n:
                wins += 1
            elif p == n:
                ties += 1
    want_auc = round((wins + 0.5 * ties) / (len(pos) * len(neg)), 6)
    row = sel.quality_auc(t).collect()[0]
    assert row["n_pos"] == len(pos) and row["n_neg"] == len(neg)
    assert row["auc"] == want_auc
    assert row["n_correct"] == int(scored["correct"].sum())
    assert row["accuracy"] == round(row["n_correct"] / len(scored), 6)
    assert row["auc"] > 0.5


# --- mixture plan ------------------------------------------------------------


def test_mixture_plan_consistent_with_trio(t):
    """Every row reproduces its three source queries' values, every
    source appears once, and epoch_delta is positive exactly where
    temperature over-repeats relative to UniMax (the smallest sources
    under an epoch-capped budget)."""
    plan = {r["source"]: r for _, r in sel.mixture_plan(t).toPandas().iterrows()}
    kl = {r["source"]: r for _, r in sel.domain_kl(t).toPandas().iterrows()}
    ub = {r["source"]: r for _, r in sel.token_budget(t).toPandas().iterrows()}
    tm = {
        r["source"]: r
        for _, r in sel.temperature_mixture(t).toPandas().iterrows()
    }
    assert set(plan) == set(kl) == set(ub) == set(tm)
    for s, r in plan.items():
        assert r["kl_nats"] == kl[s]["kl_nats"]
        assert r["unimax_tokens"] == ub[s]["alloc_tokens"]
        assert r["unimax_capped"] == ub[s]["capped"]
        assert r["temp_tokens"] == tm[s]["alloc_tokens"]
        assert r["epoch_delta"] == round(
            tm[s]["epochs"] - ub[s]["epochs"], 4
        )
    # both policies spend the SAME global budget (that is what makes
    # the per-source epoch_delta comparable), and UniMax respects its
    # epoch cap everywhere while temperature is free to exceed it
    t_sum = sum(r["temp_tokens"] for r in plan.values())
    u_sum = sum(r["unimax_tokens"] for r in plan.values())
    assert abs(t_sum - u_sum) < 0.02 * len(plan)
    assert all(
        r["unimax_epochs"] <= sel.TB_EPOCH_CAP + 1e-9 for r in plan.values()
    )


def test_doremi_weights_tilt_properties(t):
    """The DoReMi table is a proper smoothed distribution and a true
    exponential tilt of the domain_kl diagnostic: weights sum to 1
    (within rounding), every weight carries at least the uniform
    smoothing floor c/k, excess_loss IS kl_nats (the unigram identity
    CE − H = KL), and the tilt ordering holds — the weight/base_share
    ratio is nondecreasing in excess loss."""
    import math

    w = sel.doremi_weights(t).toPandas()
    kl = {r["source"]: r["kl_nats"] for _, r in sel.domain_kl(t).toPandas().iterrows()}
    k = len(w)
    assert abs(w["weight"].sum() - 1.0) < 5e-6 * k
    assert (w["weight"] >= sel.DOREMI_SMOOTH / k - 1e-9).all()
    assert {r["source"]: r["excess_loss"] for _, r in w.iterrows()} == kl
    # tilt law: (w - c/k) / base_share ∝ exp(η·excess) — check the
    # recovered η against the module constant (rounding gives slack)
    for _, r in w.iterrows():
        lifted = (r["weight"] - sel.DOREMI_SMOOTH / k) / (
            (1 - sel.DOREMI_SMOOTH) * r["base_share"]
        )
        # lifted = exp(η·kl) / Z with a common Z > 0
        assert lifted > 0
    rows = sorted(w.itertuples(), key=lambda r: r.excess_loss)
    ratios = [
        math.log(
            (r.weight - sel.DOREMI_SMOOTH / k)
            / ((1 - sel.DOREMI_SMOOTH) * r.base_share)
        )
        - sel.DOREMI_ETA * r.excess_loss
        for r in rows
    ]
    # all residuals equal −ln Z up to rounding noise
    assert max(ratios) - min(ratios) < 5e-3


def test_rho_loss_select_semantics(t):
    """RHO-loss selection: only TRAIN-split docs are scored (holdout
    docs supply the irreducible model, never candidates), rho is
    exactly train_loss − irreducible_loss, the output is ordered by
    (rho desc, doc_id), and both losses are positive (smoothed
    probabilities are < 1)."""
    out = sel.rho_loss_select(t).toPandas()
    assert len(out) <= sel.RHO_TOP_N
    # holdout docs never appear
    from pyspark.sql import functions as F

    from kafka_streams_repartition_spark.operators.selection import (
        _md5_long,
    )

    hold = {
        r["doc_id"]
        for r in t["documents"]
        .select("doc_id")
        .withColumn(
            "h",
            _md5_long(F.col("doc_id").cast("string")) % sel.RHO_HOLDOUT_MOD
            == 0,
        )
        .filter("h")
        .collect()
    }
    assert hold and not (set(out["doc_id"]) & hold)
    for _, r in out.iterrows():
        assert r["rho"] == round(
            round(r["train_loss"], 4) - round(r["irreducible_loss"], 4), 4
        )
    # rho ordering with doc_id tiebreak
    key = list(zip(-out["rho"], out["doc_id"]))
    assert key == sorted(key)
    assert (out["train_loss"] > 0).all()
    assert (out["irreducible_loss"] > 0).all()


def _rows(df, cols=None):
    cols = cols or sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_quality_logreg_deterministic_and_cache_faithful(t):
    """Two fresh trainings of the GD loop produce bit-identical scored
    frames (every sum is exact DECIMAL and rounds re-synchronize at 12
    decimals, so repartitioning/order cannot drift them), and the
    shared consumer cache serves exactly the producer's rows."""
    a = _rows(sel.quality_logreg(t))
    b = _rows(sel.quality_logreg(t))
    assert a == b
    assert _rows(sel._quality_scored_cached(t)) == a
