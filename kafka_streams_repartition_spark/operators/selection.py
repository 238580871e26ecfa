"""Training-data SELECTION operators — the "which documents make the
cut" stage that sits between cleaning/dedup and tokenization in an LLM
data pipeline:

- :func:`dsir_select` — DSIR importance resampling (Xie et al., NeurIPS
  2023, arXiv:2302.03169): hashed-bigram importance weights toward a
  target domain, Gumbel top-k resampling.
- :func:`ccnet_buckets` — CCNet head/middle/tail perplexity bucketing
  (Wenzek et al., LREC 2020): per-language LM-score terciles assigned
  from a fixed-width histogram, never a global sort.
- :func:`quality_logreg` — a trained quality classifier: full-batch
  gradient-descent logistic regression over hashed presence features,
  every step a declarative aggregation (fasttext-style linear filter,
  the scale shape of Brown et al. 2020's quality model).
- :func:`gopher_rules` — the Rae et al. 2021 quality-rule battery as a
  zero-shuffle narrow map with per-rule ablation flags.
- :func:`cluster_sample` — diversity sampling: per-k-means-cell quotas
  with a deterministic hash priority (the "coverage over the embedding
  space" sampler used alongside SemDeDup-style pruning).
- :func:`pair_mining` — contrastive training-pair construction:
  LSH-verified near-dup positives + md5-seeded random negatives, both
  with exact Jaccard (the E5/GTE embedding-training recipe).
- :func:`pretrain_pipeline` — the whole path composed as ONE plan:
  rule gate inlined into the digest scan → exact dedup → near-dup
  removal → fixed-budget shard packing → the pack manifest.

All hashing is the portable md5 family shared with ``dedup``/
``text_analysis`` so every DuckDB oracle reproduces results bit-exactly.
Reference parity note: the reference repo (kafka-streams-repartition)
has no data-selection surface — these extend the engine toward the
100 TB training-data use case the survey's north star describes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.caching import Memo
from ..functions.text import word_ngrams, words
from ..sources.tables import fan_out

__all__ = [
    "dsir_select",
    "ccnet_buckets",
    "quality_logreg",
    "gopher_rules",
    "cluster_sample",
    "pair_mining",
    "pretrain_pipeline",
    "epoch_shuffle",
    "shard_manifest",
    "write_training_shards",
    "domain_kl",
    "token_budget",
    "temperature_mixture",
    "semantic_pipeline",
    "quality_auc",
    "mixture_plan",
]


def _md5_long(col: Column) -> Column:
    """First 8 md5 hex digits as a long in [0, 2^32) — the portable
    hash shared with the DuckDB oracles."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _md5_long_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


# ---------------------------------------------------------------------------
# DSIR: data selection via importance resampling
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 128  # hashed bigram feature space
DSIR_ALPHA = 0.5  # Laplace smoothing pseudo-count per bucket
DSIR_K = 200  # resampled documents to keep
# target-domain proxy: the "curated" sources the sampler steers toward
DSIR_TARGET_SOURCES = ["src0", "src1", "src2"]


def dsir_select(t: dict[str, DataFrame]) -> DataFrame:
    """DSIR (Xie et al. 2023): select raw documents that *look like* a
    target domain by importance weights over hashed n-gram features,
    then resample with Gumbel top-k.

    Features are word bigrams hashed into ``DSIR_BUCKETS`` buckets (the
    paper's hashed n-gram generative model); the target distribution is
    estimated from the docs of ``DSIR_TARGET_SOURCES`` (the curated-
    domain proxy), the raw distribution from the whole corpus, both
    Laplace-smoothed.  A document's log importance weight is
    Σ_b count_b · (ln p_target[b] − ln p_raw[b]); sampling without
    replacement ∝ weight is the Gumbel-max trick with a deterministic
    md5-seeded Gumbel, so the draw is reproducible and oracle-checkable.

    Scale shape: one tokenize/hash pass (token strings never shuffle —
    only 128 bucket ids); both distributions come from the SAME
    partial-combined aggregate (≤128 rows each); the log-ratio table
    broadcasts; per-doc weights are one keyed sum with decimal-exact
    addition; the final draw is TakeOrderedAndProject (top-K, no global
    sort materialized).  Linear in corpus size, constant state.
    """
    docs = fan_out(t["documents"])
    feats = (
        docs.select(
            "doc_id",
            "source",
            F.explode_outer(
                word_ngrams(words(F.col("text")), 2)
            ).alias("gram"),
        )
        .withColumn(
            "b",
            F.when(
                F.col("gram").isNotNull(),
                _md5_long(F.col("gram")) % DSIR_BUCKETS,
            ),
        )
        .localCheckpoint(eager=False)
    )
    is_target = F.col("source").isin(DSIR_TARGET_SOURCES)
    ct = feats.filter(F.col("b").isNotNull()).groupBy("b").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.when(is_target, 1).otherwise(0)).alias("n_tgt"),
    )
    tot = ct.agg(
        F.sum("n_raw").alias("t_raw"), F.sum("n_tgt").alias("t_tgt")
    )
    lr = (
        ct.crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.round(
                F.log(
                    (F.col("n_tgt") + F.lit(DSIR_ALPHA))
                    / (F.col("t_tgt") + F.lit(DSIR_ALPHA * DSIR_BUCKETS))
                )
                - F.log(
                    (F.col("n_raw") + F.lit(DSIR_ALPHA))
                    / (F.col("t_raw") + F.lit(DSIR_ALPHA * DSIR_BUCKETS))
                ),
                12,
            ).alias("lr"),
        )
    )
    per_doc = (
        feats.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("lr").cast("decimal(28,10)"))
            .cast("double")
            .alias("logw"),
            F.count(F.lit(1)).alias("n_feats"),
        )
    )
    # docs with no bigram get logw 0 (weight 1): join back on the full
    # doc universe so short docs still enter the draw
    base = docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("logw", F.lit(0.0)).alias("logw"),
        F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
    )
    # deterministic Gumbel: u in (0,1) from the doc_id's md5, g = -ln(-ln u)
    u = (_md5_long(F.col("doc_id").cast("string")) + 0.5) / F.lit(
        2.0**32
    )
    return (
        base.withColumn("priority", F.col("logw") - F.log(-F.log(u)))
        .orderBy(F.col("priority").desc(), "doc_id")
        .limit(DSIR_K)
        .select(
            "doc_id",
            "n_feats",
            F.round("logw", 4).alias("logw"),
            F.round("priority", 4).alias("priority"),
        )
    )


DSIR_SELECT_ORACLE = f"""
WITH feats AS (
    SELECT doc_id, source,
           {_md5_long_sql("gram")} % {DSIR_BUCKETS} AS b
    FROM (
        SELECT doc_id, source,
               unnest(CASE WHEN len(w) >= 2 THEN list_transform(
                   generate_series(1, len(w) - 1),
                   i -> w[i] || ' ' || w[i+1]) ELSE [] END) AS gram
        FROM (
            SELECT doc_id, source,
                   list_filter(string_split(lower(text), ' '),
                               x -> x != '') AS w
            FROM documents
        )
    )
),
ct AS (
    SELECT b, count(*) AS n_raw,
           sum(CASE WHEN source IN ('src0','src1','src2')
                    THEN 1 ELSE 0 END) AS n_tgt
    FROM feats GROUP BY 1
),
tot AS (SELECT sum(n_raw) AS t_raw, sum(n_tgt) AS t_tgt FROM ct),
lr AS (
    SELECT b,
           round(ln((n_tgt + {DSIR_ALPHA})
                    / (t_tgt + {DSIR_ALPHA * DSIR_BUCKETS}))
                 - ln((n_raw + {DSIR_ALPHA})
                      / (t_raw + {DSIR_ALPHA * DSIR_BUCKETS})), 12) AS lr
    FROM ct CROSS JOIN tot
),
per_doc AS (
    SELECT f.doc_id,
           CAST(sum(CAST(lr.lr AS DECIMAL(28,10))) AS DOUBLE) AS logw,
           count(*) AS n_feats
    FROM feats f JOIN lr ON f.b = lr.b
    GROUP BY 1
),
base AS (
    SELECT d.doc_id,
           coalesce(p.logw, 0.0) AS logw,
           CAST(coalesce(p.n_feats, 0) AS BIGINT) AS n_feats,
           coalesce(p.logw, 0.0)
             - ln(-ln(({_md5_long_sql("CAST(d.doc_id AS VARCHAR)")} + 0.5)
                      / 4294967296.0)) AS priority
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
)
SELECT doc_id, n_feats, round(logw, 4) AS logw,
       round(priority, 4) AS priority
FROM base
ORDER BY priority DESC, doc_id
LIMIT {DSIR_K}
"""


# ---------------------------------------------------------------------------
# CCNet head/middle/tail perplexity bucketing
# ---------------------------------------------------------------------------

CCNET_BINS = 8192  # fixed-width histogram bins over -avg_logprob
CCNET_BIN_SCALE = 1024  # bins per nat: 1 millinat resolution over [0, 8)


def ccnet_buckets(t: dict[str, DataFrame]) -> DataFrame:
    """CCNet's quality partition (Wenzek et al. 2020): score every
    document with the corpus' own unigram LM and split EACH LANGUAGE
    into head / middle / tail thirds by score.

    The tercile cut is deliberately NOT a per-language global sort
    (CCNet thresholds on perplexity *values*): scores land in a
    fixed-width histogram (``CCNET_BIN_SCALE`` bins per nat of
    −avg-logprob — millinat resolution, far finer than the score
    spread — clamped to ``CCNET_BINS``), the (lang, bin) counts
    cumulate per language, and a bin is head while the mass strictly
    before it is < ⅓ of the language (middle < ⅔, else tail).
    Documents inherit their bin's bucket via a broadcast join — all
    docs sharing an LM score get the same verdict, exactly like
    CCNet's value thresholds.

    Scale shape: the LM pass is ``unigram_logprob``'s (term counts
    partial-combined, vocabulary shuffles as keys only, decimal-exact
    per-doc sums); the histogram exchange carries ≤ langs·8192 rows
    however large the corpus; the cumulative window runs on that tiny
    frame; the verdict join broadcasts.  No per-language sort of
    document rows anywhere.
    """
    from .text_analysis import _unigram_token_lp

    docs = t["documents"]
    toks = (
        fan_out(docs)
        .select(
            "doc_id",
            "lang",
            F.explode_outer(words(F.col("text"))).alias("term"),
        )
        .filter(F.col("term").isNotNull())
    )
    tf = (
        toks.groupBy("doc_id", "lang", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    counted, lp = _unigram_token_lp(tf)
    scored = (
        counted.groupBy("doc_id", "lang")
        .agg(
            (F.sum(lp).cast("double") / F.sum("tf")).alias("avg_lp")
        )
        .withColumn(
            "bin",
            F.least(
                F.lit(CCNET_BINS - 1),
                F.greatest(
                    F.lit(0),
                    F.floor(-F.col("avg_lp") * CCNET_BIN_SCALE),
                ),
            ).cast("int"),
        )
        .localCheckpoint(eager=False)
    )
    hist = scored.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("lang")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cut = hist.select(
        "lang",
        "bin",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("before"),
        F.sum("cnt").over(Window.partitionBy("lang")).alias("ntot"),
    ).select(
        "lang",
        "bin",
        F.when(F.col("before") * 3 < F.col("ntot"), "head")
        .when(F.col("before") * 3 < F.col("ntot") * 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
    return scored.join(F.broadcast(cut), ["lang", "bin"]).select(
        "doc_id",
        "lang",
        F.round("avg_lp", 4).alias("avg_logprob"),
        F.col("bin").cast("long").alias("bin"),
        "bucket",
    )


CCNET_BUCKETS_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, lang,
           unnest(list_filter(string_split(lower(text), ' '),
                              x -> x != '')) AS term
    FROM documents
),
tf AS (
    SELECT doc_id, lang, term, count(*) AS tf FROM toks GROUP BY 1, 2, 3
),
ct AS (SELECT term, sum(tf) AS c FROM tf GROUP BY 1),
tot AS (SELECT sum(c) AS tot FROM ct),
scored AS (
    SELECT doc_id, lang,
           CAST(sum(CAST(tf.tf * ln(CAST(ct.c AS DOUBLE)
                                    / CAST(tot.tot AS DOUBLE))
                         AS DECIMAL(28,10))) AS DOUBLE)
             / sum(tf.tf) AS avg_lp
    FROM tf JOIN ct USING (term) CROSS JOIN tot
    GROUP BY 1, 2
),
binned AS (
    SELECT doc_id, lang, avg_lp,
           CAST(least({CCNET_BINS - 1},
                      greatest(0, floor(-avg_lp * {CCNET_BIN_SCALE})))
                AS INT) AS bin
    FROM scored
),
hist AS (SELECT lang, bin, count(*) AS cnt FROM binned GROUP BY 1, 2),
cut AS (
    SELECT lang, bin,
           coalesce(sum(cnt) OVER (
               PARTITION BY lang ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS before,
           sum(cnt) OVER (PARTITION BY lang) AS ntot
    FROM hist
)
SELECT b.doc_id, b.lang, round(b.avg_lp, 4) AS avg_logprob,
       CAST(b.bin AS BIGINT) AS bin,
       CASE WHEN c.before * 3 < c.ntot THEN 'head'
            WHEN c.before * 3 < c.ntot * 2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM binned b JOIN cut c ON b.lang = c.lang AND b.bin = c.bin
"""


# ---------------------------------------------------------------------------
# Trained quality classifier: hashed-feature logistic regression
# ---------------------------------------------------------------------------

LOGREG_BUCKETS = 64  # hashed unigram presence features
LOGREG_ROUNDS = 6  # full-batch GD rounds
LOGREG_LR = 6.0
BIAS_BUCKET = -1


# One cached scored frame per documents frame (the loader memoizes that
# per (session, sf_dir)): quality_logreg, quality_auc and
# quality_calibration all read the SAME trained classifier's output, and
# retraining the 6-round GD once per gate tripled the family's bench
# cost for identical rows.
_LOGREG_CACHE = Memo(2)


def _quality_scored_cached(t: dict[str, DataFrame]) -> DataFrame:
    return _LOGREG_CACHE.get(
        t["documents"],
        (LOGREG_BUCKETS, LOGREG_ROUNDS, LOGREG_LR, BIAS_BUCKET),
        lambda: quality_logreg(t),
    )


def quality_logreg(t: dict[str, DataFrame]) -> DataFrame:
    """A *trained* quality filter, not a rule: full-batch
    gradient-descent logistic regression over mean-centered hashed
    token-presence features, predicting the curated-language label
    (lang = 'en' — the stand-in for "accept-list" labels à la GPT-3's
    quality classifier, Brown et al. 2020 App. A), scored back over
    every document.

    Centering is what makes few-round GD converge (uncentered presence
    features share a huge common component with the bias and the loss
    oscillates — measured: uncentered never beats the majority class,
    centered does by round 8), and it costs nothing at scale because it
    never densifies: with μ_b the bucket's presence rate,
    score_d = Σ_{b∈d} w_b − Σ_b μ_b·w_b — a sparse sum minus a
    per-round SCALAR — and grad_b = g_b^sparse − μ_b·S with
    S = Σ_d (p_d−y_d) another scalar.  Absent features never
    materialize.

    Every GD step is declarative: the sparse score is one broadcast
    join + keyed sum (weights ≤65 rows, re-synchronized at 12 decimals
    per round so the unrolled-CTE oracle replays the float path
    bit-for-bit — the ``pca_power_iteration`` discipline); the sparse
    gradient is the mirror aggregation; scalars come from the tiny
    frames; weight updates are ``localCheckpoint``ed so lineage stays
    one join deep per round.  Token strings never shuffle — only
    bucket ids.  Per-round cost is two keyed exchanges over
    (doc × ≤65) rows: linear in corpus size, constant model state —
    exactly how a linear probe trains at 100 TB.

    Output: one row per document — label, fitted probability,
    prediction, correctness flag.
    """
    docs = fan_out(t["documents"])
    presence = (
        docs.select(
            "doc_id",
            F.explode(words(F.col("text"))).alias("term"),
        )
        .select(
            "doc_id",
            (_md5_long(F.col("term")) % LOGREG_BUCKETS).alias("b"),
        )
        .distinct()
    )
    feats = (
        presence.unionByName(
            docs.select(
                "doc_id", F.lit(BIAS_BUCKET).cast("long").alias("b")
            )
        )
        .localCheckpoint(eager=False)
    )
    labels = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    ).localCheckpoint(eager=False)
    n = labels.agg(F.count(F.lit(1)).alias("n"))
    # presence rate per feature bucket (bias stays uncentered)
    mu = (
        presence.groupBy("b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(n))
        .select("b", (F.col("cnt") / F.col("n")).alias("mu"))
        .localCheckpoint(eager=False)
    )
    w = feats.select("b").distinct().select(
        "b", F.lit(0.0).alias("w")
    ).localCheckpoint(eager=False)

    def sigmoid(s):
        return F.lit(1.0) / (F.lit(1.0) + F.exp(-s))

    def scores(wt: DataFrame) -> DataFrame:
        # centering constant c = Σ_b μ_b·w_b (scalar, bias excluded)
        c = (
            mu.join(wt, "b")
            .agg(
                F.coalesce(
                    F.sum(
                        (F.col("mu") * F.col("w")).cast("decimal(28,12)")
                    ).cast("double"),
                    F.lit(0.0),
                ).alias("c")
            )
        )
        return (
            feats.join(F.broadcast(wt), "b")
            .groupBy("doc_id")
            .agg(
                F.sum(F.col("w").cast("decimal(20,12)"))
                .cast("double")
                .alias("sp")
            )
            .crossJoin(F.broadcast(c))
            .select("doc_id", (F.col("sp") - F.col("c")).alias("s"))
        )

    for _ in range(LOGREG_ROUNDS):
        p = scores(w).select("doc_id", sigmoid(F.col("s")).alias("p"))
        resid = p.join(labels, "doc_id").select(
            "doc_id", (F.col("p") - F.col("y")).alias("r")
        )
        big_s = resid.agg(
            F.sum(F.col("r").cast("decimal(28,12)"))
            .cast("double")
            .alias("S")
        )
        gsp = (
            feats.join(resid, "doc_id")
            .groupBy("b")
            .agg(
                F.sum(F.col("r").cast("decimal(28,12)"))
                .cast("double")
                .alias("g")
            )
        )
        w = (
            w.join(gsp, "b")
            .join(mu, "b", "left")
            .crossJoin(F.broadcast(big_s))
            .crossJoin(F.broadcast(n))
            .select(
                "b",
                F.round(
                    F.col("w")
                    - F.lit(LOGREG_LR)
                    * (
                        F.col("g")
                        - F.coalesce("mu", F.lit(0.0)) * F.col("S")
                    )
                    / F.col("n"),
                    12,
                ).alias("w"),
            )
            .localCheckpoint(eager=False)
        )
    final = (
        scores(w)
        .join(labels, "doc_id")
        .select(
            "doc_id",
            F.col("y").cast("int").alias("label"),
            F.round(sigmoid(F.col("s")), 6).alias("prob"),
        )
    )
    return final.select(
        "doc_id",
        "label",
        "prob",
        (F.col("prob") >= 0.5).alias("pred"),
        ((F.col("prob") >= 0.5) == (F.col("label") == 1)).alias("correct"),
    )


def _logreg_oracle() -> str:
    head = f"""
WITH presence AS MATERIALIZED (
    SELECT DISTINCT doc_id,
           {_md5_long_sql("term")} % {LOGREG_BUCKETS} AS b
    FROM (
        SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '),
                                  x -> x != '')) AS term
        FROM documents
    )
),
feats AS MATERIALIZED (
    SELECT doc_id, b FROM presence
    UNION ALL
    SELECT doc_id, CAST({BIAS_BUCKET} AS BIGINT) AS b FROM documents
),
labels AS MATERIALIZED (
    SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
    FROM documents
),
nd AS MATERIALIZED (SELECT count(*) AS n FROM labels),
mu AS MATERIALIZED (
    SELECT b, count(*) / (SELECT n FROM nd) AS mu
    FROM presence GROUP BY 1
),
w0 AS MATERIALIZED (SELECT DISTINCT b, 0.0 AS w FROM feats)"""
    parts = [head]
    for k in range(1, LOGREG_ROUNDS + 1):
        parts.append(f"""
c{k} AS MATERIALIZED (
    SELECT coalesce(CAST(sum(CAST(mu.mu * w.w AS DECIMAL(28,12)))
                         AS DOUBLE), 0.0) AS c
    FROM mu JOIN w{k - 1} w ON mu.b = w.b
),
resid{k} AS MATERIALIZED (
    SELECT s.doc_id,
           1.0 / (1.0 + exp(-s.s)) - l.y AS r
    FROM (
        SELECT f.doc_id,
               CAST(sum(CAST(w.w AS DECIMAL(20,12))) AS DOUBLE)
                 - (SELECT c FROM c{k}) AS s
        FROM feats f JOIN w{k - 1} w ON f.b = w.b
        GROUP BY 1
    ) s JOIN labels l ON s.doc_id = l.doc_id
),
bigs{k} AS MATERIALIZED (
    SELECT CAST(sum(CAST(r AS DECIMAL(28,12))) AS DOUBLE) AS S
    FROM resid{k}
),
w{k} AS MATERIALIZED (
    SELECT w.b,
           round(w.w - {LOGREG_LR}
                 * (g.g - coalesce(mu.mu, 0.0) * (SELECT S FROM bigs{k}))
                 / (SELECT n FROM nd), 12) AS w
    FROM w{k - 1} w
    JOIN (
        SELECT f.b, CAST(sum(CAST(r.r AS DECIMAL(28,12))) AS DOUBLE) AS g
        FROM feats f JOIN resid{k} r ON f.doc_id = r.doc_id
        GROUP BY 1
    ) g ON w.b = g.b
    LEFT JOIN mu ON w.b = mu.b
)""")
    tail = f""",
cf AS MATERIALIZED (
    SELECT coalesce(CAST(sum(CAST(mu.mu * w.w AS DECIMAL(28,12)))
                         AS DOUBLE), 0.0) AS c
    FROM mu JOIN w{LOGREG_ROUNDS} w ON mu.b = w.b
),
final AS (
    SELECT f.doc_id,
           CAST(sum(CAST(w.w AS DECIMAL(20,12))) AS DOUBLE)
             - (SELECT c FROM cf) AS s
    FROM feats f JOIN w{LOGREG_ROUNDS} w ON f.b = w.b
    GROUP BY 1
)
SELECT fi.doc_id,
       CAST(l.y AS INT) AS label,
       round(1.0 / (1.0 + exp(-fi.s)), 6) AS prob,
       round(1.0 / (1.0 + exp(-fi.s)), 6) >= 0.5 AS pred,
       (round(1.0 / (1.0 + exp(-fi.s)), 6) >= 0.5) = (l.y = 1) AS correct
FROM final fi JOIN labels l ON fi.doc_id = l.doc_id"""
    return ",".join(parts) + tail


QUALITY_LOGREG_ORACLE = _logreg_oracle()


# ---------------------------------------------------------------------------
# Gopher rule battery
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WLEN = 3.0
GOPHER_MAX_MEAN_WLEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOPWORDS = 2
# Gopher's canonical eight plus the short function words this corpus'
# synthetic vocabulary actually contains — without them the rule is
# degenerate (all-fail) here
GOPHER_STOPWORDS = [
    "the", "be", "to", "of", "and", "that", "have", "with",
    "a", "in", "is", "for", "on",
]


def _gopher_metrics() -> dict[str, Column]:
    """The rule metrics as pure column expressions over ``text`` —
    exposed so composed pipelines (``pretrain_pipeline``) can inline
    the gate into their own scan instead of re-reading documents."""
    w = words(F.col("text"))
    n_words = F.size(w)
    sum_len = F.aggregate(
        w, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    mean_wlen = F.when(
        n_words > 0, sum_len.cast("double") / n_words
    ).otherwise(F.lit(0.0))
    n_hash = F.length(F.col("text")) - F.length(
        F.regexp_replace(F.col("text"), "#", "")
    )
    n_ellipsis = (
        F.length(F.col("text"))
        - F.length(F.regexp_replace(F.col("text"), r"\.\.\.", ""))
    ) / 3
    symbol_ratio = F.when(
        n_words > 0, (n_hash + n_ellipsis).cast("double") / n_words
    ).otherwise(F.lit(0.0))
    n_alpha = F.size(F.filter(w, lambda x: x.rlike("[a-z]")))
    alpha_frac = F.when(
        n_words > 0, n_alpha.cast("double") / n_words
    ).otherwise(F.lit(0.0))
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(w),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    return {
        "n_words": n_words,
        "mean_wlen": mean_wlen,
        "symbol_ratio": symbol_ratio,
        "alpha_frac": alpha_frac,
        "n_stop": n_stop,
    }


def _gopher_flags(m: dict[str, Column]) -> dict[str, Column]:
    return {
        "ok_word_count": (m["n_words"] >= GOPHER_MIN_WORDS)
        & (m["n_words"] <= GOPHER_MAX_WORDS),
        "ok_mean_wlen": (m["mean_wlen"] >= GOPHER_MIN_MEAN_WLEN)
        & (m["mean_wlen"] <= GOPHER_MAX_MEAN_WLEN),
        "ok_symbols": m["symbol_ratio"] <= GOPHER_MAX_SYMBOL_RATIO,
        "ok_alpha": m["alpha_frac"] >= GOPHER_MIN_ALPHA_FRAC,
        "ok_stopwords": m["n_stop"] >= GOPHER_MIN_STOPWORDS,
    }


def _gopher_keep() -> Column:
    keep = None
    for c in _gopher_flags(_gopher_metrics()).values():
        keep = c if keep is None else (keep & c)
    return keep


def gopher_rules(t: dict[str, DataFrame]) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. 2021, App. A1.1),
    the rule-based sibling of :func:`quality_logreg`: per-document
    pass/fail on each named rule plus the overall keep verdict —
    word-count bounds, mean-word-length window, symbol-to-word ratio
    (``#``/ellipsis), minimum fraction of words with an alphabetic
    character, and the ≥2-distinct-stopwords requirement.  (The
    line-shape rules — bullet/ellipsis line fractions — are vacuous on
    this corpus' single-line documents and omitted; ``text_stats`` /
    ``repetition_stats`` carry the repetition signals.)

    Scale shape: a single narrow map over the documents scan — every
    rule is a column expression over the token array (no shuffle, no
    UDF, survives whole-stage codegen), so the filter runs at scan
    throughput and composes with any downstream selection as a
    pushed predicate.  Per-rule flags are emitted (not just the AND)
    because at 100 TB the rule ablation table IS the tuning loop.
    """
    m = _gopher_metrics()
    flags = _gopher_flags(m)
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    return t["documents"].select(
        "doc_id",
        m["n_words"].cast("long").alias("n_words"),
        F.round(m["mean_wlen"], 4).alias("mean_word_len"),
        F.round(m["symbol_ratio"], 4).alias("symbol_ratio"),
        F.round(m["alpha_frac"], 4).alias("alpha_frac"),
        m["n_stop"].cast("long").alias("n_stopwords"),
        *[c.alias(name) for name, c in flags.items()],
        keep.alias("keep"),
    )


_G_STOPS = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)

GOPHER_RULES_ORACLE = f"""
WITH base AS (
    SELECT doc_id, text,
           list_filter(string_split(lower(text), ' '), x -> x != '') AS w
    FROM documents
),
m AS (
    SELECT doc_id,
           len(w) AS n_words,
           CASE WHEN len(w) > 0 THEN
               CAST(coalesce(list_aggregate(
                   list_transform(w, x -> length(x)), 'sum'), 0) AS DOUBLE)
               / len(w)
           ELSE 0.0 END AS mean_wlen,
           CASE WHEN len(w) > 0 THEN
               CAST(length(text) - length(replace(text, '#', ''))
                    + (length(text) - length(replace(text, '...', ''))) / 3
                    AS DOUBLE) / len(w)
           ELSE 0.0 END AS symbol_ratio,
           CASE WHEN len(w) > 0 THEN
               CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
                    AS DOUBLE) / len(w)
           ELSE 0.0 END AS alpha_frac,
           len(list_intersect(list_distinct(w), [{_G_STOPS}])) AS n_stop
    FROM base
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       round(mean_wlen, 4) AS mean_word_len,
       round(symbol_ratio, 4) AS symbol_ratio,
       round(alpha_frac, 4) AS alpha_frac,
       CAST(n_stop AS BIGINT) AS n_stopwords,
       n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
           AS ok_word_count,
       mean_wlen BETWEEN {GOPHER_MIN_MEAN_WLEN} AND {GOPHER_MAX_MEAN_WLEN}
           AS ok_mean_wlen,
       symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO} AS ok_symbols,
       alpha_frac >= {GOPHER_MIN_ALPHA_FRAC} AS ok_alpha,
       n_stop >= {GOPHER_MIN_STOPWORDS} AS ok_stopwords,
       (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
       AND (mean_wlen BETWEEN {GOPHER_MIN_MEAN_WLEN}
                          AND {GOPHER_MAX_MEAN_WLEN})
       AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
       AND alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
       AND n_stop >= {GOPHER_MIN_STOPWORDS} AS keep
FROM m
"""


# ---------------------------------------------------------------------------
# Cluster-quota diversity sampling
# ---------------------------------------------------------------------------

CLUSTER_SAMPLE_K = 10  # per-cell quota


def cluster_sample(t: dict[str, DataFrame]) -> DataFrame:
    """Diversity sampling over the embedding space: at most
    ``CLUSTER_SAMPLE_K`` vectors per trained k-means cell, chosen by a
    deterministic md5 priority — the uniform-coverage counterpart of
    :func:`dedup.semdedup` (prune redundancy there, then draw a
    representative, balanced subset here; the cluster-balanced sampling
    of DoReMi/D4-style curation).

    Scale shape: cell assignment is the zero-shuffle map pass of the
    memoized quantizer (``similarity.kmeans_model``); the quota is
    rank-≤-K over (cell, priority), which Spark's WindowGroupLimit
    rewrite executes as a per-partition top-K (each task keeps K rows
    per cell before the exchange) — no cell ever materializes fully in
    memory, no global sort.  Output is ≤ K·cells rows.
    """
    from pyspark.sql import Window

    from .similarity import kmeans_model

    pri = _md5_long(F.col("vec_id").cast("string"))
    w = Window.partitionBy("cell").orderBy("priority", "vec_id")
    return (
        kmeans_model(t)[0]
        .select("vec_id", "cell", pri.alias("priority"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= CLUSTER_SAMPLE_K)
        .select(
            "vec_id",
            "cell",
            F.col("rn").cast("long").alias("rn"),
        )
    )


def _cluster_sample_oracle() -> str:
    from .similarity import KMEANS_CELLS_ORACLE

    chain = KMEANS_CELLS_ORACLE
    tail = chain.rindex("\nSELECT vec_id, cell FROM assign")
    with_block = chain[:tail]
    final_assign = chain[tail + len("\nSELECT vec_id, cell FROM ") :].strip()
    return f"""{with_block},
ranked AS (
    SELECT vec_id, cell,
           row_number() OVER (
               PARTITION BY cell
               ORDER BY {_md5_long_sql("CAST(vec_id AS VARCHAR)")}, vec_id
           ) AS rn
    FROM {final_assign}
)
SELECT vec_id, cell, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {CLUSTER_SAMPLE_K}
"""


CLUSTER_SAMPLE_ORACLE = _cluster_sample_oracle()


# ---------------------------------------------------------------------------
# Contrastive pair mining
# ---------------------------------------------------------------------------


def pair_mining(t: dict[str, DataFrame]) -> DataFrame:
    """Contrastive training-pair construction for embedding-model /
    reranker training (the E5 / GTE recipe): POSITIVES are the
    verified MinHash near-dup pairs (textually related documents —
    LSH-bounded, never all-pairs), and each positive anchor gets one
    deterministic RANDOM NEGATIVE drawn by hashing the anchor id into
    the id space (md5-seeded, so the draw is reproducible and
    oracle-checkable).  Both pair kinds carry their exact Jaccard, so
    downstream filtering can enforce a positive/negative margin.

    Scale shape: the positive leg is :func:`dedup.dedup_minhash_lsh`
    unchanged; the negative leg is one hash computation per distinct
    anchor plus two keyed joins to fetch the two gram arrays (bounded
    by anchor count, not corpus size).  The id-space draw uses
    ``doc_id % n`` arithmetic — on the dense testdata ids this always
    lands; with sparse ids the inner join to the gram table simply
    drops misses (both engines identically).
    """
    from .dedup import _doc_gram_arrays, _minhash_pairs

    pos = _minhash_pairs(t).select(
        F.col("doc_a").alias("anchor"),
        F.col("doc_b").alias("partner"),
        "jaccard",
        F.lit(1).alias("label"),
    )
    nd = t["documents"].agg(F.count(F.lit(1)).alias("n"))
    anchors = pos.select("anchor").distinct()
    raw_neg = _md5_long(F.col("anchor").cast("string")) % F.col("n")
    neg_ids = (
        anchors.crossJoin(F.broadcast(nd))
        .select(
            "anchor",
            F.when(raw_neg == F.col("anchor"), (raw_neg + 1) % F.col("n"))
            .otherwise(raw_neg)
            .alias("partner"),
        )
    )
    arr = _doc_gram_arrays(t["documents"]).localCheckpoint(eager=False)
    ga = arr.select(
        F.col("doc_id").alias("anchor"),
        F.col("grams").alias("gra"),
        F.col("n").alias("na"),
    )
    gb = arr.select(
        F.col("doc_id").alias("partner"),
        F.col("grams").alias("grb"),
        F.col("n").alias("nb"),
    )
    inter = F.size(F.array_intersect("gra", "grb"))
    union = F.col("na") + F.col("nb") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    neg = (
        neg_ids.join(ga, "anchor")
        .join(gb, "partner")
        .select(
            "anchor",
            "partner",
            F.round(jac, 4).alias("jaccard"),
            F.lit(0).alias("label"),
        )
    )
    return pos.unionByName(neg).select(
        "anchor",
        "partner",
        "jaccard",
        F.col("label").cast("int").alias("label"),
    )


def _pair_mining_oracle() -> str:
    from .dedup import DEDUP_MINHASH_LSH_ORACLE, NGRAM_N

    return f"""
WITH pos AS ({DEDUP_MINHASH_LSH_ORACLE}),
arr AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(w) >= {NGRAM_N} THEN list_transform(
               generate_series(1, len(w) - {NGRAM_N - 1}),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
           ) ELSE [] END) AS grams
    FROM (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x != '') AS w
        FROM documents
    )
),
nd AS (SELECT count(*) AS n FROM documents),
anchors AS (SELECT DISTINCT doc_a AS anchor FROM pos),
neg_ids AS (
    SELECT anchor,
           CASE WHEN {_md5_long_sql("CAST(anchor AS VARCHAR)")} % nd.n
                     = anchor
                THEN ({_md5_long_sql("CAST(anchor AS VARCHAR)")} % nd.n + 1)
                     % nd.n
                ELSE {_md5_long_sql("CAST(anchor AS VARCHAR)")} % nd.n
           END AS partner
    FROM anchors CROSS JOIN nd
),
neg AS (
    SELECT ni.anchor, ni.partner,
           round(CASE WHEN len(a.grams) + len(b.grams)
                           - len(list_intersect(a.grams, b.grams)) > 0
                      THEN CAST(len(list_intersect(a.grams, b.grams))
                                AS DOUBLE)
                           / (len(a.grams) + len(b.grams)
                              - len(list_intersect(a.grams, b.grams)))
                      ELSE 0.0 END, 4) AS jaccard,
           0 AS label
    FROM neg_ids ni
    JOIN arr a ON a.doc_id = ni.anchor
    JOIN arr b ON b.doc_id = ni.partner
)
SELECT doc_a AS anchor, doc_b AS partner, jaccard,
       CAST(1 AS INT) AS label FROM pos
UNION ALL
SELECT anchor, partner, jaccard, CAST(label AS INT) AS label FROM neg
"""


PAIR_MINING_ORACLE = _pair_mining_oracle()


# ---------------------------------------------------------------------------
# End-to-end pretraining pipeline (shard manifest)
# ---------------------------------------------------------------------------


def pretrain_pipeline(t: dict[str, DataFrame]) -> DataFrame:
    """The whole pretraining data path as ONE declarative plan — the
    integration query a reference user runs end-to-end: Gopher rule
    gate → exact dedup (keep-min-id per md5 digest) → MinHash near-dup
    removal → token counting → fixed-budget shard packing, emitting
    the training-ready pack manifest (shard, pack, docs, tokens).

    Every stage reuses this repo's proven shape and Catalyst fuses
    them: the rule gate is INLINED into the digest scan (the
    ``_gopher_keep`` expression filters in the same narrow map that
    hashes and token-counts, so gating costs zero extra passes), exact
    dedup shuffles 32-byte digests, the near-dup loser set is the
    LSH-bounded pair table landing as one broadcast anti-join, packing
    is ``pack_sequences``'s one-shuffle shard fill, and the manifest
    rollup is a partial-combined aggregate over (shard, pack) keys.
    Document text is read exactly twice — once by the fused
    gate+digest+count pass, once by the LSH pair builder — and no
    intermediate corpus ever materializes.

    The LSH pair builder runs over the GATE-SURVIVING corpus (the same
    ``_gopher_keep`` filter fused into its gram scan), matching how
    real pipelines order the stages: a document the quality gate
    already rejected cannot evict its near-dup partner that passed —
    without this, boilerplate-heavy junk would take out its cleaner
    twin on the way out.
    """
    from pyspark.sql import Window

    from .dedup import dedup_minhash_lsh

    docs = fan_out(t["documents"])
    gated = docs.filter(_gopher_keep())
    hashed = (
        gated.select(
            "doc_id",
            F.md5("text").alias("h"),
            F.size(words(F.col("text"))).cast("long").alias("n_tokens"),
        )
        .localCheckpoint(eager=False)
    )
    keepers = hashed.join(
        hashed.groupBy("h").agg(F.min("doc_id").alias("doc_id")),
        ["h", "doc_id"],
    )
    losers = dedup_minhash_lsh({**t, "documents": gated}).select(
        F.col("doc_b").alias("doc_id")
    )
    survivors = keepers.join(F.broadcast(losers), "doc_id", "left_anti")
    shard = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % PACK_SHARDS_PIPE
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = survivors.select(
        "doc_id", shard.alias("shard"), "n_tokens"
    ).select(
        "doc_id",
        "shard",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("off"),
    ).withColumn(
        "pack_id", F.expr(f"off div {PACK_BUDGET_PIPE}")
    )
    return (
        packed.groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("pack_tokens"),
        )
        .select(
            F.col("shard").cast("long").alias("shard"),
            F.col("pack_id").cast("long").alias("pack_id"),
            "n_docs",
            "pack_tokens",
        )
    )


PACK_SHARDS_PIPE = 8
PACK_BUDGET_PIPE = 2048


def _pretrain_pipeline_oracle() -> str:
    from .dedup import DEDUP_MINHASH_LSH_ORACLE

    # the loser set runs over the gate-surviving corpus: rebind the LSH
    # oracle's single `FROM documents` to the gated CTE (asserted below
    # so a refactor of the LSH oracle can't silently desync the two)
    assert DEDUP_MINHASH_LSH_ORACLE.count("FROM documents") == 1
    gated_lsh = DEDUP_MINHASH_LSH_ORACLE.replace("FROM documents", "FROM gated")
    return f"""
WITH gr AS MATERIALIZED ({GOPHER_RULES_ORACLE}),
gated AS MATERIALIZED (
    SELECT d.* FROM documents d JOIN gr ON d.doc_id = gr.doc_id
    WHERE gr.keep
),
hashed AS MATERIALIZED (
    SELECT d.doc_id, md5(d.text) AS h,
           CAST(len(list_filter(string_split(lower(d.text), ' '),
                                x -> x != '')) AS BIGINT) AS n_tokens
    FROM gated d
),
keepers AS (
    SELECT h1.doc_id, h1.n_tokens
    FROM hashed h1
    JOIN (SELECT h, min(doc_id) AS doc_id FROM hashed GROUP BY 1) k
      ON h1.h = k.h AND h1.doc_id = k.doc_id
),
losers AS MATERIALIZED (
    SELECT DISTINCT doc_b AS doc_id FROM ({gated_lsh})
),
survivors AS (
    SELECT k.doc_id, k.n_tokens,
           CAST(('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % {PACK_SHARDS_PIPE} AS shard
    FROM keepers k
    WHERE k.doc_id NOT IN (SELECT doc_id FROM losers)
),
packed AS (
    SELECT shard,
           coalesce(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) // {PACK_BUDGET_PIPE} AS pack_id,
           n_tokens
    FROM survivors
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(pack_id AS BIGINT) AS pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
FROM packed
GROUP BY 1, 2
"""


PRETRAIN_PIPELINE_ORACLE = _pretrain_pipeline_oracle()


# ---------------------------------------------------------------------------
# Epoch shuffle: deterministic training-order assignment
# ---------------------------------------------------------------------------

EPOCH_SEED = 7  # epoch number; changing it yields an independent permutation
EPOCH_SHARDS = 8  # reader-worker count; scales with the training fleet


def _epoch_hash(doc_id: Column) -> Column:
    """Seeded per-doc shuffle key: md5 over ``seed:doc_id``."""
    return _md5_long(
        F.concat_ws(":", F.lit(str(EPOCH_SEED)), doc_id.cast("string"))
    )


def epoch_shuffle(t: dict[str, DataFrame]) -> DataFrame:
    """Deterministic epoch shuffle — the "global shuffle before each
    training epoch" a 100 TB pretraining run needs, without a global
    sort: every document gets a seeded uniform hash, the hash picks a
    reader shard, and rank within the shard is the read order.

    Scale shape: ONE hash-partitioned exchange (on ``shard``) followed
    by a per-shard local sort — shards are independent, so the sort
    parallelizes across the reader fleet and no total order ever
    materializes.  md5 is uniform, so shards stay balanced at any
    corpus size (measured by :func:`shard_manifest`).  Re-running with
    the same seed is bit-identical (resumable training); bumping
    ``EPOCH_SEED`` yields an independent permutation for the next
    epoch.  The (shard, pos) pair is exactly the contract a
    rank-striped data loader consumes.
    """
    d = fan_out(t["documents"]).select(
        "doc_id", _epoch_hash(F.col("doc_id")).alias("h")
    )
    shard = (F.col("h") % EPOCH_SHARDS).alias("shard")
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        d.select("doc_id", "h", shard)
        .withColumn("pos", F.row_number().over(w) - F.lit(1))
        .select(
            "doc_id",
            F.col("shard").cast("long").alias("shard"),
            F.col("pos").cast("long").alias("pos"),
        )
    )


EPOCH_SHUFFLE_ORACLE = f"""
WITH h AS (
    SELECT doc_id,
           {_md5_long_sql(f"'{EPOCH_SEED}:' || CAST(doc_id AS VARCHAR)")} AS h
    FROM documents
)
SELECT doc_id,
       CAST(h % {EPOCH_SHARDS} AS BIGINT) AS shard,
       CAST(row_number() OVER (
           PARTITION BY h % {EPOCH_SHARDS} ORDER BY h, doc_id
       ) - 1 AS BIGINT) AS pos
FROM h
"""


def shard_manifest(t: dict[str, DataFrame]) -> DataFrame:
    """Per-shard manifest for the epoch shuffle: document and token
    totals plus the balance ratio (shard tokens / mean shard tokens) —
    the number an operator watches to know the hash sharding still
    feeds every reader evenly.

    Scale shape: reuses :func:`epoch_shuffle`'s single exchange shape
    but skips the in-shard sort entirely (the manifest is orderless);
    token counts ride the same row, so the rollup is one partial-
    aggregated exchange to EPOCH_SHARDS rows, and the balance window
    runs over those few rows on one task — constant-size final state
    at any corpus scale.
    """
    d = fan_out(t["documents"]).select(
        "doc_id",
        F.size(words(F.col("text"))).alias("n_tokens"),
        (_epoch_hash(F.col("doc_id")) % EPOCH_SHARDS).alias("shard"),
    )
    from pyspark.sql import Window

    agg = d.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
    )
    wall = Window.partitionBy()
    return agg.select(
        F.col("shard").cast("long").alias("shard"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("shard_tokens").cast("long").alias("shard_tokens"),
        F.round(
            F.col("shard_tokens") / F.avg("shard_tokens").over(wall), 4
        ).alias("balance_ratio"),
    )


SHARD_MANIFEST_ORACLE = f"""
WITH d AS (
    SELECT doc_id,
           len(list_filter(string_split(lower(text), ' '), x -> x != ''))
               AS n_tokens,
           {_md5_long_sql(f"'{EPOCH_SEED}:' || CAST(doc_id AS VARCHAR)")}
               % {EPOCH_SHARDS} AS shard
    FROM documents
),
agg AS (
    SELECT shard, count(*) AS n_docs, sum(n_tokens) AS shard_tokens
    FROM d GROUP BY 1
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(shard_tokens AS BIGINT) AS shard_tokens,
       round(shard_tokens / avg(shard_tokens) OVER (), 4) AS balance_ratio
FROM agg
"""


def write_training_shards(
    t: dict[str, DataFrame], out_dir: str, max_records_per_file: int = 100_000
) -> DataFrame:
    """Production sink for the epoch shuffle: write the shuffled corpus
    as ``shard=<k>/`` parquet partitions, each file internally ordered
    by ``pos`` so a reader streams its shard in training order without
    re-sorting.

    Scale shape: ``repartition(shard)`` is the ONE exchange (the same
    one :func:`epoch_shuffle` needs anyway), ``sortWithinPartitions``
    is the per-shard local sort — keyed ``(shard, pos)`` so the file
    writer's required ordering (the partition column) is already
    satisfied and it injects no extra, order-destroying sort of its
    own — and ``maxRecordsPerFile`` bounds file
    sizes so a 100 TB shard becomes many seekable files instead of one
    unsplittable blob.  Deterministic end to end: same seed, same
    bytes.  Returns the committed table read back (the harness shape;
    production readers open ``shard=<k>/`` directly).
    """
    assign = epoch_shuffle(t)
    rows = assign.join(
        t["documents"].select("doc_id", "text", "source"), "doc_id"
    )
    spark = rows.sparkSession
    (
        rows.repartition("shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("shard")
        .parquet(out_dir)
    )
    return spark.read.parquet(out_dir)


# ---------------------------------------------------------------------------
# Domain KL: per-source distribution shift vs the corpus
# ---------------------------------------------------------------------------


def domain_kl(t: dict[str, DataFrame]) -> DataFrame:
    """Per-source unigram KL divergence D(P_source ‖ P_corpus) — the
    domain-shift diagnostic behind mixture reweighting (DoReMi, Xie et
    al. 2023, arXiv:2305.10429, weights domains by how much excess loss
    they carry; the KL against the pooled corpus is the model-free
    proxy an operator watches first).  A source whose unigram
    distribution sits far from the corpus mean is the one a mixture
    tweak moves most.  Every source term also appears in the corpus
    distribution by construction, so the divergence is finite with no
    smoothing.

    Scale shape: one tokenize pass; per-(source, term) counts
    partial-combine map-side so hot terms collapse before the ONE
    corpus-sized exchange; corpus term counts RE-aggregate those
    vocab-sized rows (never a second scan of the text); per-source
    totals (≤ n_sources rows) broadcast back; the term-keyed join ships
    vocab-sized frames only.  Final state is n_sources rows.  Per-term
    contributions sum as DECIMAL(28,10) so shuffle-order double
    addition cannot diverge from the oracle's sequential sum.
    """
    return _kl_from_counts(_source_term_counts(t["documents"]))


def _source_term_counts(docs: DataFrame) -> DataFrame:
    """(source, term, c_st): one tokenize pass rolled up per (source,
    term), partial-combined map-side — the input of
    :func:`domain_kl` and :func:`domain_entropy`.  Checkpointed: it
    feeds both the totals branch and the per-term reduction, so text
    tokenizes once."""
    return (
        fan_out(docs)
        .select("source", F.explode_outer(words(F.col("text"))).alias("term"))
        .filter(F.col("term").isNotNull())
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c_st"))
        .localCheckpoint()
    )


def _kl_from_counts(st: DataFrame) -> DataFrame:
    """Per-source KL from a (source, term, c_st) count rollup — the
    math half of :func:`domain_kl`, shared with the streaming monitor
    so the two faces can never diverge on the divergence."""
    ct = st.groupBy("term").agg(F.sum("c_st").alias("c_t"))
    ns = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    ntot = ct.agg(F.sum("c_t").alias("n_tot"))
    ps = F.col("c_st").cast("double") / F.col("n_s").cast("double")
    ratio = (F.col("c_st").cast("double") * F.col("n_tot").cast("double")) / (
        F.col("c_t").cast("double") * F.col("n_s").cast("double")
    )
    contrib = (ps * F.log(ratio)).cast("decimal(28,10)")
    return (
        st.join(ct, "term")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(ntot))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.max("n_s").cast("long").alias("n_tokens"),
            F.sum(contrib).cast("double").alias("kl_raw"),
        )
        .select(
            "source",
            "n_terms",
            "n_tokens",
            F.round(F.col("kl_raw"), 4).alias("kl_nats"),
        )
    )


DOMAIN_KL_ORACLE = """
WITH toks AS (
    SELECT source, unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x != '')) AS term
    FROM documents
),
st AS (SELECT source, term, count(*) AS c_st FROM toks GROUP BY 1, 2),
ct AS (SELECT term, sum(c_st) AS c_t FROM st GROUP BY 1),
ns AS (SELECT source, sum(c_st) AS n_s FROM st GROUP BY 1),
ntot AS (SELECT sum(c_t) AS n_tot FROM ct)
SELECT st.source,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(max(ns.n_s) AS BIGINT) AS n_tokens,
       round(CAST(sum(CAST(
           (CAST(st.c_st AS DOUBLE) / CAST(ns.n_s AS DOUBLE))
           * ln((CAST(st.c_st AS DOUBLE) * CAST(ntot.n_tot AS DOUBLE))
                / (CAST(ct.c_t AS DOUBLE) * CAST(ns.n_s AS DOUBLE)))
           AS DECIMAL(28,10))) AS DOUBLE), 4) AS kl_nats
FROM st JOIN ct USING (term) JOIN ns USING (source) CROSS JOIN ntot
GROUP BY 1
"""


def domain_entropy(t: dict[str, DataFrame]) -> DataFrame:
    """Per-source unigram Shannon entropy — :func:`domain_kl`'s
    companion diagnostic (round 13): KL says how far a source's
    distribution sits from the pooled corpus; entropy says how
    DIVERSE the source is on its own.  A source with low entropy
    (boilerplate, templated spam, log dumps) is a down-weight
    candidate even when its KL is small, which is why mixture
    dashboards read the two side by side (the per-source face of
    ``corpus_token_entropy``, same c·ln(c/n) law).

    Scale shape: :func:`_source_term_counts`, shared with
    :func:`domain_kl` — one tokenize pass; per-(source, term) counts
    partial-combine map-side before the ONE corpus-sized exchange;
    per-source totals (≤ n_sources rows) broadcast back; contributions
    sum as DECIMAL(28,10) so shuffle-order double addition cannot
    diverge from the oracle's sequential sum.  ``entropy_ratio``
    (H/ln V) is NULL by contract when a source has a single-term
    vocabulary (ln 1 = 0).  Final state is n_sources rows at any
    corpus size.
    """
    return _entropy_from_counts(_source_term_counts(t["documents"]))


def _entropy_from_counts(st: DataFrame) -> DataFrame:
    """Per-source entropy from a (source, term, c_st) rollup — the
    math half of :func:`domain_entropy`, shared with the streaming
    monitor so the two faces can never diverge (the
    :func:`_kl_from_counts` discipline)."""
    ns = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    contrib = (
        F.col("c_st").cast("double")
        * F.log(F.col("c_st").cast("double") / F.col("n_s").cast("double"))
    ).cast("decimal(28,10)")
    agg = (
        st.join(F.broadcast(ns), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.max("n_s").cast("long").alias("n_tokens"),
            F.sum(contrib).cast("double").alias("s"),
        )
    )
    h = -F.col("s") / F.col("n_tokens").cast("double")
    return agg.select(
        "source",
        "n_terms",
        "n_tokens",
        F.round(h, 4).alias("entropy_nats"),
        F.when(
            F.col("n_terms") > 1,
            F.round(h / F.log(F.col("n_terms").cast("double")), 4),
        ).alias("entropy_ratio"),
    )


DOMAIN_ENTROPY_ORACLE = """
WITH toks AS (
    SELECT source, unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x != '')) AS term
    FROM documents
),
st AS (SELECT source, term, count(*) AS c_st FROM toks GROUP BY 1, 2),
ns AS (SELECT source, sum(c_st) AS n_s FROM st GROUP BY 1),
agg AS (
    SELECT st.source,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(max(ns.n_s) AS BIGINT) AS n_tokens,
           CAST(sum(CAST(CAST(st.c_st AS DOUBLE)
                * ln(CAST(st.c_st AS DOUBLE) / CAST(ns.n_s AS DOUBLE))
                AS DECIMAL(28,10))) AS DOUBLE) AS s
    FROM st JOIN ns USING (source)
    GROUP BY 1
)
SELECT source, n_terms, n_tokens,
       round(-s / CAST(n_tokens AS DOUBLE), 4) AS entropy_nats,
       CASE WHEN n_terms > 1
            THEN round((-s / CAST(n_tokens AS DOUBLE))
                       / ln(CAST(n_terms AS DOUBLE)), 4)
       END AS entropy_ratio
FROM agg
"""


# ---------------------------------------------------------------------------
# Token budget: UniMax water-filling mixture allocation
# ---------------------------------------------------------------------------

TB_BUDGET_FRAC_PCT = 50  # global budget as a percent of corpus tokens
TB_EPOCH_CAP = 2  # no source repeats more than this many epochs


def token_budget(t: dict[str, DataFrame]) -> DataFrame:
    """UniMax token-budget allocation (Chung et al., ICLR 2023,
    arXiv:2304.09151): split a global training-token budget as evenly
    as possible across sources, but never ask any source for more than
    ``TB_EPOCH_CAP`` epochs of its available tokens — the fairer
    alternative to temperature sampling that provably minimizes
    worst-case repeats.  Water-filling has a closed form once sources
    are sorted ascending by their cap: a source is capped iff its cap
    times the sources remaining at its rank fits in the budget left
    after everything before it is fully capped (the rowwise test is
    equivalent to the sequential fill because the sort makes the
    condition monotone); every uncapped source then takes an equal
    share of what the capped ones left behind.

    Scale shape: the corpus-sized work is ONE partial-aggregated
    rollup to n_sources rows; the water-fill itself runs as window
    functions over those few rows on a single task — constant-size
    final state at any corpus scale, and the capped/uncapped test is
    all-long arithmetic, so the plan is bit-deterministic.
    """
    return _unimax_fill(_source_token_avail(t["documents"]))


def _source_token_avail(docs: DataFrame) -> DataFrame:
    """(source, avail): the corpus's whitespace-token count per source
    — ONE partial-aggregated rollup to n_sources rows, the input of
    :func:`token_budget` and :func:`temperature_mixture`."""
    return (
        fan_out(docs)
        .select("source", F.size(words(F.col("text"))).alias("n"))
        .groupBy("source")
        .agg(F.sum("n").alias("avail"))
    )


def _unimax_fill(avail: DataFrame) -> DataFrame:
    """The UniMax water-fill over a (source, avail) token rollup —
    shared by :func:`token_budget` and the streaming twin
    (``streaming.embindex.stream_token_budget``) so the two faces
    cannot diverge.  Pure window math over n_sources rows."""
    from pyspark.sql import Window

    w = Window.orderBy("cap_avail", "source")
    full = Window.partitionBy()
    ranked = (
        avail.select(
            "source",
            "avail",
            (F.col("avail") * TB_EPOCH_CAP).alias("cap_avail"),
        )
        .withColumn("budget", (F.sum("avail").over(full) * TB_BUDGET_FRAC_PCT).cast("long") / F.lit(100))
        .withColumn("budget", F.floor("budget").cast("long"))
        .withColumn("i", F.row_number().over(w))
        .withColumn("n_src", F.count(F.lit(1)).over(full))
        .withColumn(
            "prefix_before",
            F.coalesce(
                F.sum("cap_avail").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            "capped",
            F.col("cap_avail") * (F.col("n_src") - F.col("i") + 1)
            <= F.col("budget") - F.col("prefix_before"),
        )
    )
    filled = (
        ranked.withColumn(
            "sum_capped",
            F.coalesce(
                F.sum(F.when(F.col("capped"), F.col("cap_avail"))).over(full),
                F.lit(0),
            ),
        )
        .withColumn(
            "n_uncapped",
            F.col("n_src") - F.sum(F.col("capped").cast("long")).over(full),
        )
        .withColumn(
            "alloc",
            F.when(F.col("capped"), F.col("cap_avail").cast("double")).otherwise(
                (F.col("budget") - F.col("sum_capped")).cast("double")
                / F.col("n_uncapped").cast("double")
            ),
        )
    )
    return filled.select(
        "source",
        F.col("avail").cast("long").alias("avail_tokens"),
        "capped",
        F.round(F.col("alloc"), 2).alias("alloc_tokens"),
        # NULL epochs for a zero-token source (matches the oracle's
        # x/0 → NULL; a bare division is an ANSI-mode crash in the
        # driver's vanilla Spark-4 session)
        F.when(
            F.col("avail") > 0,
            F.round(F.col("alloc") / F.col("avail").cast("double"), 4),
        ).alias("epochs"),
    )


TOKEN_BUDGET_ORACLE = f"""
WITH avail AS (
    SELECT source,
           sum(len(list_filter(string_split(lower(text), ' '), x -> x != '')))
               AS avail
    FROM documents GROUP BY 1
),
ranked AS (
    SELECT source, avail,
           avail * {TB_EPOCH_CAP} AS cap_avail,
           CAST(floor(CAST(sum(avail) OVER () * {TB_BUDGET_FRAC_PCT} AS BIGINT)
                / 100) AS BIGINT) AS budget,
           row_number() OVER (ORDER BY avail * {TB_EPOCH_CAP}, source) AS i,
           count(*) OVER () AS n_src,
           COALESCE(sum(avail * {TB_EPOCH_CAP}) OVER (
               ORDER BY avail * {TB_EPOCH_CAP}, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS prefix_before
    FROM avail
),
flag AS (
    SELECT *,
           cap_avail * (n_src - i + 1) <= budget - prefix_before AS capped
    FROM ranked
),
filled AS (
    SELECT *,
           COALESCE(sum(CASE WHEN capped THEN cap_avail END) OVER (), 0)
               AS sum_capped,
           n_src - sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER ()
               AS n_uncapped
    FROM flag
)
SELECT source,
       CAST(avail AS BIGINT) AS avail_tokens,
       capped,
       round(CASE WHEN capped THEN CAST(cap_avail AS DOUBLE)
             ELSE CAST(budget - sum_capped AS DOUBLE)
                  / CAST(n_uncapped AS DOUBLE) END, 2) AS alloc_tokens,
       round(CASE WHEN capped THEN CAST(cap_avail AS DOUBLE)
             ELSE CAST(budget - sum_capped AS DOUBLE)
                  / CAST(n_uncapped AS DOUBLE) END
             / CAST(avail AS DOUBLE), 4) AS epochs
FROM filled
"""


# ---------------------------------------------------------------------------
# Temperature mixture: p^alpha sampling weights (the UniMax foil)
# ---------------------------------------------------------------------------

TEMP_ALPHA_PCT = 30  # sampling exponent alpha = 0.3 (the mT5 default)


def temperature_mixture(t: dict[str, DataFrame]) -> DataFrame:
    """Temperature-scaled mixture weights w_s ∝ p_s^alpha (Arivazhagan
    et al. 2019 §4.2; the mT5 recipe, Xue et al. 2021, uses
    alpha = 0.3): flatten the source distribution so low-resource
    sources are oversampled, then spend the SAME global token budget
    as :func:`token_budget` so the two allocation policies are
    directly comparable — the ``epochs`` column is exactly the repeat
    blowup UniMax exists to bound (a tiny source under temperature
    sampling can be asked for 10+ epochs; UniMax caps it at
    ``TB_EPOCH_CAP``).

    Scale shape: :func:`_source_token_avail`, shared with
    :func:`token_budget` — ONE partial-aggregated rollup of the corpus
    to n_sources rows, then single-task window math over those few
    rows; constant-size final state at any corpus scale.  The
    normalizer sums p^alpha as DECIMAL(28,12) so shuffle-order double
    addition cannot diverge from the oracle's sequential sum.
    """
    return _temperature_fill(_source_token_avail(t["documents"]))


def _temperature_fill(avail: DataFrame) -> DataFrame:
    """The p^alpha allocation over a (source, avail) token rollup —
    shared by :func:`temperature_mixture` and the streaming mixture
    table (``streaming.embindex.stream_mixture_plan``) so the two
    faces cannot diverge.  Pure window math over n_sources rows."""
    from pyspark.sql import Window

    full = Window.partitionBy()
    base = (
        avail.withColumn("n_tot", F.sum("avail").over(full))
        .withColumn(
            "budget",
            F.floor(
                (F.col("n_tot") * TB_BUDGET_FRAC_PCT).cast("long") / F.lit(100)
            ).cast("long"),
        )
        .withColumn(
            # NULL-propagating division (oracle semantics): an all-empty
            # corpus has n_tot = 0, and ANSI mode would crash on x/0
            "p",
            F.when(
                F.col("n_tot") > 0,
                F.col("avail").cast("double") / F.col("n_tot").cast("double"),
            ),
        )
        .withColumn(
            "wq",
            F.pow(F.col("p"), F.lit(TEMP_ALPHA_PCT / 100.0)).cast(
                "decimal(28,12)"
            ),
        )
        .withColumn(
            "w",
            F.col("wq").cast("double")
            / F.sum("wq").over(full).cast("double"),
        )
        .withColumn("alloc", F.col("w") * F.col("budget").cast("double"))
    )
    return base.select(
        "source",
        F.col("avail").cast("long").alias("avail_tokens"),
        F.round(F.col("p"), 6).alias("p"),
        F.round(F.col("w"), 6).alias("weight"),
        F.round(F.col("alloc"), 2).alias("alloc_tokens"),
        # NULL epochs for a zero-token source (oracle: x/0 → NULL;
        # ANSI mode would otherwise crash)
        F.when(
            F.col("avail") > 0,
            F.round(F.col("alloc") / F.col("avail").cast("double"), 4),
        ).alias("epochs"),
    )


TEMPERATURE_MIXTURE_ORACLE = f"""
WITH avail AS (
    SELECT source,
           sum(len(list_filter(string_split(lower(text), ' '), x -> x != '')))
               AS avail
    FROM documents GROUP BY 1
),
base AS (
    SELECT source, avail,
           sum(avail) OVER () AS n_tot,
           CAST(floor(CAST(sum(avail) OVER () * {TB_BUDGET_FRAC_PCT} AS BIGINT)
                / 100) AS BIGINT) AS budget,
           CAST(avail AS DOUBLE) / CAST(sum(avail) OVER () AS DOUBLE) AS p,
           CAST(pow(CAST(avail AS DOUBLE) / CAST(sum(avail) OVER () AS DOUBLE),
                    {TEMP_ALPHA_PCT} / 100.0) AS DECIMAL(28,12)) AS wq
    FROM avail
),
normed AS (
    SELECT *,
           CAST(wq AS DOUBLE) / CAST(sum(wq) OVER () AS DOUBLE) AS w
    FROM base
)
SELECT source,
       CAST(avail AS BIGINT) AS avail_tokens,
       round(p, 6) AS p,
       round(w, 6) AS weight,
       round(w * CAST(budget AS DOUBLE), 2) AS alloc_tokens,
       round(w * CAST(budget AS DOUBLE) / CAST(avail AS DOUBLE), 4) AS epochs
FROM normed
"""


# ---------------------------------------------------------------------------
# Semantic pipeline: Gopher gate -> SemDeDup over the survivors
# ---------------------------------------------------------------------------


def semantic_pipeline(t: dict[str, DataFrame]) -> DataFrame:
    """The cross-modal curation pipeline: Gopher rule gate over the
    text (Rae et al. 2021 §A.1.1) → SemDeDup over the SURVIVORS'
    embeddings (Abbas et al. 2023) → per-source survival accounting.
    This is the stage ordering real corpora ship with (quality gates
    first, semantic pruning on what passed — e.g. the SemDeDup paper
    itself prunes an already-filtered LAION/C4): a document the gate
    already rejected can neither evict a clean near-neighbor nor
    waste quantizer capacity, so the k-means codebook is trained on
    the distribution that will actually be pruned.

    Scale shape: the gate verdict frame is (doc_id, source, tokens,
    keep) — narrow, checkpointed, computed in ONE text scan; the
    gated embedding corpus is checkpointed once so Lloyd's iterations
    never re-run the gate join; everything downstream is
    :func:`~..operators.dedup.semdedup`'s cell-blocked, cell-capped
    machinery (its 100 TB story is unchanged by the upstream filter);
    the final rollup is one partial-combined agg to n_sources rows.
    """
    from .dedup import semdedup

    docs = fan_out(t["documents"])
    gate = docs.select(
        "doc_id",
        "source",
        F.size(words(F.col("text"))).cast("long").alias("n_tokens"),
        _gopher_keep().alias("keep"),
    ).localCheckpoint(eager=False)
    gated_emb = (
        t["embeddings"]
        .join(
            gate.filter(F.col("keep")).select(
                F.col("doc_id").alias("vec_id")
            ),
            "vec_id",
        )
        .localCheckpoint(eager=False)
    )
    verdict = semdedup({**t, "embeddings": gated_emb}).select(
        "vec_id", "removed"
    )
    joined = gate.join(
        verdict, gate["doc_id"] == verdict["vec_id"], "left"
    )
    rm = F.coalesce(F.col("removed"), F.lit(False))
    kept = F.col("keep") & ~rm
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((~F.col("keep")).cast("long")).cast("long").alias("n_gate_fail"),
        F.sum((F.col("keep") & rm).cast("long"))
        .cast("long")
        .alias("n_sem_removed"),
        F.sum(kept.cast("long")).cast("long").alias("n_kept"),
        F.coalesce(F.sum(F.when(kept, F.col("n_tokens"))), F.lit(0))
        .cast("long")
        .alias("kept_tokens"),
    )


def _semantic_pipeline_oracle() -> str:
    from .dedup import SEMDEDUP_ORACLE

    # SemDeDup runs over the gate-surviving embeddings: rebind the
    # chain's single `FROM embeddings` to the gated CTE (count-asserted
    # so a refactor of the semdedup oracle can't silently desync)
    assert SEMDEDUP_ORACLE.count("FROM embeddings") == 1
    sd = SEMDEDUP_ORACLE.replace("FROM embeddings", "FROM gated")
    return f"""
WITH gr AS MATERIALIZED ({GOPHER_RULES_ORACLE}),
gated AS MATERIALIZED (
    SELECT e.* FROM embeddings e JOIN gr ON e.vec_id = gr.doc_id
    WHERE gr.keep
),
sd AS MATERIALIZED ({sd}),
docstats AS (
    SELECT d.doc_id, d.source,
           CAST(len(list_filter(string_split(lower(d.text), ' '),
                                x -> x != '')) AS BIGINT) AS n_tokens,
           gr.keep
    FROM documents d JOIN gr ON d.doc_id = gr.doc_id
)
SELECT ds.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN NOT ds.keep THEN 1 ELSE 0 END) AS BIGINT)
           AS n_gate_fail,
       CAST(sum(CASE WHEN ds.keep AND coalesce(sd.removed, false)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_sem_removed,
       CAST(sum(CASE WHEN ds.keep AND NOT coalesce(sd.removed, false)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(coalesce(sum(CASE WHEN ds.keep
                              AND NOT coalesce(sd.removed, false)
                         THEN ds.n_tokens END), 0) AS BIGINT)
           AS kept_tokens
FROM docstats ds LEFT JOIN sd ON ds.doc_id = sd.vec_id
GROUP BY 1
"""


SEMANTIC_PIPELINE_ORACLE = _semantic_pipeline_oracle()


# ---------------------------------------------------------------------------
# Quality-classifier AUC: the calibration gate for quality_logreg
# ---------------------------------------------------------------------------


def quality_auc(t: dict[str, DataFrame]) -> DataFrame:
    """Calibration gate for :func:`quality_logreg` — AUC (area under
    the ROC curve), accuracy, and class counts of the trained filter
    against its own labels, reduced to ONE row.  A trained quality
    classifier replaces a rule gate only after this number is known
    (the fastText-filter acceptance step of GPT-3/LLaMA-style
    pipelines, Brown et al. 2020 §A).

    AUC is computed histogram-exact, not by a global rank: scores are
    already rounded (6 dp), so grouping to per-score (n_pos, n_neg)
    counts loses nothing, the Mann-Whitney statistic is the tie-aware
    sum Σ n_pos(s)·(2·cum_neg(<s) + n_neg(s)) over score values (kept
    in doubled units so every term is an exact integer), and the one
    division happens at the end.  Scale shape: the per-score rollup is
    one partial-combining keyed exchange to ≤10⁶ distinct rounded
    scores; the cumulative window and the final reduce run on that
    score-histogram frame, never on document rows — no global sort of
    the corpus at any size.
    """
    from pyspark.sql import Window

    scored = _quality_scored_cached(t)
    g = scored.groupBy("prob").agg(
        F.sum((F.col("label") == 1).cast("long")).alias("np"),
        F.sum((F.col("label") != 1).cast("long")).alias("nn"),
    )
    w = Window.orderBy("prob").rowsBetween(Window.unboundedPreceding, -1)
    terms = g.withColumn(
        "cum_neg", F.coalesce(F.sum("nn").over(w), F.lit(0))
    ).select(
        "np",
        "nn",
        (F.col("np") * (F.lit(2) * F.col("cum_neg") + F.col("nn"))).alias(
            "t2"
        ),
    )
    tots = terms.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.sum("t2").cast("long").alias("t2"),
    )
    cor = scored.agg(
        F.sum(F.col("correct").cast("long")).cast("long").alias("n_correct")
    )
    return tots.crossJoin(F.broadcast(cor)).select(
        "n_pos",
        "n_neg",
        "n_correct",
        F.round(
            F.col("n_correct") / (F.col("n_pos") + F.col("n_neg")), 6
        ).alias("accuracy"),
        F.round(
            F.col("t2") / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg")), 6
        ).alias("auc"),
    )


QUALITY_AUC_ORACLE = f"""
WITH ql AS MATERIALIZED ({QUALITY_LOGREG_ORACLE}),
sg AS (
    SELECT prob,
           sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS np,
           sum(CASE WHEN label != 1 THEN 1 ELSE 0 END) AS nn
    FROM ql GROUP BY 1
),
cm AS (
    SELECT np, nn,
           np * (2 * COALESCE(sum(nn) OVER (
               ORDER BY prob
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) + nn) AS t2
    FROM sg
)
SELECT CAST(sum(np) AS BIGINT) AS n_pos,
       CAST(sum(nn) AS BIGINT) AS n_neg,
       (SELECT CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT)
        FROM ql) AS n_correct,
       round((SELECT sum(CASE WHEN correct THEN 1 ELSE 0 END) FROM ql)
             / (sum(np) + sum(nn)), 6) AS accuracy,
       round(sum(t2) / (2.0 * sum(np) * sum(nn)), 6) AS auc
FROM cm
"""


# ---------------------------------------------------------------------------
# Mixture plan: the one-table decision view over the allocation trio
# ---------------------------------------------------------------------------


def mixture_plan(t: dict[str, DataFrame]) -> DataFrame:
    """The mixture-design decision table — one row per source joining
    the three diagnostics a data-mixture review actually compares:
    distribution shift (:func:`domain_kl`), the UniMax allocation
    (:func:`token_budget`) and the temperature allocation
    (:func:`temperature_mixture`), with the epoch delta between the
    two policies (positive = temperature over-repeats this source
    relative to UniMax — the small-source blowup the cap exists for).

    Pure composition of three oracled rollups: each side is
    n_sources rows, the joins are on the source key, and the plan
    inherits the trio's ONE-corpus-scan-per-diagnostic shape —
    constant-size final state at any corpus scale.
    """
    return _mixture_table(domain_kl(t), token_budget(t), temperature_mixture(t))


def _mixture_table(
    kl_snap: DataFrame, ub_snap: DataFrame, tm_snap: DataFrame
) -> DataFrame:
    """Join the three mixture diagnostics into the decision table —
    shared by :func:`mixture_plan` and the streaming face
    (``streaming.embindex.stream_mixture_plan``) so column semantics
    cannot diverge.  All three inputs are n_sources-row rollups."""
    kl = kl_snap.select("source", "n_terms", "kl_nats")
    ub = ub_snap.select(
        "source",
        "avail_tokens",
        F.col("capped").alias("unimax_capped"),
        F.col("alloc_tokens").alias("unimax_tokens"),
        F.col("epochs").alias("unimax_epochs"),
    )
    tm = tm_snap.select(
        "source",
        F.col("weight").alias("temp_weight"),
        F.col("alloc_tokens").alias("temp_tokens"),
        F.col("epochs").alias("temp_epochs"),
    )
    return (
        ub.join(tm, "source")
        .join(kl, "source")
        .select(
            "source",
            "avail_tokens",
            "n_terms",
            "kl_nats",
            "unimax_capped",
            "unimax_tokens",
            "unimax_epochs",
            "temp_weight",
            "temp_tokens",
            "temp_epochs",
            F.round(F.col("temp_epochs") - F.col("unimax_epochs"), 4).alias(
                "epoch_delta"
            ),
        )
    )


MIXTURE_PLAN_ORACLE = f"""
WITH kl AS MATERIALIZED ({DOMAIN_KL_ORACLE}),
ub AS MATERIALIZED ({TOKEN_BUDGET_ORACLE}),
tm AS MATERIALIZED ({TEMPERATURE_MIXTURE_ORACLE})
SELECT ub.source,
       ub.avail_tokens,
       kl.n_terms,
       kl.kl_nats,
       ub.capped AS unimax_capped,
       ub.alloc_tokens AS unimax_tokens,
       ub.epochs AS unimax_epochs,
       tm.weight AS temp_weight,
       tm.alloc_tokens AS temp_tokens,
       tm.epochs AS temp_epochs,
       round(tm.epochs - ub.epochs, 4) AS epoch_delta
FROM ub JOIN tm ON ub.source = tm.source
JOIN kl ON ub.source = kl.source
"""


# ---------------------------------------------------------------------------
# DoReMi: excess-loss domain reweighting (Xie et al. 2023)
# ---------------------------------------------------------------------------

# multiplicative-weights step size and uniform-smoothing mass (the
# paper's η and c; arXiv:2305.10429 §3 uses η=1, c=1e-3 for the
# 280M-proxy runs).  Exposed as module constants — the deploy knobs a
# 100 TB mixture re-derivation tunes.
DOREMI_ETA = 1.0
DOREMI_SMOOTH = 0.001


def doremi_weights(t: dict[str, DataFrame]) -> DataFrame:
    """DoReMi domain reweighting (Xie et al. 2023, arXiv:2305.10429):
    per-source mixture weights exponentially tilted by EXCESS LOSS —
    how much worse the pooled reference model fits a domain than the
    domain's own model.  With unigram LMs the excess loss has a closed
    identity: CE(P_s, P_corpus) − H(P_s) = KL(P_s ‖ P_corpus), i.e.
    exactly :func:`domain_kl`'s statistic, so the reweighting CONSUMES
    the oracle-gated diagnostic instead of re-deriving losses.

    The paper's Group-DRO loop (α ← α·exp(η·excess), normalize, smooth
    with uniform) collapses to ONE closed-form tilt here because
    unigram excess losses are static across rounds (no proxy model
    retrains between updates): α ∝ p₀·exp(η·KL), then
    w = (1−c)·α/Σα + c/k — the fixpoint the iterated update reaches in
    a single step.  p₀ is the token-share prior (the paper's
    initialization).

    Scale shape: everything beyond :func:`domain_kl`'s one corpus scan
    operates on the ≤ n_sources-row rollup (two broadcast cross joins
    of 1-row aggregates).  Tilts round to 6 decimals and sum as
    DECIMAL(18,6) so normalization is order-independent across
    engines; the single `exp` runs on an already-rounded input and its
    output re-rounds, the same single-libm-call discipline
    ``domain_kl``'s `ln` established.
    """
    return _doremi_from_kl(domain_kl(t))


def _doremi_from_kl(kl: DataFrame) -> DataFrame:
    """The tilt half of :func:`doremi_weights`, from a domain_kl-shaped
    (source, n_tokens, kl_nats) rollup — shared with the streaming face
    (``streaming.embindex.stream_doremi_weights``) so the two faces can
    never diverge on the weight law."""
    tot = kl.agg(
        F.sum("n_tokens").alias("tot_tokens"),
        F.count(F.lit(1)).alias("k"),
    )
    base_share = F.round(
        F.col("n_tokens").cast("double") / F.col("tot_tokens").cast("double"),
        6,
    )
    b = kl.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        "kl_nats",
        "k",
        base_share.alias("base_share"),
    )
    tilt = F.round(
        F.col("base_share") * F.exp(F.lit(DOREMI_ETA) * F.col("kl_nats")), 6
    ).cast("decimal(18,6)")
    b2 = b.select("source", "n_tokens", "kl_nats", "k", "base_share", tilt.alias("tilt"))
    z = b2.agg(F.sum("tilt").alias("z"))
    weight = F.round(
        F.lit(1.0 - DOREMI_SMOOTH)
        * (F.col("tilt").cast("double") / F.col("z").cast("double"))
        + F.lit(DOREMI_SMOOTH) / F.col("k").cast("double"),
        6,
    )
    return b2.crossJoin(F.broadcast(z)).select(
        "source",
        "n_tokens",
        F.col("kl_nats").alias("excess_loss"),
        "base_share",
        weight.alias("weight"),
    )


DOREMI_WEIGHTS_ORACLE = f"""
WITH kl AS MATERIALIZED ({DOMAIN_KL_ORACLE}),
tot AS (SELECT sum(n_tokens) AS tot_tokens, count(*) AS k FROM kl),
b AS (
    SELECT source, n_tokens, kl_nats, k,
           round(CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE), 6)
               AS base_share
    FROM kl CROSS JOIN tot
),
b2 AS (
    SELECT *, CAST(round(base_share * exp({DOREMI_ETA} * kl_nats), 6)
                   AS DECIMAL(18,6)) AS tilt
    FROM b
),
z AS (SELECT sum(tilt) AS z FROM b2)
SELECT source, n_tokens, kl_nats AS excess_loss, base_share,
       round({1.0 - DOREMI_SMOOTH} * (CAST(tilt AS DOUBLE) / CAST(z AS DOUBLE))
             + {DOREMI_SMOOTH} / CAST(k AS DOUBLE), 6) AS weight
FROM b2 CROSS JOIN z
"""


# ---------------------------------------------------------------------------
# RHO-loss: reducible-holdout-loss data selection (Mindermann et al. 2022)
# ---------------------------------------------------------------------------

RHO_HOLDOUT_MOD = 5  # ~20% of docs form the irreducible-loss holdout
RHO_TOP_N = 100  # selected batch size

# One cached (doc, term, tf, split) frame per documents frame: the
# round-10 body localCheckpoint()ed this frame per INVOCATION and never
# released it, so repeated calls in one session (test suites, multi-sf
# benches) accumulated pinned executor storage — exactly the retention
# pattern Memo exists to bound (r10 advisor finding).  cache() gives
# the same compute-once sharing across the four consumers below;
# eviction unpersists at replacement, so ≤2 copies survive a session.
_RHO_TF_CACHE = Memo(2)


def rho_loss_select(t: dict[str, DataFrame]) -> DataFrame:
    """RHO-loss data selection (Mindermann et al. 2022,
    arXiv:2206.07137): rank candidate documents by REDUCIBLE loss —
    current-model loss minus the loss of a model trained on a held-out
    split (the irreducible part) — so selection prefers points that
    are learnable (low holdout loss) but not yet learned (high
    training loss), and skips both noise (high on both) and the
    already-mastered (low on both).

    Deterministic proxy pair, same discipline as
    :func:`doremi_weights`'s unigram excess loss: the "current model"
    is an add-1-smoothed unigram LM over the TRAIN split, the
    irreducible model the same LM family over the md5-parity HOLDOUT
    split (``_md5_long(doc_id) % {mod} == 0`` — the engine-portable
    split ``stratified_kfold`` uses); both smooth over the UNION
    vocabulary so every term has positive mass under both models.
    rho = avg-token CE(train LM) − avg-token CE(holdout LM), each
    rounded at 4 before the difference so the boundary cannot flip
    across engines.

    Scale shape: ONE tokenize pass builds the (doc, term, tf, split)
    frame; each model's counts are a groupBy(term) re-aggregation of
    it (hot terms partial-combine map-side); scoring LEFT-joins the
    two vocab-sized count tables on term — the vocabulary never
    broadcasts, only the two 1-row totals do; per-token ``tf·ln P``
    contributions sum as DECIMAL(28,10).  The final top-N is an
    orderBy+limit the optimizer plans as TakeOrderedAndProject —
    map-side top-N per task, never a global sort materialization.
    """
    docs = t["documents"]

    def _build_tf() -> DataFrame:
        toks = (
            fan_out(docs)
            .select(
                "doc_id", F.explode_outer(words(F.col("text"))).alias("term")
            )
            .filter(F.col("term").isNotNull())
        )
        return (
            toks.groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn(
                "holdout",
                _md5_long(F.col("doc_id").cast("string")) % RHO_HOLDOUT_MOD
                == 0,
            )
        )

    tf = _RHO_TF_CACHE.get(docs, (RHO_HOLDOUT_MOD,), _build_tf)
    vocab = tf.select("term").distinct().agg(F.count(F.lit(1)).alias("v"))
    ct_tr = (
        tf.filter(~F.col("holdout"))
        .groupBy("term")
        .agg(F.sum("tf").alias("c_tr"))
    )
    ct_ho = (
        tf.filter(F.col("holdout"))
        .groupBy("term")
        .agg(F.sum("tf").alias("c_ho"))
    )
    n_tr = ct_tr.agg(F.coalesce(F.sum("c_tr"), F.lit(0)).alias("n_tr"))
    n_ho = ct_ho.agg(F.coalesce(F.sum("c_ho"), F.lit(0)).alias("n_ho"))

    def smoothed_nll(c: Column, n: Column) -> Column:
        p = (F.coalesce(c, F.lit(0)) + 1).cast("double") / (
            n + F.col("v")
        ).cast("double")
        return (-F.col("tf") * F.log(p)).cast("decimal(28,10)")

    scored = (
        tf.filter(~F.col("holdout"))
        .join(ct_tr, "term", "left")
        .join(ct_ho, "term", "left")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(n_tr))
        .crossJoin(F.broadcast(n_ho))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(smoothed_nll(F.col("c_tr"), F.col("n_tr")))
            .cast("double")
            .alias("tr_sum"),
            F.sum(smoothed_nll(F.col("c_ho"), F.col("n_ho")))
            .cast("double")
            .alias("ho_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("tr_sum") / F.col("n_tokens"), 4).alias(
                "train_loss"
            ),
            F.round(F.col("ho_sum") / F.col("n_tokens"), 4).alias(
                "irreducible_loss"
            ),
        )
        .withColumn(
            "rho",
            F.round(F.col("train_loss") - F.col("irreducible_loss"), 4),
        )
    )
    return scored.orderBy(F.col("rho").desc(), F.col("doc_id")).limit(
        RHO_TOP_N
    )


rho_loss_select.__doc__ = rho_loss_select.__doc__.format(
    mod=RHO_HOLDOUT_MOD
)


RHO_LOSS_SELECT_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x != '')) AS term
    FROM documents
),
tf AS (
    SELECT doc_id, term, count(*) AS tf,
           {_md5_long_sql("CAST(doc_id AS VARCHAR)")} % {RHO_HOLDOUT_MOD} = 0
               AS holdout
    FROM toks GROUP BY 1, 2
),
vocab AS (SELECT count(DISTINCT term) AS v FROM tf),
ct_tr AS (SELECT term, sum(tf) AS c_tr FROM tf WHERE NOT holdout GROUP BY 1),
ct_ho AS (SELECT term, sum(tf) AS c_ho FROM tf WHERE holdout GROUP BY 1),
n_tr AS (SELECT coalesce(sum(c_tr), 0) AS n_tr FROM ct_tr),
n_ho AS (SELECT coalesce(sum(c_ho), 0) AS n_ho FROM ct_ho),
scored AS (
    SELECT tf.doc_id,
           CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
           CAST(sum(CAST(-tf.tf * ln(CAST(coalesce(ct_tr.c_tr, 0) + 1 AS DOUBLE)
                / CAST(n_tr.n_tr + vocab.v AS DOUBLE)) AS DECIMAL(28,10)))
               AS DOUBLE) AS tr_sum,
           CAST(sum(CAST(-tf.tf * ln(CAST(coalesce(ct_ho.c_ho, 0) + 1 AS DOUBLE)
                / CAST(n_ho.n_ho + vocab.v AS DOUBLE)) AS DECIMAL(28,10)))
               AS DOUBLE) AS ho_sum
    FROM tf
    LEFT JOIN ct_tr USING (term)
    LEFT JOIN ct_ho USING (term)
    CROSS JOIN vocab CROSS JOIN n_tr CROSS JOIN n_ho
    WHERE NOT tf.holdout
    GROUP BY 1
),
rho AS (
    SELECT doc_id, n_tokens,
           round(tr_sum / n_tokens, 4) AS train_loss,
           round(ho_sum / n_tokens, 4) AS irreducible_loss,
           round(round(tr_sum / n_tokens, 4)
               - round(ho_sum / n_tokens, 4), 4) AS rho
    FROM scored
)
SELECT * FROM rho ORDER BY rho DESC, doc_id LIMIT {RHO_TOP_N}
"""


# ---------------------------------------------------------------------------
# Filter attribution: why is my corpus shrinking?
# ---------------------------------------------------------------------------


def filter_attribution(t: dict[str, DataFrame]) -> DataFrame:
    """Per-source rejection ATTRIBUTION across the four standing gates
    — the diagnosis table a pipeline owner reads when a source's
    survival rate drops: for every source, how many documents each
    gate rejects (Gopher rule battery, text_stats quality threshold,
    exact-dup non-keeper, verified near-dup loser), how many are
    rejected by more than one gate (the overlap that makes naive
    per-gate subtraction wrong), and the final survival fraction.
    FineWeb/RefinedWeb publish exactly this cascade accounting per
    dump; it is how gate thresholds get tuned without re-running the
    corpus per candidate threshold.

    Scale shape: the Gopher and quality flags are narrow map passes
    over one documents scan; exact-dup keeper is the md5-keyed
    aggregate (32-byte shuffle keys); the near-dup loser set is the
    collision-bounded LSH output joined on doc_id with no forced
    broadcast (losers are a large fraction of a dup-heavy corpus, so
    AQE picks broadcast vs shuffle by measured size); the final rollup
    is one partial-combining groupBy(source) over boolean flags.
    Document text never crosses an exchange.
    """
    return _gate_flags(t).groupBy("source").agg(
        *_gate_counts(),
        F.round(
            F.sum(F.when(F.col("n_rej") == 0, 1).otherwise(0))
            / F.count(F.lit(1)),
            4,
        ).alias("survival_frac"),
    )


GATE_COUNTS = (
    "n_docs",
    "n_gopher_rejected",
    "n_quality_rejected",
    "n_exact_dup",
    "n_near_dup",
    "n_rejected_any",
    "n_multi_rejected",
)


def _gate_counts() -> list[F.Column]:
    """The per-source ``GATE_COUNTS`` aggregates over gate verdicts —
    shared by :func:`filter_attribution` and each
    ``stream_filter_attribution`` batch."""
    cnt = lambda c: F.sum(F.col(c).cast("int")).cast("long")  # noqa: E731
    return [
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        cnt("r_gopher").alias("n_gopher_rejected"),
        cnt("r_quality").alias("n_quality_rejected"),
        cnt("r_exact").alias("n_exact_dup"),
        cnt("r_near").alias("n_near_dup"),
        F.sum(F.when(F.col("n_rej") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_rejected_any"),
        F.sum(F.when(F.col("n_rej") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_multi_rejected"),
    ]


def _row_gates(t: dict[str, DataFrame]) -> tuple[DataFrame, DataFrame]:
    """The two per-row gates: (doc_id, r_gopher) and (doc_id, r_quality)."""
    from .text_analysis import QUALITY_THRESHOLD, text_stats

    g = gopher_rules(t).select(
        "doc_id", (~F.col("keep")).alias("r_gopher")
    )
    q = text_stats(t).select(
        "doc_id",
        (F.col("quality_score") < QUALITY_THRESHOLD).alias("r_quality"),
    )
    return g, q


def _gate_verdicts(
    e: DataFrame, g: DataFrame, q: DataFrame, near: DataFrame
) -> DataFrame:
    """(doc_id, source, r_gopher, r_quality, r_exact, r_near, n_rej)
    from the exact-dup verdicts ``e`` (doc_id, source, r_exact), the
    row gates and the near-dup losers ``near`` (doc_id, r_near)."""
    n_rej = sum(
        F.col(c).cast("int") for c in ("r_gopher", "r_quality", "r_exact", "r_near")
    )
    # no forced broadcast on the near-dup loser list: in dup-heavy web
    # corpora near-dup losers are a large FRACTION of all documents, so
    # the frame grows with the corpus — AQE broadcasts while it is
    # small and falls back to a shuffled join when it is not
    return (
        e.join(g, "doc_id")
        .join(q, "doc_id")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "r_gopher",
            "r_quality",
            "r_exact",
            F.coalesce(F.col("r_near"), F.lit(False)).alias("r_near"),
        )
        .withColumn("n_rej", n_rej)
    )


def _gate_flags(t: dict[str, DataFrame]) -> DataFrame:
    """Per-document verdicts of the four standing gates —
    (doc_id, source, r_gopher, r_quality, r_exact, r_near, n_rej);
    the shared frame behind :func:`filter_attribution` and
    :func:`token_yield` (and the per-batch scoring of
    ``streaming.embindex.stream_filter_attribution``)."""
    from .dedup import _minhash_pairs

    docs = t["documents"]
    g, q = _row_gates(t)
    hashed = docs.select("doc_id", "source", F.md5("text").alias("h"))
    keeper = hashed.groupBy("h").agg(F.min("doc_id").alias("keeper_id"))
    e = hashed.join(keeper, "h").select(
        "doc_id",
        "source",
        (F.col("doc_id") != F.col("keeper_id")).alias("r_exact"),
    )
    near = (
        _minhash_pairs(t)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("r_near", F.lit(True))
    )
    return _gate_verdicts(e, g, q, near)


def _filter_attribution_oracle() -> str:
    from .dedup import DEDUP_MINHASH_LSH_ORACLE
    from .text_analysis import QUALITY_THRESHOLD, TEXT_STATS_ORACLE

    return f"""
WITH grj AS (SELECT doc_id, keep FROM ({GOPHER_RULES_ORACLE})),
st AS ({TEXT_STATS_ORACLE}),
pairs AS ({DEDUP_MINHASH_LSH_ORACLE}),
nd AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
hsh AS (SELECT doc_id, source, md5(text) AS digest FROM documents),
kp AS (SELECT digest, min(doc_id) AS keeper_id FROM hsh GROUP BY 1),
flags AS (
    SELECT hsh.doc_id, hsh.source,
           NOT g.keep AS r_gopher,
           s.quality_score < {QUALITY_THRESHOLD} AS r_quality,
           hsh.doc_id != kp.keeper_id AS r_exact,
           nd.doc_id IS NOT NULL AS r_near
    FROM hsh
    JOIN kp ON hsh.digest = kp.digest
    JOIN grj g ON g.doc_id = hsh.doc_id
    JOIN st s ON s.doc_id = hsh.doc_id
    LEFT JOIN nd ON nd.doc_id = hsh.doc_id
),
scored AS (
    SELECT *,
           CASE WHEN r_gopher THEN 1 ELSE 0 END
           + CASE WHEN r_quality THEN 1 ELSE 0 END
           + CASE WHEN r_exact THEN 1 ELSE 0 END
           + CASE WHEN r_near THEN 1 ELSE 0 END AS n_rej
    FROM flags
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN r_gopher THEN 1 ELSE 0 END) AS BIGINT)
           AS n_gopher_rejected,
       CAST(sum(CASE WHEN r_quality THEN 1 ELSE 0 END) AS BIGINT)
           AS n_quality_rejected,
       CAST(sum(CASE WHEN r_exact THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exact_dup,
       CAST(sum(CASE WHEN r_near THEN 1 ELSE 0 END) AS BIGINT)
           AS n_near_dup,
       CAST(sum(CASE WHEN n_rej > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rejected_any,
       CAST(sum(CASE WHEN n_rej >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_multi_rejected,
       round(CAST(sum(CASE WHEN n_rej = 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 4) AS survival_frac
FROM scored
GROUP BY 1
"""


FILTER_ATTRIBUTION_ORACLE = _filter_attribution_oracle()

__all__.append("filter_attribution")


def token_yield(t: dict[str, DataFrame]) -> DataFrame:
    """The TOKEN funnel through the canonical gate cascade — what
    :func:`filter_attribution` counts in documents, this weighs in
    training tokens, because gates do not reject uniformly by length
    (Gopher's word-count bounds by construction do not) and the number
    a pretraining run actually budgets is surviving TOKENS per source:
    cumulative token mass after each stage in the corpus_curation
    order (Gopher rule battery → quality threshold → exact-dup keeper
    → near-dup keeper), each stage applied to the previous stage's
    survivors, with the final token survival fraction.  Verdicts are
    the standing per-gate flags (one corpus pass, shared with
    filter_attribution via ``_gate_flags``), so the funnel re-weighs
    rather than re-runs the gates.

    Scale shape: one extra keyed join of (doc_id, n_tokens) onto the
    flag frame, then one partial-combining groupBy(source) over five
    conditional token sums.
    """
    from .text_analysis import text_stats

    flags = _gate_flags(t).join(
        text_stats(t).select("doc_id", "n_tokens"), "doc_id"
    )
    s1 = ~F.col("r_gopher")
    s2 = s1 & ~F.col("r_quality")
    s3 = s2 & ~F.col("r_exact")
    s4 = s3 & ~F.col("r_near")
    tok = lambda cond: F.sum(  # noqa: E731
        F.when(cond, F.col("n_tokens")).otherwise(F.lit(0))
    ).cast("long")
    return flags.groupBy("source").agg(
        F.sum("n_tokens").cast("long").alias("n_tokens_total"),
        tok(s1).alias("tokens_after_gopher"),
        tok(s2).alias("tokens_after_quality"),
        tok(s3).alias("tokens_after_exact"),
        tok(s4).alias("tokens_after_near"),
        F.round(
            tok(s4) / F.sum("n_tokens"),
            4,
        ).alias("token_survival_frac"),
    )


def _token_yield_oracle() -> str:
    from .dedup import DEDUP_MINHASH_LSH_ORACLE
    from .text_analysis import QUALITY_THRESHOLD, TEXT_STATS_ORACLE

    return f"""
WITH grj AS (SELECT doc_id, keep FROM ({GOPHER_RULES_ORACLE})),
st AS ({TEXT_STATS_ORACLE}),
pairs AS ({DEDUP_MINHASH_LSH_ORACLE}),
nd AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
hsh AS (SELECT doc_id, source, md5(text) AS digest FROM documents),
kp AS (SELECT digest, min(doc_id) AS keeper_id FROM hsh GROUP BY 1),
flags AS (
    SELECT hsh.doc_id, hsh.source, st.n_tokens,
           NOT g.keep AS r_gopher,
           st.quality_score < {QUALITY_THRESHOLD} AS r_quality,
           hsh.doc_id != kp.keeper_id AS r_exact,
           nd.doc_id IS NOT NULL AS r_near
    FROM hsh
    JOIN kp ON hsh.digest = kp.digest
    JOIN grj g ON g.doc_id = hsh.doc_id
    JOIN st ON st.doc_id = hsh.doc_id
    LEFT JOIN nd ON nd.doc_id = hsh.doc_id
),
surv AS (
    SELECT source, n_tokens,
           NOT r_gopher AS s1,
           NOT r_gopher AND NOT r_quality AS s2,
           NOT r_gopher AND NOT r_quality AND NOT r_exact AS s3,
           NOT r_gopher AND NOT r_quality AND NOT r_exact AND NOT r_near
               AS s4
    FROM flags
)
SELECT source,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total,
       CAST(sum(CASE WHEN s1 THEN n_tokens ELSE 0 END) AS BIGINT)
           AS tokens_after_gopher,
       CAST(sum(CASE WHEN s2 THEN n_tokens ELSE 0 END) AS BIGINT)
           AS tokens_after_quality,
       CAST(sum(CASE WHEN s3 THEN n_tokens ELSE 0 END) AS BIGINT)
           AS tokens_after_exact,
       CAST(sum(CASE WHEN s4 THEN n_tokens ELSE 0 END) AS BIGINT)
           AS tokens_after_near,
       round(CAST(sum(CASE WHEN s4 THEN n_tokens ELSE 0 END) AS DOUBLE)
             / sum(n_tokens), 4) AS token_survival_frac
FROM surv
GROUP BY 1
"""


TOKEN_YIELD_ORACLE = _token_yield_oracle()

__all__.append("token_yield")


def quality_calibration(t: dict[str, DataFrame]) -> DataFrame:
    """Reliability table + expected calibration error (ECE) for the
    trained :func:`quality_logreg` filter — the second half of the
    classifier acceptance pair (:func:`quality_auc` measures
    discrimination; this measures whether the PROBABILITIES mean what
    they say, Guo et al. 2017 "On Calibration of Modern Neural
    Networks" §2): fitted probabilities binned into ten fixed-width
    bins, per bin the mean confidence vs the empirical positive rate,
    and the doc-weighted ECE repeated on every row.  A score used as a
    sampling weight (DSIR-style) or a threshold knob needs calibration,
    not just ranking.

    Scale shape: one partial-combining groupBy over ≤10 bin keys (the
    bin is a map-side expression over the already-rounded prob);
    confidences and the ECE weighting sum as exact DECIMAL so the
    one-row-per-bin table is order-independent across engines.  The
    classifier retrain upstream is :func:`quality_logreg`'s documented
    iteration contract.
    """
    from pyspark.sql import Window

    full = Window.partitionBy()
    scored = _quality_scored_cached(t)
    b = scored.select(
        F.least(F.floor(F.col("prob") * 10), F.lit(9))
        .cast("long")
        .alias("bin"),
        "prob",
        (F.col("label") == 1).cast("int").alias("pos"),
    )
    g = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(
            F.sum(F.col("prob").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_conf"),
        F.round(F.sum("pos") / F.count(F.lit(1)), 6).alias("frac_pos"),
    )
    gap = F.round(F.abs(F.col("avg_conf") - F.col("frac_pos")), 6)
    return g.select(
        "bin",
        "n_docs",
        "avg_conf",
        "frac_pos",
        gap.alias("abs_gap"),
    ).select(
        "*",
        F.round(
            F.sum(
                (F.col("n_docs") * F.col("abs_gap")).cast("decimal(28,10)")
            )
            .over(full)
            .cast("double")
            / F.sum("n_docs").over(full),
            6,
        ).alias("ece"),
    )


def _quality_calibration_oracle() -> str:
    return f"""
WITH s AS ({QUALITY_LOGREG_ORACLE}),
b AS (
    SELECT CAST(least(floor(prob * 10), 9) AS BIGINT) AS bin, prob,
           CASE WHEN label = 1 THEN 1 ELSE 0 END AS pos
    FROM s
),
g AS (
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(CAST(prob AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 6) AS avg_conf,
           round(sum(pos) * 1.0 / count(*), 6) AS frac_pos
    FROM b GROUP BY 1
),
gg AS (
    SELECT bin, n_docs, avg_conf, frac_pos,
           round(abs(avg_conf - frac_pos), 6) AS abs_gap
    FROM g
)
SELECT bin, n_docs, avg_conf, frac_pos, abs_gap,
       round(CAST(sum(CAST(n_docs * abs_gap AS DECIMAL(28,10))) OVER ()
                  AS DOUBLE)
             / sum(n_docs) OVER (), 6) AS ece
FROM gg
"""


QUALITY_CALIBRATION_ORACLE = _quality_calibration_oracle()

__all__.append("quality_calibration")
