"""Text-analysis operators over ``documents`` (north-star ops):
language ID (marker-token heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and document fingerprinting (bottom-k
sketch of character shingles).

Everything is native column expressions — no Python UDFs — so the whole
module rides whole-stage codegen; each operator is a single scan with
column pruning (only ``doc_id``/``text`` are read) and is
embarrassingly parallel (no shuffle except final display).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.caching import Memo
from ..functions.text import word_ngrams, words
from ..sources.tables import fan_out

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"]

LANG_MARKERS = {
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "en": ["the", "a", "of", "and", "is", "not"],
    "es": ["el", "la", "de", "y", "es", "no"],
    "fr": ["le", "la", "et", "les", "est", "pas"],
}

TOKEN_REGEX = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def _sql_list(items: list[str]) -> str:
    return "[" + ", ".join(f"'{x}'" for x in items) + "]"


def text_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Per-document quality features + a linear quality score."""
    toks = words(F.col("text"))
    n = F.size(toks)
    total_len = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    )
    clean = F.regexp_replace(F.lower(F.col("text")), "[a-z0-9 ]", "")
    punct_ratio = F.when(
        F.length("text") > 0, F.length(clean) / F.length("text")
    ).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.filter(toks, lambda x: x.isin(*STOPWORDS))
    )
    stop_ratio = F.when(n > 0, stop_hits / n).otherwise(F.lit(0.0))
    avg_len = F.when(n > 0, total_len / n).otherwise(F.lit(0.0))
    quality = (
        F.lit(0.5) * stop_ratio
        + F.lit(0.3) * F.least(n / F.lit(100.0), F.lit(1.0))
        - F.lit(0.2) * punct_ratio
    )
    return fan_out(t["documents"]).select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.round(avg_len, 4).alias("avg_token_len"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(quality, 4).alias("quality_score"),
    )


TEXT_STATS_ORACLE = f"""
WITH feats AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), x -> x != '') AS w,
           length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS n_punct,
           length(text) AS n_chars_raw
    FROM documents
),
base AS (
    SELECT doc_id,
           len(w) AS n,
           COALESCE(list_aggregate(list_transform(w, x -> length(x)), 'sum'), 0)
               AS total_len,
           CASE WHEN n_chars_raw > 0
                THEN CAST(n_punct AS DOUBLE) / n_chars_raw ELSE 0.0 END
               AS punct_ratio,
           len(list_filter(w, x -> list_contains({_sql_list(STOPWORDS)}, x)))
               AS stop_hits
    FROM feats
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       round(CASE WHEN n > 0 THEN CAST(total_len AS DOUBLE) / n ELSE 0.0 END, 4)
           AS avg_token_len,
       round(punct_ratio, 4) AS punct_ratio,
       round(CASE WHEN n > 0 THEN CAST(stop_hits AS DOUBLE) / n ELSE 0.0 END, 4)
           AS stopword_ratio,
       round(0.5 * (CASE WHEN n > 0 THEN CAST(stop_hits AS DOUBLE) / n ELSE 0.0 END)
             + 0.3 * least(n / 100.0, 1.0)
             - 0.2 * punct_ratio, 4) AS quality_score
FROM base
"""


def repetition_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021,
    "Scaling Language Models", appendix A1.1): most-frequent-token
    fraction, most-frequent-bigram fraction, and duplicate-trigram
    fraction — the filters that catch boilerplate and degenerate
    repetition before training.

    Zero-shuffle: every signal is a per-row array expression over the
    token list (counting via ``transform``+``filter`` over the distinct
    tokens — O(d·n) per row on bounded-length documents beats a global
    explode+groupBy, which would shuffle the full token stream).
    """
    d = (
        fan_out(t["documents"])
        .select("doc_id", words(F.col("text")).alias("w"))
        .select(
            "doc_id",
            "w",
            word_ngrams(F.col("w"), 2).alias("bg"),
            word_ngrams(F.col("w"), 3).alias("tg"),
        )
    )

    def top_frac(col: F.Column) -> F.Column:
        top = F.array_max(
            F.transform(
                F.array_distinct(col),
                lambda g: F.size(F.filter(col, lambda x: x == g)),
            )
        )
        return F.when(
            F.size(col) > 0, top.cast("double") / F.size(col)
        ).otherwise(F.lit(0.0))

    dup_tri = F.when(
        F.size("tg") > 0,
        F.lit(1.0) - F.size(F.array_distinct("tg")).cast("double") / F.size("tg"),
    ).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        F.round(top_frac(F.col("w")), 4).alias("top_token_frac"),
        F.round(top_frac(F.col("bg")), 4).alias("top_bigram_frac"),
        F.round(dup_tri, 4).alias("dup_trigram_frac"),
    )


def _repetition_oracle() -> str:
    bg = "w[i] || ' ' || w[i+1]"
    tg = "w[i] || ' ' || w[i+1] || ' ' || w[i+2]"
    return f"""
WITH base AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), x -> x != '') AS w
    FROM documents
),
g AS (
    SELECT doc_id, w,
           CASE WHEN len(w) >= 2 THEN list_transform(
               generate_series(1, len(w) - 1), i -> {bg}) ELSE [] END AS bg,
           CASE WHEN len(w) >= 3 THEN list_transform(
               generate_series(1, len(w) - 2), i -> {tg}) ELSE [] END AS tg
    FROM base
)
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS n_tokens,
       round(CASE WHEN len(w) > 0 THEN CAST(list_max(list_transform(
                 list_distinct(w), tk -> len(list_filter(w, x -> x = tk))))
                 AS DOUBLE) / len(w) ELSE 0.0 END, 4) AS top_token_frac,
       round(CASE WHEN len(bg) > 0 THEN CAST(list_max(list_transform(
                 list_distinct(bg), tk -> len(list_filter(bg, x -> x = tk))))
                 AS DOUBLE) / len(bg) ELSE 0.0 END, 4) AS top_bigram_frac,
       round(CASE WHEN len(tg) > 0
                 THEN 1.0 - CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg)
                 ELSE 0.0 END, 4) AS dup_trigram_frac
FROM g
"""


REPETITION_STATS_ORACLE = _repetition_oracle()


QUALITY_THRESHOLD = 0.15


def corpus_curation(t: dict[str, DataFrame]) -> DataFrame:
    """End-to-end training-corpus curation — the pipeline these
    operators exist for, composed and oracle-gated as one plan:

    1. quality gate: keep documents with quality_score ≥ threshold;
    2. exact dedup: among survivors, keep the min doc_id per md5(text);
    3. near-dup removal: drop any doc appearing as the higher id of a
       verified MinHash-LSH pair (jaccard ≥ 0.5, keep-lowest rule).

    Scale shape: stage 1 is a narrow map over the scan; stage 2 shuffles
    (hash, doc_id) pairs only; stage 3 reuses the LSH candidate
    machinery (bounded by collision count) and lands as an anti-join
    against the loser id list with NO forced broadcast — near-dup
    losers are a large fraction of a dup-heavy crawl, so AQE picks
    broadcast vs shuffle by the frame's measured size.
    """
    from .dedup import _minhash_pairs

    stats = text_stats(t).select("doc_id", "n_tokens", "quality_score")
    survivors = stats.filter(F.col("quality_score") >= QUALITY_THRESHOLD)
    # (doc_id, digest, stats) rows feed the keeper aggregate AND the
    # final keeper join: checkpointed so the text is read and hashed
    # once, not once per consumer
    hashed = (
        t["documents"]
        .select("doc_id", F.md5("text").alias("h"))
        .join(survivors, "doc_id")
        .localCheckpoint(eager=False)
    )
    keepers = hashed.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    near_dup_losers = _minhash_pairs(t).select(F.col("doc_b").alias("doc_id"))
    return (
        hashed.join(keepers, ["h", "doc_id"])  # semi: keeper rows only
        .join(near_dup_losers, "doc_id", "left_anti")
        .select("doc_id", "n_tokens", "quality_score")
    )


def _curation_oracle() -> str:
    from .dedup import DEDUP_MINHASH_LSH_ORACLE

    return f"""
WITH stats AS ({TEXT_STATS_ORACLE}),
survivors AS (
    SELECT s.doc_id, s.n_tokens, s.quality_score, md5(d.text) AS h
    FROM stats s JOIN documents d ON s.doc_id = d.doc_id
    WHERE s.quality_score >= {QUALITY_THRESHOLD}
),
keepers AS (
    SELECT h, min(doc_id) AS doc_id FROM survivors GROUP BY 1
),
losers AS (
    SELECT DISTINCT doc_b AS doc_id FROM ({DEDUP_MINHASH_LSH_ORACLE})
)
SELECT s.doc_id, s.n_tokens, s.quality_score
FROM survivors s
JOIN keepers k ON s.h = k.h AND s.doc_id = k.doc_id
WHERE s.doc_id NOT IN (SELECT doc_id FROM losers)
"""


def lang_id(t: dict[str, DataFrame]) -> DataFrame:
    """Marker-token language ID with deterministic tie-breaking
    (checked in lexicographic lang order with >=)."""
    toks = words(F.col("text"))

    def marker_hits(markers: list[str]):
        return F.size(F.filter(toks, lambda x: x.isin(*markers)))

    hits = {lang: marker_hits(markers) for lang, markers in LANG_MARKERS.items()}
    pred = (
        F.when(
            (hits["de"] >= hits["en"])
            & (hits["de"] >= hits["es"])
            & (hits["de"] >= hits["fr"]),
            "de",
        )
        .when((hits["en"] >= hits["es"]) & (hits["en"] >= hits["fr"]), "en")
        .when(hits["es"] >= hits["fr"], "es")
        .otherwise("fr")
    )
    return fan_out(t["documents"]).select(
        "doc_id",
        pred.alias("pred_lang"),
        *[hits[lang].cast("long").alias(f"{lang}_hits") for lang in sorted(LANG_MARKERS)],
    )


def _lang_id_oracle() -> str:
    hit_exprs = ",\n           ".join(
        f"CAST(len(list_filter(w, x -> list_contains({_sql_list(m)}, x))) AS BIGINT)"
        f" AS {lang}_hits"
        for lang, m in sorted(LANG_MARKERS.items())
    )
    return f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), x -> x != '') AS w
    FROM documents
),
hits AS (
    SELECT doc_id,
           {hit_exprs}
    FROM toks
)
SELECT doc_id,
       CASE WHEN de_hits >= en_hits AND de_hits >= es_hits AND de_hits >= fr_hits
                THEN 'de'
            WHEN en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
            WHEN es_hits >= fr_hits THEN 'es'
            ELSE 'fr' END AS pred_lang,
       de_hits, en_hits, es_hits, fr_hits
FROM hits
"""


LANG_ID_ORACLE = _lang_id_oracle()


def token_count(t: dict[str, DataFrame]) -> DataFrame:
    """Whitespace tokens vs BPE-ish regex tokens per document."""
    return fan_out(t["documents"]).select(
        "doc_id",
        F.size(words(F.col("text"))).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_REGEX), 0))
        .cast("long")
        .alias("n_regex_tokens"),
    )


TOKEN_COUNT_ORACLE = rf"""
SELECT doc_id,
       CAST(len(list_filter(string_split(lower(text), ' '), x -> x != ''))
            AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '{TOKEN_REGEX}')) AS BIGINT)
           AS n_regex_tokens
FROM documents
"""

FINGERPRINT_K = 4
SHINGLE_LEN = 5


def doc_fingerprint(t: dict[str, DataFrame]) -> DataFrame:
    """Bottom-k sketch over character 5-gram hashes — a compact,
    order-insensitive content fingerprint (winnowing-style)."""
    grams = F.expr(
        f"transform(sequence(1, greatest(length(text) - {SHINGLE_LEN - 1}, 1)),"
        f" i -> md5(substring(text, i, {SHINGLE_LEN})))"
    )
    fp = F.array_join(
        F.slice(F.array_sort(F.array_distinct(grams)), 1, FINGERPRINT_K), ","
    )
    return fan_out(t["documents"]).select("doc_id", fp.alias("fingerprint"))


DOC_FINGERPRINT_ORACLE = f"""
SELECT doc_id,
       array_to_string(
           list_sort(list_distinct(
               list_transform(
                   generate_series(1, greatest(length(text) - {SHINGLE_LEN - 1}, 1)),
                   i -> md5(substring(text, i, {SHINGLE_LEN}))
               )
           ))[1:{FINGERPRINT_K}],
           ','
       ) AS fingerprint
FROM documents
"""


TFIDF_TOP_K = 3


def _doc_term_tf(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf): per-document term frequencies over the
    whitespace tokenizer, checkpointed — the index build shared by
    :func:`tfidf_top_terms`, :func:`bm25_search` and
    :func:`unigram_logprob`."""
    # explode_outer + isNotNull so the inferred non-empty filter cannot
    # sink the tokenize expression below the fan_out exchange into the
    # serial scan task — see dedup.decontaminate.
    toks = (
        fan_out(docs)
        .select("doc_id", F.explode_outer(words(F.col("text"))).alias("term"))
        .filter(F.col("term").isNotNull())
    )
    return (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )


def _unigram_token_lp(tf: DataFrame) -> tuple[DataFrame, F.Column]:
    """``(counted, lp)``: the term-frequency rows ``tf`` joined with
    their term's corpus count ``c`` and the 1-row corpus total ``tot``,
    and each row's unigram log-probability mass ``tf·ln(c/tot)`` as
    DECIMAL(28,10) — shared by :func:`unigram_logprob` and
    ``selection.ccnet_buckets``."""
    ct = tf.groupBy("term").agg(F.sum("tf").alias("c"))
    tot = ct.agg(F.sum("c").alias("tot"))
    lp = (
        F.col("tf")
        * F.log(F.col("c").cast("double") / F.col("tot").cast("double"))
    ).cast("decimal(28,10)")
    return tf.join(ct, "term").crossJoin(F.broadcast(tot)), lp


def tfidf_top_terms(t: dict[str, DataFrame]) -> DataFrame:
    """Top-k distinguishing terms per document by TF-IDF.

    The idf factor is the raw ratio ``N/df`` (no log): integer-exact
    numerators make the double division bit-identical across engines,
    so rank order needs no float tolerance. Ties break on the term
    string. N is computed IN-plan (1-row broadcast), not collected.

    Scale shape — three candidate plans, and why this one:

    1. groupBy(term) for df + self-join on the lazy tf frame: skew-safe
       (map-side partial agg) but re-runs the whole tokenize+aggregate
       subtree twice — the fan_out round-robin repartition is
       nondeterministic, so Catalyst refuses ReusedExchange.
    2. ``count(*) over (partition by term)`` window on tf: one tokenize
       pass, but a window partition is UNSPLITTABLE — every tf row of a
       hot term ("the" ≈ every doc in the corpus) lands on one task.
       Fine locally, catastrophic at 100 TB.
    3. (this) materialize tf once — ``localCheckpoint`` of the inverted
       index, the artifact this query exists to build — then df via
       groupBy(term) whose partial aggregation collapses hot terms
       map-side, then join df back on term. The join's skew is
       AQE-splittable (sort-merge), unlike a window's.

    The per-doc top-k window partitions by doc_id — bounded by a single
    document's vocabulary, never corpus-hot.
    """
    from pyspark.sql import Window

    docs = t["documents"]
    tf = _doc_term_tf(docs)
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    score = (F.col("tf") * F.col("n_docs") / F.col("df")).alias("score")
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "term", "tf", score)
    )

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select(
            "doc_id",
            "term",
            "tf",
            F.round("score", 4).alias("tfidf"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


TFIDF_TOP_TERMS_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x != '')) AS term
    FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf,
           CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score
    FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
       round(score, 4) AS tfidf, CAST(rnk AS BIGINT) AS rnk
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term
    ) AS rnk
    FROM scored
)
WHERE rnk <= {TFIDF_TOP_K}
"""


# Per-language keep-rates (percent): downsample the dominant language,
# keep the tail. Deterministic hash sampling — re-runs and retries pick
# the same rows on any engine (md5 is the portable hash).
SAMPLE_RATES = {"de": 60, "en": 30, "es": 60, "fr": 60, "zh": 60}


def sample_stratified(t: dict[str, DataFrame]) -> DataFrame:
    """Deterministic stratified corpus sample: keep a doc iff its hash
    bucket (md5 of doc_id, first 8 hex digits mod 100) falls under its
    language's keep-rate. Zero-shuffle — a narrow filter over the scan,
    reproducible at any scale and across engines."""
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    rate = F.lit(0)
    for lang, pct in sorted(SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    return (
        t["documents"]
        .select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < rate)
    )


def _sample_oracle() -> str:
    cases = " ".join(
        f"WHEN '{lang}' THEN {pct}" for lang, pct in sorted(SAMPLE_RATES.items())
    )
    return f"""
SELECT doc_id, lang, bucket
FROM (
    SELECT doc_id, lang,
           CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               % 100 AS bucket
    FROM documents
)
WHERE bucket < CASE lang {cases} ELSE 0 END
"""


SAMPLE_STRATIFIED_ORACLE = _sample_oracle()


# --- sequence packing ------------------------------------------------------

PACK_SHARDS = 8
PACK_BUDGET_TOKENS = 2048


def pack_sequences(t: dict[str, DataFrame]) -> DataFrame:
    """Assign every document to a training pack: shard by doc hash, then
    within each shard fill fixed token-budget packs in doc_id order.
    ``pack_id = floor(start_offset / budget)`` — the streaming-fill rule,
    so a pack's docs are contiguous in the shard order and re-runs (or a
    different engine) produce byte-identical assignments.

    Scale shape: ONE shuffle (hash on shard) + a per-shard sort for the
    running-sum window. Shards pack independently, so parallelism is the
    shard count — set PACK_SHARDS ~ cluster cores at 100 TB and no
    single global ordering is ever required. The window carries only
    (doc_id, n_tokens), not text.
    """
    from pyspark.sql import Window

    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % PACK_SHARDS
    )
    d = fan_out(t["documents"]).select(
        "doc_id",
        shard.alias("shard"),
        F.size(words(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return d.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("tok_offset"),
    ).withColumn(
        "pack_id", F.expr(f"tok_offset div {PACK_BUDGET_TOKENS}")
    )


PACK_SEQUENCES_ORACLE = f"""
WITH d AS (
    SELECT doc_id,
           CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               % {PACK_SHARDS} AS shard,
           CAST(len(list_filter(string_split(lower(text), ' '), x -> x != ''))
                AS BIGINT) AS n_tokens
    FROM documents
)
SELECT doc_id, shard, n_tokens,
       CAST(coalesce(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
       ), 0) AS BIGINT) AS tok_offset,
       CAST(coalesce(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
       ), 0) AS BIGINT) // {PACK_BUDGET_TOKENS} AS pack_id
FROM d
"""


# --- document chunking -----------------------------------------------------

CHUNK_SIZE = 400
CHUNK_STRIDE = 300  # = CHUNK_SIZE - overlap(100)


def chunk_documents(t: dict[str, DataFrame]) -> DataFrame:
    """Split every document into fixed-size overlapping chunks (the
    context-window prep step): starts at 1, 1+stride, ... until the
    window covers the tail; ``n = 1 + ceil(max(len - size, 0)/stride)``
    computed as integer ``(a + stride - 1) div stride`` so both engines
    truncate identically.

    Scale shape: zero shuffles — a per-row 1→N expansion (posexplode of
    an index sequence) with all chunk math map-side; fan_out only spreads
    the substring work. Emits chunk offsets + an md5 content id, not a
    second copy of the corpus per overlap: downstream consumers slice
    from (doc_id, start, chunk_len).
    """
    n_chunks = F.expr(
        f"1 + (greatest(length(text) - {CHUNK_SIZE}, 0) + {CHUNK_STRIDE} - 1)"
        f" div {CHUNK_STRIDE}"
    )
    d = fan_out(t["documents"]).select(
        "doc_id", "text", n_chunks.alias("n_chunks")
    )
    exploded = d.select(
        "doc_id",
        F.posexplode(F.expr("sequence(0, n_chunks - 1)")).alias("chunk_id", "i"),
        "text",
    )
    start = (F.col("i") * CHUNK_STRIDE + 1).alias("start")
    chunk = F.expr(f"substring(text, i * {CHUNK_STRIDE} + 1, {CHUNK_SIZE})")
    return exploded.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        start.cast("long"),
        F.length(chunk).cast("long").alias("chunk_len"),
        F.md5(chunk).alias("chunk_md5"),
    )


CHUNK_DOCUMENTS_ORACLE = f"""
WITH d AS (
    SELECT doc_id, text,
           1 + (greatest(length(text) - {CHUNK_SIZE}, 0) + {CHUNK_STRIDE} - 1)
               // {CHUNK_STRIDE} AS n_chunks
    FROM documents
),
e AS (
    SELECT doc_id, text,
           unnest(generate_series(0, n_chunks - 1)) AS i
    FROM d
)
SELECT doc_id,
       i AS chunk_id,
       i * {CHUNK_STRIDE} + 1 AS start,
       CAST(length(substring(text, CAST(i * {CHUNK_STRIDE} + 1 AS INT), {CHUNK_SIZE}))
            AS BIGINT) AS chunk_len,
       md5(substring(text, CAST(i * {CHUNK_STRIDE} + 1 AS INT), {CHUNK_SIZE})) AS chunk_md5
FROM e
"""


# --- mixture upsampling ----------------------------------------------------

# Per-language epoch factors in FIXED-POINT HUNDREDTHS (integer), the
# way a training-mixture spec materializes: every doc repeats
# floor(factor/100) times, plus one more iff its md5 bucket falls under
# factor % 100 — deterministic fractional epochs, no RNG.
MIXTURE_EPOCHS_PCT = {"de": 250, "en": 100, "es": 220, "fr": 220, "zh": 300}


def mixture_upsample(t: dict[str, DataFrame]) -> DataFrame:
    """Materialize a training mixture: repeat each document according to
    its language's (fractional) epoch factor. Output one row per copy
    with ``copy_id`` so downstream shuffles spread the repeats.

    Scale shape: zero shuffles — repeats come from a map-side
    ``posexplode(sequence(...))`` and the fractional epoch is the same
    md5-bucket trick as ``sample_stratified`` (reruns pick identical
    copies on any engine). The plan carries (doc_id, lang) only; the
    text column stays prunable because copies reference, not duplicate,
    the payload.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    factor = F.lit(0)
    for lang, pct in sorted(MIXTURE_EPOCHS_PCT.items()):
        factor = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(factor)
    n_copies = (
        F.expr("factor div 100")
        + (F.col("bucket") < factor % 100).cast("int")
    )
    d = t["documents"].select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        factor.alias("factor"),
    ).withColumn("n_copies", n_copies)
    return d.filter(F.col("n_copies") > 0).select(
        "doc_id",
        "lang",
        F.posexplode(F.expr("sequence(1, n_copies)")).alias("pos", "copy_id"),
    ).select("doc_id", "lang", F.col("copy_id").cast("long").alias("copy_id"))


def _mixture_oracle() -> str:
    cases = " ".join(
        f"WHEN '{lang}' THEN {pct}"
        for lang, pct in sorted(MIXTURE_EPOCHS_PCT.items())
    )
    return f"""
WITH d AS (
    SELECT doc_id, lang,
           CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               % 100 AS bucket,
           CASE lang {cases} ELSE 0 END AS factor
    FROM documents
),
n AS (
    SELECT doc_id, lang,
           factor // 100
               + CASE WHEN bucket < factor % 100 THEN 1 ELSE 0 END AS n_copies
    FROM d
)
SELECT doc_id, lang, CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy_id
FROM n
WHERE n_copies > 0
"""


MIXTURE_UPSAMPLE_ORACLE = _mixture_oracle()


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (query-by-example)
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERIES = 3  # bounded query set: the lowest doc_ids
BM25_TOP_K = 5


def bm25_search(t: dict[str, DataFrame]) -> DataFrame:
    """Okapi BM25 (Robertson & Zaragoza 2009) query-by-example: rank
    the corpus against each of the BM25_QUERIES lowest-id documents'
    term sets — the lexical-retrieval baseline next to the embedding
    ANN family, and the other standard near-dup evidence signal.

    Scale shape: ONE tokenize pass builds the tf table
    (``localCheckpoint``ed — doc lengths, document frequencies, and
    scores all read it; the nondeterministic ``fan_out`` round-robin
    blocks ReusedExchange, see ``tfidf_top_terms``). The query term
    set and the per-term document frequencies are bounded by the
    query docs' vocabulary and ride broadcasts, so the corpus-side tf
    is filtered map-side to matching terms BEFORE its only keyed
    shuffle (the doc-length join). Per-term contributions sum as
    DECIMAL(28,10) so shuffle-order double addition cannot diverge
    from the oracle's sequential sum. The final per-query top-k is
    TWO-phase: a local row_number per (query, input partition) keeps
    k rows per task, then the global window ranks ≤ k·partitions
    rows — a single per-query window partition would funnel every
    candidate of a query through one task (corpus-hot at 100 TB;
    BM25_QUERIES partitions total).
    """
    from pyspark.sql import Window

    docs = t["documents"]
    tf = _doc_term_tf(docs)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("tot")
    ).select(
        "n_docs", (F.col("tot").cast("double") / F.col("n_docs")).alias("avgdl")
    )
    qids = (
        docs.select(F.col("doc_id").alias("q_doc_id"))
        .orderBy("q_doc_id")
        .limit(BM25_QUERIES)
    )
    qterms = (
        tf.join(F.broadcast(qids), tf["doc_id"] == qids["q_doc_id"])
        .select("q_doc_id", "term")
        .distinct()
    )
    dfreq = (
        tf.join(F.broadcast(qterms.select("term").distinct()), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tfn = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    per_term = (
        tf.join(F.broadcast(qterms), "term")
        .filter(F.col("doc_id") != F.col("q_doc_id"))
        .join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "q_doc_id",
            "doc_id",
            (idf * tfn).cast("decimal(28,10)").alias("sc"),
        )
    )
    scores = per_term.groupBy("q_doc_id", "doc_id").agg(
        F.sum("sc").cast("double").alias("s")
    )
    order = [F.round("s", 6).desc(), F.col("doc_id")]
    w_local = Window.partitionBy("q_doc_id", "p").orderBy(*order)
    w_global = Window.partitionBy("q_doc_id").orderBy(*order)
    return (
        scores.withColumn("p", F.spark_partition_id())
        .withColumn("lr", F.row_number().over(w_local))
        .filter(F.col("lr") <= BM25_TOP_K)
        .withColumn("rnk", F.row_number().over(w_global))
        .filter(F.col("rnk") <= BM25_TOP_K)
        .select(
            "q_doc_id",
            "doc_id",
            F.round("s", 4).alias("bm25"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


BM25_SEARCH_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x != '')) AS term
    FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
stats AS (
    SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
    FROM dl
),
qids AS (
    SELECT doc_id AS q_doc_id FROM documents
    ORDER BY doc_id LIMIT {BM25_QUERIES}
),
qterms AS (
    SELECT DISTINCT q.q_doc_id, tf.term
    FROM tf JOIN qids q ON tf.doc_id = q.q_doc_id
),
dfreq AS (
    SELECT term, count(*) AS df FROM tf
    WHERE term IN (SELECT term FROM qterms)
    GROUP BY 1
),
per_term AS (
    SELECT qt.q_doc_id, tf.doc_id,
           CAST(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                * (tf.tf * ({BM25_K1} + 1))
                / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                   + {BM25_B} * dl.dl / s.avgdl))
                AS DECIMAL(28,10)) AS sc
    FROM tf
    JOIN qterms qt USING (term)
    JOIN dfreq d USING (term)
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats s
    WHERE tf.doc_id != qt.q_doc_id
),
scores AS (
    SELECT q_doc_id, doc_id, CAST(sum(sc) AS DOUBLE) AS s
    FROM per_term GROUP BY 1, 2
),
ranked AS (
    SELECT q_doc_id, doc_id, s,
           row_number() OVER (PARTITION BY q_doc_id
                              ORDER BY round(s, 6) DESC, doc_id) AS rnk
    FROM scores
)
SELECT q_doc_id, doc_id, round(s, 4) AS bm25, rnk
FROM ranked WHERE rnk <= {BM25_TOP_K}
"""


# ---------------------------------------------------------------------------
# Unigram LM quality scoring (CCNet-style)
# ---------------------------------------------------------------------------


def unigram_logprob(t: dict[str, DataFrame]) -> DataFrame:
    """Per-document average unigram log-probability under the corpus'
    own unigram LM — the CCNet-style (Wenzek et al. 2020) statistical
    quality score: boilerplate/repetitive documents score high,
    vocabulary-heavy outliers score low. Complements the rule-based
    ``text_stats`` gate with a model-based signal.

    Scale shape: one tokenize pass builds tf (``localCheckpoint``ed —
    term counts and per-doc scoring both read it); corpus term counts
    come from a groupBy(term) whose partial sums collapse hot terms
    map-side. The tf⋈counts join is a keyed shuffle on term — the
    vocabulary of a 100 TB corpus does NOT broadcast; only the 1-row
    total does. Per-token contributions ``tf·ln(c/T)`` sum as
    DECIMAL(28,10): shuffle-order double addition can never diverge
    from the oracle's sequential sum.
    """
    docs = t["documents"]
    tf = _doc_term_tf(docs)
    counted, lp = _unigram_token_lp(tf)
    per_doc = (
        counted.groupBy("doc_id")
        .agg(
            F.sum(lp).cast("double").alias("lp_sum"),
            F.sum("tf").alias("n_tokens"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("lp_sum") / F.col("n_tokens"), 4).alias("avg_logprob"),
    )


UNIGRAM_LOGPROB_ORACLE = """
WITH toks AS (
    SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x != '')) AS term
    FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
ct AS (SELECT term, sum(tf) AS c FROM tf GROUP BY 1),
tot AS (SELECT sum(c) AS tot FROM ct),
per_doc AS (
    SELECT tf.doc_id,
           sum(CAST(tf.tf * ln(CAST(ct.c AS DOUBLE) / CAST(tot.tot AS DOUBLE))
                    AS DECIMAL(28,10))) AS lp_sum,
           sum(tf.tf) AS n_tokens
    FROM tf JOIN ct USING (term) CROSS JOIN tot
    GROUP BY 1
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(CAST(lp_sum AS DOUBLE) / n_tokens, 4) AS avg_logprob
FROM per_doc
"""


# ---------------------------------------------------------------------------
# BPE pair statistics (tokenizer induction primitive)
# ---------------------------------------------------------------------------

BPE_TOP = 20


def bpe_pair_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Corpus-weighted adjacent-character-pair frequencies — the
    statistic one BPE merge round (Sennrich et al. 2016) maximizes.
    Tokenizer induction is a corpus-scale aggregation, not a library
    call: this is its Spark shape.

    Scale shape: pair expansion runs over the DISTINCT-token frequency
    table, not the raw token stream — the corpus collapses to its
    vocabulary first (one groupBy whose partial counts combine
    map-side), then each vocab entry expands to len-1 pairs weighted
    by its frequency. Per merge round that is O(|vocab| · len), not
    O(corpus tokens). The pair count groupBy partial-aggregates
    map-side, and the top-k is the distributed TakeOrderedAndProject.
    ``sequence(1, len-1)`` is guarded by ``length >= 2`` because Spark
    sequences DESCEND when stop < start.
    """
    docs = t["documents"]
    toks = (
        fan_out(docs)
        .select(F.explode_outer(words(F.col("text"))).alias("tok"))
        .filter(F.col("tok").isNotNull())
    )
    tf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    pairs = tf.select(
        "freq",
        F.explode(
            F.when(
                F.length("tok") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.length("tok") - 1),
                    lambda i: F.col("tok").substr(i, F.lit(2)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(BPE_TOP)
    )


BPE_PAIR_STATS_ORACLE = f"""
WITH toks AS (
    SELECT unnest(list_filter(string_split(lower(text), ' '),
                              x -> x != '')) AS tok
    FROM documents
),
tf AS (SELECT tok, count(*) AS freq FROM toks GROUP BY 1),
pairs AS (
    SELECT tf.freq,
           unnest(list_transform(generate_series(1, len(tok) - 1),
                                 i -> substring(tok, i, 2))) AS pair
    FROM tf WHERE len(tok) >= 2
)
SELECT pair, CAST(sum(freq) AS BIGINT) AS n
FROM pairs GROUP BY 1
ORDER BY n DESC, pair
LIMIT {BPE_TOP}
"""


# ---------------------------------------------------------------------------
# BPE merge training (bounded-round greedy trainer)
# ---------------------------------------------------------------------------

BPE_MERGE_ROUNDS = 8
# Symbol framing for the merge-by-replace trick: every symbol is wrapped
# \x1e<sym>\x1f, so a merge of (a, b) is ONE non-overlapping left-to-right
# string replace of \x1ea\x1f\x1eb\x1f with \x1eab\x1f — which is exactly
# the greedy BPE merge scan ([a,a,a,a] → [aa,aa], [a,a,a] → [aa,a]) because
# SQL replace() consumes matches left-to-right and resumes AFTER each
# replacement.  Identical semantics in Spark and DuckDB, so the learned
# merge table hash-matches across engines.
_BPE_O = "\x1e"
_BPE_C = "\x1f"


# the collected (lhs, rhs) merge list of the trained BPE tokenizer,
# memoized per documents frame (K tiny driver rows): bpe_encode and
# tokenizer_fertility each re-ran the full K-round trainer to rebuild
# the identical table.  The declared bpe_train_merges query itself
# never consults the memo.
_BPE_MERGES_MEMO = Memo(4)


def _bpe_merges(t: dict[str, DataFrame]) -> list[tuple[str, str]]:
    return _BPE_MERGES_MEMO.get(
        t["documents"],
        (BPE_MERGE_ROUNDS,),
        lambda: [
            (r["lhs"], r["rhs"])
            for r in bpe_train_merges(t).orderBy("round").collect()
        ],
    )


def bpe_train_merges(t: dict[str, DataFrame]) -> DataFrame:
    """Greedy BPE merge training (Sennrich et al. 2016, learn_bpe):
    iterate :func:`bpe_pair_stats`'s statistic into an actual merge
    TABLE — K rounds of (count adjacent symbol pairs over the vocab,
    weighted by word frequency) → (argmax pair, ties broken
    lexicographically) → (merge that pair in every vocab word).

    Spark shape: the corpus collapses ONCE to its word-frequency vocab
    (the only corpus-scale shuffle); each round then runs over the
    vocab alone — a pair explode + partial-agg count + a 1-row argmax
    collect, followed by a map-side string replace.  The K argmax
    collects are the driver's steering wheel, same as
    ``similarity.kmeans_cells``'s centroid pulls: O(K) rows ever reach
    the driver.  Per round cost is O(|vocab| · avg_len), independent
    of corpus size — at 100 TB the vocab is millions of rows, still a
    trivial per-round job.  Lineage stays flat via one
    localCheckpoint per round (K is small and bounded).

    Returns the learned merge table (round, lhs, rhs, merged, n) —
    the artifact ``tokenize_to_ids`` consumes in a real tokenizer
    pipeline.  The DuckDB oracle replays the SAME K rounds as K
    generated CTE blocks over the same encoding, and a pure-Python
    reference implementation is pinned in tests.
    """
    docs = t["documents"]
    toks = (
        fan_out(docs)
        .select(F.explode_outer(words(F.col("text"))).alias("tok"))
        .filter(F.col("tok").isNotNull())
    )
    enc = F.concat(
        F.lit(""),
        F.array_join(
            F.transform(
                F.filter(F.split(F.col("tok"), ""), lambda c: c != F.lit("")),
                lambda c: F.concat(F.lit(_BPE_O), c, F.lit(_BPE_C)),
            ),
            "",
        ),
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(enc.alias("enc"), "freq")
        .localCheckpoint(eager=False)
    )

    merges: list[tuple[int, str, str, str, int]] = []
    for rnd in range(1, BPE_MERGE_ROUNDS + 1):
        syms = vocab.select(
            "freq",
            F.split(
                F.expr("substring(enc, 2, length(enc) - 2)"), _BPE_C + _BPE_O
            ).alias("s"),
        ).filter(F.size("s") >= 2)
        pairs = syms.select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("s") - 1),
                    lambda i: F.struct(
                        F.element_at("s", i).alias("a"),
                        F.element_at("s", i + 1).alias("b"),
                    ),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, n = top[0]["a"], top[0]["b"], top[0]["n"]
        merges.append((rnd, a, b, a + b, int(n)))
        vocab = vocab.select(
            F.replace(
                "enc",
                F.lit(_BPE_O + a + _BPE_C + _BPE_O + b + _BPE_C),
                F.lit(_BPE_O + a + b + _BPE_C),
            ).alias("enc"),
            "freq",
        ).localCheckpoint(eager=False)

    spark = docs.sparkSession
    return spark.createDataFrame(
        merges, "round int, lhs string, rhs string, merged string, n long"
    )


def _bpe_train_oracle() -> str:
    """K chained CTE blocks replaying the exact same encoding, pair
    count, argmax tiebreak, and replace-merge as the Spark trainer."""
    o, c = _BPE_O, _BPE_C
    blocks = [
        f"""
vocab_1 AS MATERIALIZED (
    SELECT list_aggr(list_transform(string_split(tok, ''),
                     ch -> chr(30) || ch || chr(31)), 'string_agg', '') AS enc,
           count(*) AS freq
    FROM (SELECT unnest(list_filter(string_split(lower(text), ' '),
                                    x -> x != '')) AS tok
          FROM documents)
    GROUP BY 1
)"""
    ]
    for r in range(1, BPE_MERGE_ROUNDS + 1):
        blocks.append(
            f"""
syms_{r} AS MATERIALIZED (
    SELECT freq,
           string_split(substring(enc, 2, length(enc) - 2),
                        chr(31) || chr(30)) AS s
    FROM vocab_{r}
    WHERE length(enc) > 0 AND len(string_split(substring(enc, 2,
            length(enc) - 2), chr(31) || chr(30))) >= 2
),
best_{r} AS MATERIALIZED (
    SELECT s[i] AS a, s[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS n
    FROM syms_{r}, unnest(generate_series(1, len(s) - 1)) AS g(i)
    GROUP BY 1, 2
    ORDER BY n DESC, a, b
    LIMIT 1
),
vocab_{r + 1} AS MATERIALIZED (
    SELECT replace(enc, chr(30) || a || chr(31) || chr(30) || b || chr(31),
                   chr(30) || a || b || chr(31)) AS enc, freq
    FROM vocab_{r} CROSS JOIN best_{r}
)"""
        )
    selects = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, a AS lhs, b AS rhs, a || b AS merged, n "
        f"FROM best_{r}"
        for r in range(1, BPE_MERGE_ROUNDS + 1)
    )
    return "WITH " + ",".join(blocks) + "\n" + selects


BPE_TRAIN_MERGES_ORACLE = _bpe_train_oracle()


def _bpe_symbol_count(t: dict[str, DataFrame]) -> F.Column:
    """A document's BPE symbol count under the learned merge table —
    shared by :func:`bpe_encode` and :func:`tokenizer_fertility`, which
    must encode identically or their counts drift.  The K merges
    collect to the driver and apply as K literal chained ``replace``
    expressions (whole-stage codegen) over the delimiter-framed
    encoding the trainer used."""
    merges = _bpe_merges(t)
    enc_tok = F.array_join(
        F.transform(
            words(F.col("text")),
            lambda tok: F.array_join(
                F.transform(
                    F.filter(F.split(tok, ""), lambda c: c != F.lit("")),
                    lambda c: F.concat(F.lit(_BPE_O), c, F.lit(_BPE_C)),
                ),
                "",
            ),
        ),
        " ",
    )
    s = enc_tok
    for a, b in merges:
        s = F.replace(
            s,
            F.lit(_BPE_O + a + _BPE_C + _BPE_O + b + _BPE_C),
            F.lit(_BPE_O + a + b + _BPE_C),
        )
    return F.length(s) - F.length(F.replace(s, F.lit(_BPE_O), F.lit("")))


def bpe_encode(t: dict[str, DataFrame]) -> DataFrame:
    """Tokenizer APPLICATION: run the corpus through the merge table
    :func:`bpe_train_merges` just learned and report, per source, the
    compression the tokenizer achieves — whitespace tokens vs BPE
    symbols vs characters.  This is the train→apply round trip of a
    real tokenizer pipeline (the statistic data teams watch when
    sizing a vocab).

    The merge table is K rows — it collects to the driver and applies
    as K literal chained ``replace`` expressions over the same
    delimiter-framed encoding the trainer used (tokens joined with a
    space OUTSIDE the frames, so merges can never span a token
    boundary).  Everything per-document is whole-stage-codegen string
    work; the only aggregation is the final per-source rollup.  The
    oracle re-learns the merges with the trainer's own CTE chain and
    applies them identically.
    """
    docs = t["documents"]
    n_bpe = _bpe_symbol_count(t)
    per_doc = fan_out(docs).select(
        F.col("source"),
        F.size(words(F.col("text"))).cast("long").alias("ws"),
        n_bpe.cast("long").alias("bpe"),
        F.length(F.array_join(words(F.col("text")), "")).cast("long").alias("chars"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws").alias("n_ws_tokens"),
        F.sum("bpe").alias("n_bpe_tokens"),
        F.sum("chars").alias("n_chars"),
        F.round(F.sum("chars") / F.sum("bpe"), 4).alias("chars_per_bpe_token"),
    )


def _bpe_apply_sql_parts() -> tuple[str, str]:
    """(trainer WITH-chain, encoded-string expression) — shared by
    every oracle that applies the learned merge table (``bpe_encode``'s
    per-source compression and ``tokenizer_fertility``'s per-language
    equity rollup must encode identically or their counts drift).

    Keeps the trainer's full WITH chain (vocab/syms/best blocks), drops
    its final UNION-of-best_r SELECT tail; merges then apply as K
    nested replaces whose patterns are 1-row scalar subqueries on the
    best_r CTEs.
    """
    train = _bpe_train_oracle()
    with_block = train[: train.index("\nSELECT 1 AS round")]
    apply_expr = (
        "list_aggregate(list_transform(list_filter(string_split(lower(text),"
        " ' '), x -> x != ''), tok -> list_aggregate(list_transform("
        "string_split(tok, ''), ch -> chr(30) || ch || chr(31)), "
        "'string_agg', '')), 'string_agg', ' ')"
    )
    for r in range(1, BPE_MERGE_ROUNDS + 1):
        apply_expr = (
            f"replace({apply_expr}, "
            f"(SELECT chr(30) || a || chr(31) || chr(30) || b || chr(31) "
            f"FROM best_{r}), "
            f"(SELECT chr(30) || a || b || chr(31) FROM best_{r}))"
        )
    return with_block, apply_expr


def _bpe_encode_oracle() -> str:
    """Training CTE chain + literal application over the same framing."""
    with_block, apply_expr = _bpe_apply_sql_parts()
    return f"""{with_block}
, encoded AS (
    SELECT source,
           len(list_filter(string_split(lower(text), ' '), x -> x != ''))
               AS ws,
           length({apply_expr})
               - length(replace({apply_expr}, chr(30), '')) AS bpe,
           length(list_aggregate(list_filter(string_split(lower(text), ' '),
                  x -> x != ''), 'string_agg', '')) AS chars
    FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ws) AS BIGINT) AS n_ws_tokens,
       CAST(sum(bpe) AS BIGINT) AS n_bpe_tokens,
       CAST(sum(chars) AS BIGINT) AS n_chars,
       round(CAST(sum(chars) AS DOUBLE) / sum(bpe), 4) AS chars_per_bpe_token
FROM encoded
GROUP BY 1
"""


BPE_ENCODE_ORACLE = _bpe_encode_oracle()


# --------------------------------------------------------------------------
# Corpus n-gram frequency table (the raw statistic behind LM data work:
# contamination audits, memorization probes, gram-level mixture weights)
# --------------------------------------------------------------------------

NGRAM_N = 3
NGRAM_TOP = 25


def ngram_counts(t: dict[str, DataFrame]) -> DataFrame:
    """Top corpus word-trigrams with occurrence and document counts.

    Scale shape: trigrams are built MAP-SIDE per document
    (:func:`word_ngrams` — transform over an index sequence, no
    per-gram rows until the explode), then collapsed to per-doc gram
    counts whose partial aggregation absorbs within-doc repetition
    before the gram-keyed exchange. The corpus rollup aggregates those
    (gram, doc) rows — ``sum`` for occurrences, ``count`` for document
    frequency — with no DISTINCT expand; hot grams ("the quick brown")
    collapse map-side in both stages. Top-N is a distributed
    TakeOrderedAndProject, never a global sort.

    ``explode_outer`` + null filter keeps the tokenize lambda above the
    fan_out exchange (see ``decontaminate``'s inferred-filter trap).
    """
    docs = t["documents"]
    grams = (
        fan_out(docs)
        .select(
            "doc_id",
            F.explode_outer(word_ngrams(words(F.col("text")), NGRAM_N)).alias("gram"),
        )
        .filter(F.col("gram").isNotNull())
    )
    per_doc = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("n"))
    corpus = per_doc.groupBy("gram").agg(
        F.sum("n").alias("occurrences"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return (
        corpus.orderBy(F.col("occurrences").desc(), F.col("gram"))
        .limit(NGRAM_TOP)
        .select("gram", F.col("occurrences").cast("long").alias("occurrences"), "n_docs")
    )


NGRAM_COUNTS_ORACLE = f"""
WITH w AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), x -> x != '') AS w
    FROM documents
),
g AS (
    SELECT doc_id,
           array_to_string(w[i : i + {NGRAM_N - 1}], ' ') AS gram
    FROM (
        SELECT doc_id, w, unnest(generate_series(1, len(w) - {NGRAM_N - 1})) AS i
        FROM w
        WHERE len(w) >= {NGRAM_N}
    )
),
per_doc AS (
    SELECT doc_id, gram, count(*) AS n FROM g GROUP BY 1, 2
),
corpus AS (
    SELECT gram, CAST(sum(n) AS BIGINT) AS occurrences,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM per_doc GROUP BY 1
)
SELECT gram, occurrences, n_docs
FROM corpus
ORDER BY occurrences DESC, gram
LIMIT {NGRAM_TOP}
"""


# --------------------------------------------------------------------------
# Deterministic per-group uniform sample (the "N docs per language for
# eval/inspection" pull — reservoir-equivalent, rerun-stable)
# --------------------------------------------------------------------------

SAMPLE_PER_GROUP_K = 20


def sample_per_group(t: dict[str, DataFrame]) -> DataFrame:
    """Keep ``SAMPLE_PER_GROUP_K`` documents per language, chosen by
    md5(doc_id) order — a uniform draw that is deterministic across
    reruns and engines (no RNG state to coordinate).

    Scale shape: the ``row_number <= k`` filter triggers Spark's
    ``WindowGroupLimit`` pushdown — every map task pre-prunes to its
    local top-k per language BEFORE the exchange, so the shuffle
    carries ≤ k rows per (task, lang), not the corpus. That makes the
    lang-hot window partition safe at 100 TB (without the pushdown a
    per-language window would funnel every doc of a language through
    one task — the trap ``tfidf_top_terms`` documents). Gated in
    tests/test_plans.py.
    """
    from pyspark.sql import Window

    docs = t["documents"].select(
        "doc_id", "lang", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        docs.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= SAMPLE_PER_GROUP_K)
        .select("lang", F.col("sample_rank").cast("long").alias("sample_rank"), "doc_id")
    )


SAMPLE_PER_GROUP_ORACLE = f"""
SELECT lang, CAST(sample_rank AS BIGINT) AS sample_rank, doc_id
FROM (
    SELECT lang, doc_id, row_number() OVER (
        PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
    ) AS sample_rank
    FROM documents
)
WHERE sample_rank <= {SAMPLE_PER_GROUP_K}
"""


# --- PII / compliance scrub -------------------------------------------------

# One alternation, applied in a single regexp pass: emails, long digit
# runs (phone/account-shaped), and an explicit denylisted term standing
# in for a dictionary-based entity list.  The testdata's synthetic text
# contains no real PII, so the denylist term is chosen to actually occur
# — the plumbing (count + replace + content hash) is what's under test.
PII_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}|\d{7,}|\bcustomer\b"
PII_TOKEN = "[REDACTED]"


def pii_scrub(t: dict[str, DataFrame]) -> DataFrame:
    """Redact PII-shaped spans from every document; emit the redaction
    count and an md5 of the scrubbed text (content-hash parity proves
    the replacement itself, not just the count, matches the oracle).

    Pure per-row expressions — zero shuffle, whole-stage codegen, and
    at 100 TB it runs at scan speed.  The pattern compiles once per
    task (Spark caches the regex per expression instance), not per row.
    """
    doc = t["documents"]
    clean = F.regexp_replace("text", PII_PATTERN, PII_TOKEN)
    return doc.select(
        "doc_id",
        F.regexp_count("text", F.lit(PII_PATTERN)).cast("long").alias("n_redactions"),
        F.length(clean).cast("long").alias("clean_len"),
        F.md5(clean).alias("clean_md5"),
    )


PII_SCRUB_ORACLE = rf"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{PII_PATTERN}')) AS BIGINT)
           AS n_redactions,
       CAST(length(regexp_replace(text, '{PII_PATTERN}', '{PII_TOKEN}', 'g'))
           AS BIGINT) AS clean_len,
       md5(regexp_replace(text, '{PII_PATTERN}', '{PII_TOKEN}', 'g')) AS clean_md5
FROM documents
"""


# --- corpus duplication audit ----------------------------------------------


def duplicate_rate_by_source(t: dict[str, DataFrame]) -> DataFrame:
    """Per-source duplication audit: docs, distinct texts (by md5), and
    the duplicate rate — the first report a curation pass produces.

    Texts are hashed BEFORE the exchange, so only 16-byte digests
    shuffle (same discipline as span_dedup); ``count_distinct`` then
    partial-aggregates per source.  At 100 TB the shuffled bytes are
    |docs|·16, independent of document length.
    """
    doc = t["documents"].select("source", F.md5("text").alias("h"))
    return doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct("h").cast("long").alias("n_unique"),
        F.round(
            F.lit(1.0) - F.count_distinct("h") / F.count(F.lit(1)), 4
        ).alias("dup_rate"),
    )


DUPLICATE_RATE_BY_SOURCE_ORACLE = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
       round(1.0 - count(DISTINCT md5(text)) / count(*), 4) AS dup_rate
FROM documents
GROUP BY 1
"""


# --- deterministic k-fold assignment ----------------------------------------

KFOLD_K = 5
KFOLD_MULT = 2654435761  # Knuth multiplicative hash constant (2^32 / phi)


def stratified_kfold(t: dict[str, DataFrame]) -> DataFrame:
    """Assign every document a deterministic cross-validation fold via a
    multiplicative hash of its id, and report the fold × language grid
    (the stratification audit: folds should be balanced within strata).

    Hash-based assignment is the only split that survives distribution:
    it needs no global sort, no state, and re-runs identically on any
    partitioning of the input — row_number()-style assignment would
    need a total order.  Engine-portable arithmetic (multiply-mod), not
    an engine hash builtin, so ANY system recomputes the same folds.
    """
    doc = t["documents"].select("doc_id", "lang", "n_chars")
    # Reduce mod 2^32 BEFORE multiplying: (id % 2^32) * MULT < 2^64 stays
    # exact in DOUBLE-free integer math on both engines, whereas
    # id * MULT overflows int64 for id > ~3.5e9 (Spark wraps silently,
    # DuckDB promotes to HUGEINT — silent parity divergence).
    reduced = F.col("doc_id") % F.lit(2**32)
    # (a*b) % m with a,b < 2^32: split a into hi/lo 16-bit halves so every
    # intermediate stays below 2^63.
    a_hi = (reduced / F.lit(65536)).cast("long")
    a_lo = reduced % F.lit(65536)
    m = F.lit(2**32)
    fold = (
        ((a_hi * F.lit(KFOLD_MULT) % m) * F.lit(65536) % m
         + a_lo * F.lit(KFOLD_MULT) % m) % m % F.lit(KFOLD_K)
    )
    return (
        doc.withColumn("fold", fold.cast("long"))
        .groupBy("fold", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


STRATIFIED_KFOLD_ORACLE = f"""
-- Same hi/lo 16-bit split as the Spark side: every intermediate stays
-- below 2^63, so BIGINT never overflows (DuckDB raises on overflow;
-- Spark would wrap silently — either way parity would break).
SELECT CAST((((doc_id % {2**32}) // 65536 * {KFOLD_MULT} % {2**32}) * 65536 % {2**32}
             + (doc_id % {2**32}) % 65536 * {KFOLD_MULT} % {2**32})
            % {2**32} % {KFOLD_K} AS BIGINT) AS fold,
       lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(n_chars), 2) AS avg_chars
FROM documents
GROUP BY 1, 2
"""


# --- broadcast-vocabulary tokenization --------------------------------------

TOKENIZE_VOCAB = 256  # id 1..V by corpus frequency; 0 = OOV
TOKENIZE_SEQ = 32  # encode the first N whitespace tokens per doc


def tokenize_to_ids(t: dict[str, DataFrame]) -> DataFrame:
    """Encode every document's leading tokens as vocabulary ids — the
    tokenizer-application step of a training-data pipeline, with the
    vocabulary built from the corpus itself (top-N tokens by frequency,
    ties broken lexically; OOV → 0).

    Scale shape: vocabulary selection is a partial-combining token
    count followed by ``TakeOrderedAndProject`` (top-V never sorts the
    full vocabulary globally) and a ``row_number`` over the V-row
    result — bounded state everywhere.  Encoding is a BROADCAST left
    join (the vocab is ≤V rows at any corpus size — the asset you ship
    to every executor, exactly how a real tokenizer's merges table
    travels), and the only corpus-wide exchange re-assembles per-doc id
    sequences, shuffling ints, never text.
    """
    from pyspark.sql import Window

    doc = t["documents"].select("doc_id", "text")
    counts = (
        doc.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = counts.orderBy(F.col("c").desc(), F.col("tok")).limit(TOKENIZE_VOCAB)
    vocab = top.withColumn(
        "id", F.row_number().over(Window.orderBy(F.col("c").desc(), F.col("tok")))
    ).select("tok", "id")
    toks = doc.select(
        "doc_id",
        F.posexplode(F.slice(F.split("text", " "), 1, TOKENIZE_SEQ)).alias(
            "pos", "tok"
        ),
    )
    enc = toks.join(F.broadcast(vocab), "tok", "left").select(
        "doc_id", "pos", F.coalesce("id", F.lit(0)).alias("id")
    )
    return enc.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "id"))),
                lambda x: x["id"].cast("string"),
            ),
            ",",
        ).alias("ids")
    )


TOKENIZE_TO_IDS_ORACLE = f"""
WITH arrs AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
counts AS (
    SELECT unnest(arr) AS tok FROM arrs
),
freq AS (SELECT tok, count(*) AS c FROM counts GROUP BY 1),
vocab AS (
    SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS id
    FROM freq ORDER BY c DESC, tok LIMIT {TOKENIZE_VOCAB}
),
toks AS (
    SELECT a.doc_id, a.arr[CAST(r.i AS INT)] AS tok, r.i AS pos
    FROM arrs a, range(1, {TOKENIZE_SEQ + 1}) r(i)
    WHERE r.i <= len(a.arr)
),
enc AS (
    SELECT tk.doc_id, tk.pos, COALESCE(v.id, 0) AS id
    FROM toks tk LEFT JOIN vocab v ON tk.tok = v.tok
)
SELECT doc_id,
       string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos) AS ids
FROM enc GROUP BY 1
"""


# --- winnowing fingerprints -------------------------------------------------

WINNOW_K = 4  # words per k-gram
WINNOW_W = 5  # winnowing window (consecutive gram hashes)


def winnow_fingerprints(t: dict[str, DataFrame]) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every word k-gram, slide a w-hash window,
    keep each window's minimum — a position-robust fingerprint set with
    guaranteed match detection for overlaps ≥ w+k-1 words.  Output is
    per-doc fingerprint count + an md5 over the sorted fingerprint set
    (set-content parity, not just cardinality).

    Scale shape: gram construction and hashing are map-side array
    expressions over the document scan; only ``(doc_id, pos, hash)``
    triples — never gram text — reach the one doc-keyed exchange for
    the window pass, and the window state is w hashes.  Docs shorter
    than w grams winnow to their global minimum (the trailing frame at
    the last position), so every doc with ≥k words fingerprints.
    """
    doc = t["documents"].select("doc_id", "text")
    arr = F.split(F.col("text"), " ")
    n_grams = F.size(arr) - WINNOW_K + 1
    grams = doc.select(
        "doc_id",
        F.posexplode(
            F.when(
                n_grams > 0,
                F.transform(
                    F.sequence(F.lit(0), n_grams - 1),
                    lambda i: F.array_join(F.slice(arr, i + 1, WINNOW_K), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gpos", "gram"),
    )
    hashed = grams.select(
        "doc_id",
        "gpos",
        F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long").alias("h"),
    )
    from pyspark.sql import Window

    w_min = (
        Window.partitionBy("doc_id")
        .orderBy("gpos")
        .rowsBetween(-(WINNOW_W - 1), Window.currentRow)
    )
    w_doc = Window.partitionBy("doc_id")
    selected = (
        hashed.select(
            "doc_id",
            "gpos",
            F.min("h").over(w_min).alias("fp"),
            F.count(F.lit(1)).over(w_doc).alias("ng"),
        )
        .filter(F.col("gpos") >= F.least(F.lit(WINNOW_W - 1), F.col("ng") - 1))
        .select("doc_id", "fp")
        .distinct()
    )
    return selected.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fp"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("fp")),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
        ).alias("fp_md5"),
    )


WINNOW_FINGERPRINTS_ORACLE = f"""
WITH arrs AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
grams AS (
    -- DuckDB range() cannot take lateral column bounds: iterate a
    -- constant upper bound and filter (8192 words >> any testdata doc)
    SELECT a.doc_id, r.i AS gpos,
           array_to_string(
               a.arr[CAST(r.i + 1 AS INT):CAST(r.i + {WINNOW_K} AS INT)], ' '
           ) AS gram
    FROM arrs a, range(0, 8192) r(i)
    WHERE r.i <= len(a.arr) - {WINNOW_K}
),
hashed AS (
    SELECT doc_id, gpos,
           CAST('0x' || substr(md5(gram), 1, 8) AS BIGINT) AS h
    FROM grams
),
winmin AS (
    SELECT doc_id, gpos,
           min(h) OVER (PARTITION BY doc_id ORDER BY gpos
                        ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW)
               AS fp,
           count(*) OVER (PARTITION BY doc_id) AS ng
    FROM hashed
),
selected AS (
    SELECT DISTINCT doc_id, fp
    FROM winmin
    WHERE gpos >= least({WINNOW_W - 1}, ng - 1)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_fp,
       md5(string_agg(CAST(fp AS VARCHAR), ',' ORDER BY fp)) AS fp_md5
FROM selected GROUP BY 1
"""


# --- deterministic weighted sampling ----------------------------------------

WSAMPLE_K = 50


def weighted_sample(t: dict[str, DataFrame]) -> DataFrame:
    """Weighted sampling without replacement via the A-Res scheme
    (Efraimidis & Spirakis 2006): each doc draws a deterministic
    uniform u from its id hash and competes with key ln(u)/w — the
    top-k keys are a weighted sample, here weighted by document length
    (the upsample-long-documents mixture policy, made reproducible).

    Scale shape: the key is a pure row expression over the metadata
    columns (text never read — the scan prunes to doc_id/n_chars/lang),
    and top-k is ``TakeOrderedAndProject``.  Keys are compared at
    round-6 with the id as tiebreak so 1-ulp ``ln`` differences between
    engines cannot reorder the frontier.
    """
    doc = t["documents"].select("doc_id", "lang", "n_chars")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + 1.0
    ) / F.lit(float(2**32 + 1))
    key = F.round(F.log(u) / F.col("n_chars"), 6)
    return (
        doc.select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"),
                   key.alias("sample_key"))
        .orderBy(F.col("sample_key").desc(), F.col("doc_id"))
        .limit(WSAMPLE_K)
    )


WEIGHTED_SAMPLE_ORACLE = f"""
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
       round(ln((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                      AS BIGINT) + 1.0) / {float(2**32 + 1)}) / n_chars, 6)
           AS sample_key
FROM documents
ORDER BY sample_key DESC, doc_id
LIMIT {WSAMPLE_K}
"""


# --- bigram language-model scoring ------------------------------------------

BIGRAM_K = 0.5  # add-k smoothing


def bigram_logprob(t: dict[str, DataFrame]) -> DataFrame:
    """Per-document average bigram log-probability under the corpus'
    own add-k-smoothed bigram LM — the sequence-aware upgrade of
    :func:`unigram_logprob` (a unigram model cannot see scrambled
    word order; a bigram model penalizes it).

    P(b|a) = (c(a,b) + k) / (c(a) + k·V) with c(a) summed from the
    bigram table (so probabilities condition on prefix occurrences and
    sum to 1), V = |distinct continuations|.

    Scale shape mirrors the unigram form: bigram construction is a
    map-side array expression (no token-stream shuffle), per-doc counts
    ``localCheckpoint`` so the corpus count and scoring passes share
    them, count joins are TERM-KEYED (a 100 TB corpus vocabulary does
    not broadcast; only the 1-row V does), and contributions
    ``tf·ln P`` sum as DECIMAL(28,10) — exact, order-independent, and
    wide enough to absorb 1-ulp ``ln`` differences between engines.
    """
    docs = t["documents"]
    bgs = (
        fan_out(docs)
        .select(
            "doc_id",
            F.explode_outer(word_ngrams(words(F.col("text")), 2)).alias("bg"),
        )
        .filter(F.col("bg").isNotNull())
    )
    tfb = (
        bgs.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("tfb"))
        .localCheckpoint()
    )
    cb = tfb.groupBy("bg").agg(F.sum("tfb").alias("cab")).select(
        "bg",
        "cab",
        F.split("bg", " ").getItem(0).alias("prev"),
        F.split("bg", " ").getItem(1).alias("cur"),
    )
    ca = cb.groupBy("prev").agg(F.sum("cab").alias("ca"))
    v = cb.select("cur").distinct().agg(F.count(F.lit(1)).alias("v"))
    p = (F.col("cab").cast("double") + F.lit(BIGRAM_K)) / (
        F.col("ca").cast("double") + F.lit(BIGRAM_K) * F.col("v")
    )
    contrib = (F.col("tfb") * F.log(p)).cast("decimal(28,10)")
    per_doc = (
        tfb.join(cb, "bg")
        .join(ca, "prev")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.sum(contrib).cast("double").alias("lp_sum"),
            F.sum("tfb").alias("n_bigrams"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round(F.col("lp_sum") / F.col("n_bigrams"), 4).alias("avg_logprob"),
    )


BIGRAM_LOGPROB_ORACLE = f"""
WITH base AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), x -> x != '') AS w
    FROM documents
),
bgs AS (
    SELECT doc_id, unnest(
        CASE WHEN len(w) >= 2 THEN list_transform(
            generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i + 1])
        ELSE [] END
    ) AS bg
    FROM base
),
tfb AS (SELECT doc_id, bg, count(*) AS tfb FROM bgs GROUP BY 1, 2),
cb AS (
    SELECT bg, sum(tfb) AS cab,
           string_split(bg, ' ')[1] AS prev,
           string_split(bg, ' ')[2] AS cur
    FROM tfb GROUP BY 1
),
ca AS (SELECT prev, sum(cab) AS ca FROM cb GROUP BY 1),
v AS (SELECT count(DISTINCT cur) AS v FROM cb),
per_doc AS (
    SELECT tfb.doc_id,
           sum(CAST(tfb.tfb * ln((CAST(cb.cab AS DOUBLE) + {BIGRAM_K})
                    / (CAST(ca.ca AS DOUBLE) + {BIGRAM_K} * v.v))
                    AS DECIMAL(28,10))) AS lp_sum,
           sum(tfb.tfb) AS n_bigrams
    FROM tfb
    JOIN cb USING (bg)
    JOIN ca USING (prev)
    CROSS JOIN v
    GROUP BY 1
)
SELECT doc_id,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       round(CAST(lp_sum AS DOUBLE) / n_bigrams, 4) AS avg_logprob
FROM per_doc
"""


def corpus_token_entropy(t: dict[str, DataFrame]) -> DataFrame:
    """Corpus-level unigram entropy — the one-number diversity audit
    (a collapsing or boilerplate-heavy corpus shows up as entropy far
    below ln(V)).  Reports Shannon entropy in nats, vocabulary size,
    token count, and the normalized ratio H/ln(V).

    One tokenize pass → term counts (hot terms partial-combine
    map-side) → a ≤|vocab|-row reduction whose ``c·ln(c/T)``
    contributions sum as exact DECIMAL(28,10) — the same cross-engine
    determinism discipline as the LM scorers.
    """
    toks = (
        fan_out(t["documents"])
        .select(F.explode_outer(words(F.col("text"))).alias("term"))
        .filter(F.col("term").isNotNull())
    )
    # The vocab table feeds both the totals and the entropy reduction:
    # checkpoint it so the corpus is tokenized/scanned once (same
    # discipline as unigram_logprob's tf table).
    ct = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = ct.agg(F.sum("c").alias("tot"), F.count(F.lit(1)).alias("v"))
    contrib = (
        F.col("c") * F.log(F.col("c").cast("double") / F.col("tot").cast("double"))
    ).cast("decimal(28,10)")
    agg = ct.crossJoin(F.broadcast(tot)).agg(
        F.sum(contrib).cast("double").alias("s"),
        F.first("tot").alias("n_tokens"),
        F.first("v").alias("vocab_size"),
    )
    h = -F.col("s") / F.col("n_tokens")
    return agg.select(
        F.col("vocab_size").cast("long").alias("vocab_size"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(h, 4).alias("entropy_nats"),
        F.round(h / F.log(F.col("vocab_size").cast("double")), 4).alias(
            "entropy_ratio"
        ),
    )


CORPUS_TOKEN_ENTROPY_ORACLE = """
WITH toks AS (
    SELECT unnest(list_filter(string_split(lower(text), ' '),
                              x -> x != '')) AS term
    FROM documents
),
ct AS (SELECT term, count(*) AS c FROM toks GROUP BY 1),
tot AS (SELECT sum(c) AS tot, count(*) AS v FROM ct),
agg AS (
    SELECT CAST(sum(CAST(c * ln(CAST(c AS DOUBLE) / CAST(tot.tot AS DOUBLE))
                         AS DECIMAL(28,10))) AS DOUBLE) AS s,
           any_value(tot.tot) AS n_tokens,
           any_value(tot.v) AS vocab_size
    FROM ct CROSS JOIN tot
)
SELECT CAST(vocab_size AS BIGINT) AS vocab_size,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(-s / n_tokens, 4) AS entropy_nats,
       round((-s / n_tokens) / ln(CAST(vocab_size AS DOUBLE)), 4)
           AS entropy_ratio
FROM agg
"""


# --- hashing-trick bag-of-words features ------------------------------------

FEATURE_HASH_DIM = 128  # feature buckets
FEATURE_HASH_TOP = 40  # report the heaviest buckets


def feature_hashing(t: dict[str, DataFrame]) -> DataFrame:
    """Hashing-trick bag-of-words: every token maps to one of
    ``FEATURE_HASH_DIM`` buckets via the portable md5 hash family, and
    the corpus-level bucket weights (doc frequency + total count) are
    reported for the heaviest buckets — the fixed-width featurizer that
    needs NO vocabulary shuffle, no fitting pass and no driver state,
    which is why it is the default at 100 TB (Weinberger et al., ICML
    2009, "Feature Hashing for Large Scale Multitask Learning").

    Plan: explode tokens map-side → hash to a 128-bucket id (the
    *token string* never shuffles, only the bucket id) → one partial-
    combined aggregate.  The exchange carries ≤128 rows per task.
    """
    tok = fan_out(t["documents"]).select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit("")
            )
        ).alias("term"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast("long")
        % FEATURE_HASH_DIM
    )
    return (
        tok.select("doc_id", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("total_count"),
            F.count_distinct("doc_id").cast("long").alias("doc_freq"),
        )
        .orderBy(F.col("total_count").desc(), "bucket")
        .limit(FEATURE_HASH_TOP)
    )


FEATURE_HASHING_ORACLE = f"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(string_split(lower(text), ' '), x -> x != ''))
               AS term
    FROM documents
),
hashed AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT)
               % {FEATURE_HASH_DIM} AS bucket
    FROM toks
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS total_count,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
FROM hashed
GROUP BY 1
ORDER BY total_count DESC, bucket
LIMIT {FEATURE_HASH_TOP}
"""


# ---------------------------------------------------------------------------
# Zipf fit: vocabulary power-law audit
# ---------------------------------------------------------------------------


def zipf_fit(t: dict[str, DataFrame]) -> DataFrame:
    """Zipf power-law fit of the corpus vocabulary — OLS of ln(count)
    on ln(rank): natural text sits near exponent 1 (Zipf 1949); a
    collapsing exponent flags boilerplate/duplication (mass
    concentrating in few types) and an inflated one flags noise (too
    many singletons) — the distributional health audit read next to
    ``corpus_token_entropy`` before training on a crawl.

    One tokenize pass → term counts; ranking is a row_number over the
    VOCAB-sized count table (the documented tokenize_to_ids shape —
    vocabulary-sized, never corpus-sized); the fit itself is the
    built-in regression AGGREGATES over (ln r, ln c) — moment sums
    that partial-combine map-side, same discipline as
    ``value_trend_regression``, with the deterministic (count desc,
    term) tie order shared with the oracle.
    """
    toks = (
        fan_out(t["documents"])
        .select(F.explode_outer(words(F.col("text"))).alias("term"))
        .filter(F.col("term").isNotNull())
    )
    ct = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    return _zipf_from_counts(ct)


def _zipf_from_counts(ct: DataFrame) -> DataFrame:
    """The fit half of :func:`zipf_fit`, from a (term, c) count rollup
    — shared with the streaming face
    (``streaming.embindex.stream_zipf_fit``) so the two faces can
    never diverge on the fit."""
    from pyspark.sql import Window

    w = Window.orderBy(F.col("c").desc(), "term")
    ranked = ct.withColumn("r", F.row_number().over(w)).select(
        F.log(F.col("c").cast("double")).alias("ln_c"),
        F.log(F.col("r").cast("double")).alias("ln_r"),
        "c",
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.round(-F.expr("regr_slope(ln_c, ln_r)"), 4).alias("zipf_exponent"),
        F.round(F.expr("regr_intercept(ln_c, ln_r)"), 4).alias("ln_c0"),
        F.round(F.expr("regr_r2(ln_c, ln_r)"), 6).alias("r2"),
    )


ZIPF_FIT_ORACLE = """
WITH toks AS (
    SELECT unnest(list_filter(string_split(lower(text), ' '),
                              x -> x != '')) AS term
    FROM documents
),
ct AS (SELECT term, count(*) AS c FROM toks GROUP BY 1),
ranked AS (
    SELECT ln(CAST(c AS DOUBLE)) AS ln_c,
           ln(CAST(row_number() OVER (ORDER BY c DESC, term) AS DOUBLE))
               AS ln_r,
           c
    FROM ct
)
SELECT CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       round(-regr_slope(ln_c, ln_r), 4) AS zipf_exponent,
       round(regr_intercept(ln_c, ln_r), 4) AS ln_c0,
       round(regr_r2(ln_c, ln_r), 6) AS r2
FROM ranked
"""


# Composed at module END (not beside _curation_oracle): the composition
# imports dedup → similarity → back into this module, so it must run
# only after every name the cycle reads (BM25_*) already exists —
# otherwise importing text_analysis FIRST raises a circular
# ImportError that the driver's import order happened to hide.
CORPUS_CURATION_ORACLE = _curation_oracle()


# ---------------------------------------------------------------------------
# Readability scoring
# ---------------------------------------------------------------------------


def readability_score(t: dict[str, DataFrame]) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per document — the
    classic curation signal for age/complexity-stratified training
    mixes (used alongside the quality filters: e.g. filtering web text
    to a readability band before mixing).  Deterministic, engine-
    portable proxies for the linguistic counts: sentences = runs of
    ``[.!?]`` (at least 1); syllables per word = vowel-letter runs of
    ``[aeiouy]`` (at least 1 per word) — the standard heuristic, and
    the SAME regex semantics on both engines so counts are integers
    that match exactly.

    Flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
    FK grade = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59

    Scale shape: one scan, all per-row array expressions inside
    whole-stage codegen (split/filter/transform/aggregate — no explode,
    no shuffle, no Python); output one narrow row per document.
    """
    toks = words(F.col("text"))
    n_words = F.size(toks)
    # sentence RUNS: split on terminator runs yields (runs + 1) pieces
    n_sent = F.greatest(
        F.size(F.split(F.col("text"), "[.!?]+")) - 1, F.lit(1)
    )
    syl = F.aggregate(
        F.transform(
            toks,
            lambda w: F.greatest(
                F.size(
                    F.filter(
                        F.split(w, "[^aeiouy]+"), lambda x: x != F.lit("")
                    )
                ),
                F.lit(1),
            ),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    wps = n_words / n_sent
    spw = F.when(n_words > 0, syl / n_words).otherwise(F.lit(0.0))
    flesch = F.when(
        n_words > 0,
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 4
        ),
    ).otherwise(F.lit(0.0))
    fk = F.when(
        n_words > 0,
        F.round(F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 4),
    ).otherwise(F.lit(0.0))
    return fan_out(t["documents"]).select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        syl.cast("long").alias("n_syllables"),
        flesch.alias("flesch"),
        fk.alias("fk_grade"),
    )


READABILITY_SCORE_ORACLE = """
WITH base AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), x -> x != '') AS w,
           greatest(len(regexp_split_to_array(text, '[.!?]+')) - 1, 1)
               AS n_sent
    FROM documents
),
cnt AS (
    SELECT doc_id,
           len(w) AS n_words,
           n_sent,
           COALESCE(list_aggregate(list_transform(w, x -> greatest(
               len(list_filter(regexp_split_to_array(x, '[^aeiouy]+'),
                               y -> y != '')), 1)), 'sum'), 0) AS syl
    FROM base
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sent AS BIGINT) AS n_sentences,
       CAST(syl AS BIGINT) AS n_syllables,
       CASE WHEN n_words > 0
            THEN round(206.835 - 1.015 * (n_words / n_sent)
                       - 84.6 * (syl / n_words), 4)
            ELSE 0.0 END AS flesch,
       CASE WHEN n_words > 0
            THEN round(0.39 * (n_words / n_sent)
                       + 11.8 * (syl / n_words) - 15.59, 4)
            ELSE 0.0 END AS fk_grade
FROM cnt
"""


def langid_confusion(t: dict[str, DataFrame]) -> DataFrame:
    """Confusion rollup of the marker-token language identifier
    (:func:`lang_id`) against the corpus's recorded ``lang`` column —
    the eval table a pipeline owner reads before TRUSTING the
    classifier to route documents at 100 TB (per-language recall
    shares expose which languages the marker set confuses).  One row
    per (true, predicted) pair with its count and its share of the
    true language's documents.

    Scale shape: the classifier is one scan (array expressions); the
    rollup is a two-column groupBy of (lang, pred_lang) — partial
    map-side combine, |langs|² output rows at any corpus size.
    """
    from pyspark.sql import Window

    pred = lang_id(t).select("doc_id", "pred_lang")
    truth = t["documents"].select("doc_id", "lang")
    per_true = Window.partitionBy("lang")
    return (
        truth.join(pred, "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn(
            "share",
            F.round(F.col("n") / F.sum("n").over(per_true), 6),
        )
    )


LANGID_CONFUSION_ORACLE = f"""
WITH pred AS ({LANG_ID_ORACLE}),
joined AS (
    SELECT d.lang, p.pred_lang
    FROM documents d JOIN pred p ON d.doc_id = p.doc_id
),
cnt AS (
    SELECT lang, pred_lang, count(*) AS n FROM joined GROUP BY 1, 2
)
SELECT lang, pred_lang, CAST(n AS BIGINT) AS n,
       round(CAST(n AS DOUBLE)
             / sum(n) OVER (PARTITION BY lang), 6) AS share
FROM cnt
"""


def tokenizer_fertility(t: dict[str, DataFrame]) -> DataFrame:
    """Per-LANGUAGE tokenizer fertility of the trained BPE — BPE
    symbols per whitespace word, and each language's fertility relative
    to the corpus-wide rate.  The multilingual-equity table (see e.g.
    the NLLB and XLM-R tokenizer analyses; Rust et al. 2021,
    arXiv:2012.15613): a language whose fertility runs far above the
    corpus mean pays more sequence length per word under the shared
    vocabulary, so its effective context and its per-token training
    signal both shrink — the number a data team reads before accepting
    one tokenizer for a language mix.  ``bpe_encode`` reports the same
    application pass rolled up by SOURCE (compression view); this
    rolls up by ``lang`` and normalizes.

    Scale shape: :func:`_bpe_symbol_count`'s K driver-side merge
    literals applied as chained codegen ``replace`` over the
    delimiter-framed encoding, one scan, |langs|-row rollup, one
    corpus-total window over the |langs| rows.
    """
    docs = t["documents"]
    n_bpe = _bpe_symbol_count(t)
    per_doc = fan_out(docs).select(
        F.col("lang"),
        F.size(words(F.col("text"))).cast("long").alias("ws"),
        n_bpe.cast("long").alias("bpe"),
    )
    from pyspark.sql import Window

    per_lang = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws").alias("n_ws_tokens"),
        F.sum("bpe").alias("n_bpe_tokens"),
    )
    tot = Window.partitionBy()
    fertility = F.round(
        F.col("n_bpe_tokens") / F.col("n_ws_tokens"), 4
    )
    rel = F.round(
        (F.col("n_bpe_tokens").cast("double")
         * F.sum("n_ws_tokens").over(tot))
        / (F.col("n_ws_tokens") * F.sum("n_bpe_tokens").over(tot)),
        4,
    )
    return per_lang.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_ws_tokens").cast("long").alias("n_ws_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        fertility.alias("fertility"),
        rel.alias("rel_fertility"),
    )


def _tokenizer_fertility_oracle() -> str:
    with_block, apply_expr = _bpe_apply_sql_parts()
    return f"""{with_block}
, encoded AS (
    SELECT lang,
           len(list_filter(string_split(lower(text), ' '), x -> x != ''))
               AS ws,
           length({apply_expr})
               - length(replace({apply_expr}, chr(30), '')) AS bpe
    FROM documents
),
per_lang AS (
    SELECT lang,
           count(*) AS n_docs,
           sum(ws) AS sws,
           sum(bpe) AS sbpe
    FROM encoded GROUP BY 1
)
SELECT lang,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(sws AS BIGINT) AS n_ws_tokens,
       CAST(sbpe AS BIGINT) AS n_bpe_tokens,
       round(CAST(sbpe AS DOUBLE) / sws, 4) AS fertility,
       round((CAST(sbpe AS DOUBLE) * sum(sws) OVER ())
             / (sws * sum(sbpe) OVER ()), 4) AS rel_fertility
FROM per_lang
"""


TOKENIZER_FERTILITY_ORACLE = _tokenizer_fertility_oracle()


# --------------------------------------------------------------------------
# Top-k n-gram cumulative coverage curve (vocabulary-budget design table)
# --------------------------------------------------------------------------

NGRAM_COVERAGE_KS = (10, 100, 1000, 10000)


def ngram_coverage_curve(t: dict[str, DataFrame]) -> DataFrame:
    """Cumulative token-mass coverage of the top-k corpus trigrams at
    the configured k budgets — the vocabulary-truncation design table
    (the Zipf law :func:`zipf_fit` FITS, priced: how much of the
    corpus's gram mass does a k-entry vocabulary actually explain?).
    Read next to the BPE trainer: a coverage elbow at small k means a
    tiny merge table already compresses most of the corpus; a flat
    curve means the corpus is gram-diverse and the tokenizer budget
    must grow.  Same gram law as :func:`ngram_counts`.

    Scale shape (round 13, was the thinnest decade margin at 8.11×):
    ONE gram-keyed exchange total.  The total gram mass never touches
    the gram table — it is pure per-doc arithmetic (Σ max(|w|−N+1, 0)
    over the token-list scan), so the old second full aggregation
    branch is gone; and the corpus counts are a single
    ``groupBy(gram)`` — the old (doc_id, gram) pre-aggregation bought
    nothing because every instance of a (doc, gram) pair is already
    partition-local (docs never split), so Catalyst's map-side partial
    aggregation collapses them identically, and the two-level shape
    paid a second full-size exchange for it.  Map-side SINGLETON
    pruning (considered, rejected): a per-partition count-1 gram can
    recur in another partition, and even a top gram can carry count-1
    partition tails — any such prune under- counts exactly-ranked
    grams, so it cannot be hash-exact.  The curve needs only the top
    ``max(ks)`` grams — a distributed ``TakeOrderedAndProject``, never
    a global sort — so the ranking window runs over ≤ 10k rows
    regardless of corpus size.  Output is |ks| rows at any corpus
    size.
    """
    docs = t["documents"]
    toks = fan_out(docs).select(
        "doc_id", words(F.col("text")).alias("w")
    )
    # exact identity: the corpus-wide gram mass is Σ_doc max(|w|−N+1,0)
    # (size() is −1 on NULL, so the >= guard routes null/short docs to 0)
    total = toks.select(
        F.when(
            F.size("w") >= NGRAM_N, F.size("w") - (NGRAM_N - 1)
        )
        .otherwise(0)
        .alias("k")
    ).agg(F.sum("k").cast("long").alias("total_occurrences"))
    grams = toks.select(
        F.explode_outer(word_ngrams(F.col("w"), NGRAM_N)).alias("gram")
    ).filter(F.col("gram").isNotNull())
    corpus = grams.groupBy("gram").agg(
        F.count(F.lit(1)).alias("occurrences")
    )
    top = (
        corpus.orderBy(F.col("occurrences").desc(), "gram")
        .limit(max(NGRAM_COVERAGE_KS))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("occurrences").desc(), "gram")
            ),
        )
    )
    spark = docs.sparkSession
    ks = spark.createDataFrame(
        [(k,) for k in NGRAM_COVERAGE_KS], "top_k long"
    )
    return (
        top.crossJoin(F.broadcast(ks))
        .filter(F.col("rank") <= F.col("top_k"))
        .groupBy("top_k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams_used"),
            F.sum("occurrences").cast("long").alias("covered_occurrences"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "top_k",
            "n_grams_used",
            "covered_occurrences",
            "total_occurrences",
            F.round(
                F.col("covered_occurrences") / F.col("total_occurrences"), 6
            ).alias("coverage"),
        )
    )


NGRAM_COVERAGE_CURVE_ORACLE = f"""
WITH w AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), x -> x != '') AS w
    FROM documents
),
g AS (
    SELECT doc_id,
           array_to_string(w[i : i + {NGRAM_N - 1}], ' ') AS gram
    FROM (
        SELECT doc_id, w, unnest(generate_series(1, len(w) - {NGRAM_N - 1})) AS i
        FROM w
        WHERE len(w) >= {NGRAM_N}
    )
),
corpus AS (
    SELECT gram, sum(n) AS occurrences
    FROM (SELECT doc_id, gram, count(*) AS n FROM g GROUP BY 1, 2)
    GROUP BY 1
),
total AS (SELECT CAST(sum(occurrences) AS BIGINT) AS tot FROM corpus),
ranked AS (
    SELECT occurrences,
           row_number() OVER (ORDER BY occurrences DESC, gram) AS rank
    FROM corpus
),
ks(top_k) AS (VALUES {", ".join(f"({k})" for k in NGRAM_COVERAGE_KS)})
SELECT CAST(k.top_k AS BIGINT) AS top_k,
       CAST(count(*) AS BIGINT) AS n_grams_used,
       CAST(sum(r.occurrences) AS BIGINT) AS covered_occurrences,
       t.tot AS total_occurrences,
       round(sum(r.occurrences) / t.tot, 6) AS coverage
FROM ks k
JOIN ranked r ON r.rank <= k.top_k
CROSS JOIN total t
GROUP BY 1, t.tot
"""


# --------------------------------------------------------------------------
# Per-source document-length profile (exact order statistics)
# --------------------------------------------------------------------------


def doc_length_profile(t: dict[str, DataFrame]) -> DataFrame:
    """Per-source exact length percentiles (p10/p50/p90 of ``n_chars``)
    — the mixture-audit companion to :func:`text_stats`: corpus mixes
    go wrong per SOURCE (one crawl slice full of boilerplate stubs,
    one of concatenated books), and mean lengths hide exactly that.
    Percentiles are EXACT order statistics at integer rank positions
    (value at rank ``ceil(q·n)`` under the deterministic
    (n_chars, doc_id) order) — no interpolation, so the two engines
    cannot disagree on fractional-rank semantics.

    Scale shape: one ranking window per source partition plus one
    count aggregate — the sort is per-source and distributes across
    sources; output is |sources| rows.  (At 100 TB the same question
    is usually asked of ``table_profile_approx``'s sketch first; this
    is the exact gate.)
    """
    d = t["documents"].select("source", "doc_id", "n_chars")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    r = d.withColumn("rn", F.row_number().over(w))
    n = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    j = r.join(n, "source")

    def at(pos_expr) -> F.Column:
        return F.max(F.when(F.col("rn") == pos_expr, F.col("n_chars")))

    def cdiv(num: F.Column, den: int) -> F.Column:
        return ((num + F.lit(den - 1)) / F.lit(den)).cast("long")

    nn = F.col("n_docs")
    return (
        j.groupBy("source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            at(cdiv(nn * 1, 10)).cast("long").alias("p10_chars"),
            at(cdiv(nn * 5, 10)).cast("long").alias("p50_chars"),
            at(cdiv(nn * 9, 10)).cast("long").alias("p90_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
    )


DOC_LENGTH_PROFILE_ORACLE = """
WITH d AS (SELECT source, doc_id, n_chars FROM documents),
r AS (
    SELECT source, n_chars,
           row_number() OVER (
               PARTITION BY source ORDER BY n_chars, doc_id
           ) AS rn
    FROM d
),
n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY 1)
SELECT r.source, max(n.n_docs) AS n_docs,
       CAST(min(r.n_chars) AS BIGINT) AS min_chars,
       CAST(max(CASE WHEN r.rn = (n.n_docs * 1 + 9) // 10
                     THEN r.n_chars END) AS BIGINT) AS p10_chars,
       CAST(max(CASE WHEN r.rn = (n.n_docs * 5 + 9) // 10
                     THEN r.n_chars END) AS BIGINT) AS p50_chars,
       CAST(max(CASE WHEN r.rn = (n.n_docs * 9 + 9) // 10
                     THEN r.n_chars END) AS BIGINT) AS p90_chars,
       CAST(max(r.n_chars) AS BIGINT) AS max_chars
FROM r JOIN n ON r.source = n.source
GROUP BY 1
"""
