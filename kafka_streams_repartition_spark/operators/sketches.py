"""Frequency/membership/distinct sketching as pure relational algebra.

``hll_distinct_users`` is a HyperLogLog (Flajolet et al. 2007) built
entirely from portable column expressions — md5 as the hash, one hex
digit as the register index (b=4, m=16), the leading-zero rank from
``length(bin(...))`` — so the DuckDB oracle reproduces the registers
AND the estimate bit-for-bit. Spark ships a DataSketches-based
``hll_sketch_agg``, but its binary sketches cannot be replayed by
another engine; this formulation keeps the cross-engine correctness
gate that every other operator in this repo has, while demonstrating
the same scale story.

``cms_heavy_hitters`` (count-min sketch, Cormode & Muthukrishnan
2005) and ``bloom_semi_join`` (Bloom 1970 — the runtime-filter
pattern Spark itself injects for selective joins) complete the
classic sketch trio; all three share the portable md5 hash so the
DuckDB oracle rebuilds the identical registers/bitset.

Scale story (the reason sketches exist at 100 TB): the raw event
stream collapses map-side into at most ``m`` rows per group — the
groupBy(group, bucket).max partial-aggregates before the exchange, so
the shuffle carries registers, not users. An exact countDistinct
shuffles every distinct user id; the sketch shuffles ≤16 longs per
group no matter how many billions of users pass through. Registers
also merge associatively (max), which is what makes the sketch
streamable and re-aggregatable across partitions/days.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HLL_B = 4  # register-index bits (1 hex digit)
HLL_M = 16  # 2**HLL_B registers
HLL_ALPHA = 0.673  # alpha_16 from the HLL paper
_W_BITS = 60  # rank field: 15 hex digits, keeps the long positive


def _hll_parts(ev: DataFrame, *dims: str) -> DataFrame:
    """(dims..., bucket, v60): hash-derived register index + rank field."""
    h = F.md5(F.col("user_id").cast("string"))
    return ev.select(
        *dims,
        F.conv(F.substring(h, 1, 1), 16, 10).cast("long").alias("bucket"),
        F.conv(F.substring(h, 2, _W_BITS // 4), 16, 10).cast("long").alias("v60"),
    )


def _rho() -> F.Column:
    return F.when(F.col("v60") == 0, _W_BITS + 1).otherwise(
        _W_BITS + 1 - F.length(F.bin("v60"))
    )


def _hll_estimate(
    regs: DataFrame, *dims: str, extra: tuple = ()
) -> DataFrame:
    """(dims..., hll_estimate[, extra...]) from a (dims..., bucket, m_j)
    register table: exact-decimal harmonic sum + linear-counting
    correction.  ``extra`` is an optional tuple of (aggregate Column,
    name) pairs that ride the SAME per-dims aggregation and appear
    after ``hll_estimate`` in the output — so a caller whose sibling
    statistic derives from the same register frame (e.g.
    ``table_profile_approx``'s exact Σ n_vals) computes it in the one
    pass instead of re-scanning + joining the frame."""
    names = [n for _, n in extra]
    agg = regs.groupBy(*dims).agg(
        F.sum(
            F.expr(f"cast(pow(2.0, {_W_BITS + 1} - m_j) as decimal(24,0))")
        ).alias("s_present"),
        F.count(F.lit(1)).alias("n_regs"),
        *[e.alias(n) for e, n in extra],
    )
    est = agg.select(
        *dims,
        (
            F.col("s_present")
            + (HLL_M - F.col("n_regs"))
            * F.expr(f"cast(pow(2.0, {_W_BITS + 1}) as decimal(24,0))")
        )
        .cast("double")
        .alias("s"),
        (HLL_M - F.col("n_regs")).alias("v"),
        *names,
    )
    e_raw = (
        F.lit(HLL_ALPHA)
        * (HLL_M * HLL_M)
        * F.pow(F.lit(2.0), _W_BITS + 1)
        / F.col("s")
    )
    corrected = F.when(
        (e_raw <= 2.5 * HLL_M) & (F.col("v") > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / F.col("v")),
    ).otherwise(e_raw)
    return est.select(
        *dims, F.round(corrected, 4).alias("hll_estimate"), *names
    )


def hll_distinct_users(t: dict[str, DataFrame]) -> DataFrame:
    """Per-event-type distinct-user estimate: 16-register HLL with the
    small-range (linear counting) correction, next to the exact count
    so the oracle (and the reader) can see the sketch error.

    Duplicates need no pre-distinct: ``max(rho)`` is idempotent, so the
    register build is a single scan + one tiny keyed shuffle
    ((type, bucket) ≤ 16 rows per type, pre-combined map-side).
    """
    ev = t["events"]
    # Z = sum(2^-M_j) inside _hll_estimate is computed exactly: scaled
    # by 2^61 so every term is an integer (DECIMAL), making the sum
    # order-independent — a plain double sum would round differently
    # under Spark's shuffle order than under the oracle's sequential
    # scan.
    regs = _hll_parts(ev, "event_type").groupBy("event_type", "bucket").agg(
        F.max(_rho()).alias("m_j")
    )
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_exact"))
    return (
        _hll_estimate(regs, "event_type")
        .join(exact, "event_type")
        .select("event_type", "n_exact", "hll_estimate")
    )


def hll_union_daily(t: dict[str, DataFrame]) -> DataFrame:
    """The property that makes sketches a storage format, not just a
    query trick: registers merge associatively (``max``), so per-day
    sketches persisted once can answer any-range distinct questions
    without re-touching raw events. Here: build a register set per
    DAY, then merge all daily sketches into one global estimate and
    compare with the exact global distinct.

    Scale shape: raw events collapse to ≤16 registers per day
    map-side; the merge aggregates (days × 16) tiny rows — at 100 TB
    the second pass never sees an event, which is the entire point.
    """
    ev = t["events"]
    day = F.expr("unix_millis(ts) div 86400000").alias("day")
    daily = (
        _hll_parts(ev.select("user_id", day), "day")
        .groupBy("day", "bucket")
        .agg(F.max(_rho()).alias("m_j"))
    )
    merged = daily.groupBy("bucket").agg(F.max("m_j").alias("m_j"))
    n_days = daily.select("day").distinct().agg(
        F.count(F.lit(1)).alias("n_days")
    )
    exact = ev.agg(F.countDistinct("user_id").alias("n_exact"))
    return (
        _hll_estimate(merged)
        .crossJoin(F.broadcast(n_days))
        .crossJoin(F.broadcast(exact))
        .select("n_days", "n_exact", "hll_estimate")
    )


HLL_UNION_DAILY_ORACLE = f"""
WITH parts AS (
    SELECT epoch_ms(ts) // 86400000 AS day,
           CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                AS BIGINT) AS bucket,
           CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 2,
                                  {_W_BITS // 4}) AS BIGINT) AS v60
    FROM events
),
daily AS (
    SELECT day, bucket,
           max(CASE WHEN v60 = 0 THEN {_W_BITS + 1}
                    ELSE {_W_BITS + 1} - length(bin(v60)) END) AS m_j
    FROM parts GROUP BY 1, 2
),
merged AS (SELECT bucket, max(m_j) AS m_j FROM daily GROUP BY 1),
agg AS (
    SELECT sum(CAST(pow(2.0, {_W_BITS + 1} - m_j) AS DECIMAL(24,0)))
               AS s_present,
           count(*) AS n_regs
    FROM merged
),
est AS (
    SELECT CAST(s_present + ({HLL_M} - n_regs)
                * CAST(pow(2.0, {_W_BITS + 1}) AS DECIMAL(24,0))
                AS DOUBLE) AS s,
           {HLL_M} - n_regs AS v
    FROM agg
)
SELECT (SELECT CAST(count(DISTINCT day) AS BIGINT) FROM daily) AS n_days,
       (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events) AS n_exact,
       round(CASE WHEN {HLL_ALPHA} * {HLL_M * HLL_M} * pow(2.0, {_W_BITS + 1}) / s
                       <= {2.5 * HLL_M} AND v > 0
                  THEN {float(HLL_M)} * ln({float(HLL_M)} / v)
                  ELSE {HLL_ALPHA} * {HLL_M * HLL_M}
                       * pow(2.0, {_W_BITS + 1}) / s END, 4) AS hll_estimate
FROM est
"""


HLL_DISTINCT_USERS_ORACLE = f"""
WITH parts AS (
    SELECT event_type,
           CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                AS BIGINT) AS bucket,
           CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 2,
                                  {_W_BITS // 4}) AS BIGINT) AS v60
    FROM events
),
regs AS (
    SELECT event_type, bucket,
           max(CASE WHEN v60 = 0 THEN {_W_BITS + 1}
                    ELSE {_W_BITS + 1} - length(bin(v60)) END) AS m_j
    FROM parts GROUP BY 1, 2
),
agg AS (
    SELECT event_type,
           sum(CAST(pow(2.0, {_W_BITS + 1} - m_j) AS DECIMAL(24,0)))
               AS s_present,
           count(*) AS n_regs
    FROM regs GROUP BY 1
),
est AS (
    SELECT event_type,
           CAST(s_present + ({HLL_M} - n_regs)
                * CAST(pow(2.0, {_W_BITS + 1}) AS DECIMAL(24,0))
                AS DOUBLE) AS s,
           {HLL_M} - n_regs AS v
    FROM agg
),
ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
       FROM events GROUP BY 1)
SELECT e.event_type,
       CAST(ex.n_exact AS BIGINT) AS n_exact,
       round(CASE WHEN {HLL_ALPHA} * {HLL_M * HLL_M} * pow(2.0, {_W_BITS + 1}) / s
                       <= {2.5 * HLL_M} AND v > 0
                  THEN {float(HLL_M)} * ln({float(HLL_M)} / v)
                  ELSE {HLL_ALPHA} * {HLL_M * HLL_M}
                       * pow(2.0, {_W_BITS + 1}) / s END, 4) AS hll_estimate
FROM est e JOIN ex USING (event_type)
"""


# ---------------------------------------------------------------------------
# Count-min sketch: frequency estimation in D*W counters
# ---------------------------------------------------------------------------

CMS_D = 4  # hash rows
CMS_W = 32  # counters per row
CMS_TOP = 10  # point-query report size


def _md5_mod(col: F.Column, salt: str, mod: int) -> F.Column:
    """First 8 md5 hex digits of ``f"{salt}:{value}"`` as a long, mod
    ``mod`` — the repo's portable hash family (Spark ``conv`` ≡ DuckDB
    ``CAST('0x'||s AS BIGINT)``); the salt indexes the hash function."""
    h = F.md5(F.concat(F.lit(salt + ":"), col.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % mod


def cms_heavy_hitters(t: dict[str, DataFrame]) -> DataFrame:
    """Top-CMS_TOP users by event count, with the count-min estimate
    next to the exact count so the sketch's one-sided error
    (estimate >= exact, inflation = bucket collisions) is visible.

    Scale shape: the sketch build is ONE scan — each event expands
    map-side to CMS_D (row, bucket) pairs whose counts partial-combine
    before the exchange, so the shuffle carries at most D*W = 128
    counters regardless of input size, and the registers merge
    associatively (sum) across partitions/days exactly like the HLL
    registers above. Point queries join candidates against the
    broadcast 128-row register table; the final top-k is
    ``orderBy().limit()`` which Spark executes as the distributed
    two-phase TakeOrderedAndProject, not a single-partition sort.
    (The exact per-user count alongside is itself one keyed
    aggregation — it is the comparison baseline, not part of the
    sketch path.)
    """
    ev = t["events"].select("user_id")

    def buckets() -> F.Column:
        return F.array(
            *[_md5_mod(F.col("user_id"), str(d), CMS_W) for d in range(CMS_D)]
        )

    rows = ev.select(F.posexplode(buckets()).alias("d", "bucket"))
    regs = rows.groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("c"))
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_exact"))
    est = (
        exact.select("user_id", F.posexplode(buckets()).alias("d", "bucket"))
        .join(F.broadcast(regs), ["d", "bucket"])
        .groupBy("user_id")
        .agg(F.min("c").alias("cms_estimate"))
    )
    return (
        exact.join(est, "user_id")
        .orderBy(F.desc("n_exact"), "user_id")
        .limit(CMS_TOP)
        .select("user_id", "n_exact", "cms_estimate")
    )


CMS_HEAVY_HITTERS_ORACLE = f"""
WITH ev AS (SELECT user_id FROM events),
hs AS (SELECT unnest(generate_series(0, {CMS_D - 1})) AS d),
rows_ AS (
    SELECT ev.user_id, hs.d,
           CAST('0x' || substring(md5(CAST(hs.d AS VARCHAR) || ':'
                || CAST(ev.user_id AS VARCHAR)), 1, 8) AS BIGINT)
               % {CMS_W} AS bucket
    FROM ev, hs
),
regs AS (SELECT d, bucket, count(*) AS c FROM rows_ GROUP BY 1, 2),
exact AS (SELECT user_id, count(*) AS n_exact FROM ev GROUP BY 1),
cand AS (SELECT DISTINCT user_id, d, bucket FROM rows_),
est AS (
    SELECT cand.user_id, min(regs.c) AS cms_estimate
    FROM cand JOIN regs USING (d, bucket)
    GROUP BY 1
)
SELECT exact.user_id, exact.n_exact, est.cms_estimate
FROM exact JOIN est USING (user_id)
ORDER BY exact.n_exact DESC, exact.user_id
LIMIT {CMS_TOP}
"""


# ---------------------------------------------------------------------------
# Bloom-filter semi-join: membership prefilter in BLOOM_M bits
# ---------------------------------------------------------------------------

BLOOM_M = 4096  # bit positions
BLOOM_K = 3  # hash functions


def bloom_semi_join(t: dict[str, DataFrame]) -> DataFrame:
    """Prefilter lineitem order keys through a Bloom filter built over
    urgent orders — the runtime-filter pattern (Spark injects the same
    shape as ``InjectRuntimeFilter`` for selective joins), made
    explicit and cross-engine-checkable. One summary row: fact-key
    count, exact semi-join matches, Bloom passes, false positives.

    Scale shape: the build side collapses to at most BLOOM_M = 4096
    distinct bit positions (map-side distinct before the exchange);
    that bitset broadcasts, so the probe side tests membership
    map-side with NO shuffle of fact rows — exactly why the pattern
    wins at 100 TB: the expensive fact shuffle happens only for the
    ~matching keys that survive the filter. A key passes iff all
    BLOOM_K probe positions hit (count == k over the position join).
    The filter never false-negatives (every exact match passes);
    false positives are saturation-dependent and the whole point of
    reporting them next to the exact count.
    """
    # The distinct fact-key frame is consumed three times (probe,
    # count, exact baseline): checkpointed so lineitem is scanned ONCE.
    # urgent (orders, predicate pushed to the scan) is deliberately NOT
    # checkpointed: it is 10× smaller, its two scans are filter-pruned,
    # and keeping it in-plan keeps the pushdown visible/gated.
    urgent = (
        t["orders"]
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )

    def positions(col_name: str) -> F.Column:
        return F.explode(
            F.array(
                *[
                    _md5_mod(F.col(col_name), str(i), BLOOM_M)
                    for i in range(BLOOM_K)
                ]
            )
        ).alias("pos")

    bits = urgent.select(positions("o_orderkey")).distinct()
    keys = (
        t["lineitem"].select("l_orderkey").distinct().localCheckpoint(eager=False)
    )
    passed = (
        keys.select("l_orderkey", positions("l_orderkey"))
        .join(F.broadcast(bits), "pos")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("hits"))
        .filter(F.col("hits") == BLOOM_K)
    )
    n_keys = keys.agg(F.count(F.lit(1)).alias("n_fact_keys"))
    n_exact = keys.join(
        urgent, keys["l_orderkey"] == urgent["o_orderkey"], "left_semi"
    ).agg(F.count(F.lit(1)).alias("n_exact_match"))
    n_pass = passed.agg(F.count(F.lit(1)).alias("n_bloom_pass"))
    return (
        n_keys.crossJoin(F.broadcast(n_exact))
        .crossJoin(F.broadcast(n_pass))
        .select(
            "n_fact_keys",
            "n_exact_match",
            "n_bloom_pass",
            (F.col("n_bloom_pass") - F.col("n_exact_match")).alias(
                "false_positives"
            ),
        )
    )


BLOOM_SEMI_JOIN_ORACLE = f"""
WITH urgent AS (
    SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
),
hs AS (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS i),
bits AS (
    SELECT DISTINCT
           CAST('0x' || substring(md5(CAST(hs.i AS VARCHAR) || ':'
                || CAST(urgent.o_orderkey AS VARCHAR)), 1, 8) AS BIGINT)
               % {BLOOM_M} AS pos
    FROM urgent, hs
),
keys AS (SELECT DISTINCT l_orderkey FROM lineitem),
kpos AS (
    SELECT keys.l_orderkey,
           CAST('0x' || substring(md5(CAST(hs.i AS VARCHAR) || ':'
                || CAST(keys.l_orderkey AS VARCHAR)), 1, 8) AS BIGINT)
               % {BLOOM_M} AS pos
    FROM keys, hs
),
passed AS (
    SELECT l_orderkey FROM kpos JOIN bits USING (pos)
    GROUP BY 1 HAVING count(*) = {BLOOM_K}
),
n AS (SELECT count(*) AS n_fact_keys FROM keys),
e AS (
    SELECT count(*) AS n_exact_match FROM keys
    WHERE EXISTS (SELECT 1 FROM urgent WHERE o_orderkey = l_orderkey)
),
p AS (SELECT count(*) AS n_bloom_pass FROM passed)
SELECT n.n_fact_keys, e.n_exact_match, p.n_bloom_pass,
       p.n_bloom_pass - e.n_exact_match AS false_positives
FROM n, e, p
"""


# ---------------------------------------------------------------------------
# Histogram quantile sketch: percentile estimation in HIST_BINS counters
# ---------------------------------------------------------------------------

HIST_BINS = 64
HIST_QS = [0.5, 0.95, 0.99]


def histogram_quantiles(t: dict[str, DataFrame]) -> DataFrame:
    """Approximate per-event-type percentiles from a fixed-width
    histogram — the mergeable quantile sketch that completes the
    family (HLL = distinct, CMS = frequency, Bloom = membership,
    histogram = quantiles): the estimate is linear interpolation
    inside the first bin whose cumulative count reaches q·n.

    This is the shape ``quantile_stats`` documents as the 100 TB swap
    for its exact sort-based percentiles, made concrete and
    oracle-checked: raw values collapse map-side to ≤ HIST_BINS
    counters per group (associative sum — partitions/days merge like
    the HLL registers), the cumulative window runs over ≤ 64 rows per
    group, and nothing ever sorts the data. Two passes (min/max then
    counts) — a production build would fold pass one into ingest
    metadata. The min/max range table is a broadcast; bin edges are
    pure double arithmetic shared with the oracle.
    """
    from pyspark.sql import Window

    ev = t["events"].select("event_type", "value")
    # ≤ |event types| rows; checkpointed because both consumers (the
    # binning join and the quantile-target explode) would otherwise
    # each re-derive it from its own events scan — 3 scans instead of
    # the inherent 2 (range pass, then bin pass).
    rng = (
        ev.groupBy("event_type")
        .agg(
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .localCheckpoint(eager=False)
    )
    width = (F.col("hi") - F.col("lo")) / HIST_BINS
    binned = ev.join(F.broadcast(rng), "event_type").select(
        "event_type",
        F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.lit(HIST_BINS - 1).cast("long"),
                F.floor((F.col("value") - F.col("lo")) / width),
            )
        )
        .alias("bin"),
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    cum = counts.withColumn(
        "cum",
        F.sum("c").over(
            Window.partitionBy("event_type")
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    targets = rng.select(
        "event_type",
        "lo",
        "hi",
        "n",
        F.explode(F.array(*[F.lit(float(q)) for q in HIST_QS])).alias("q"),
    )
    hit = (
        targets.join(cum, "event_type")
        .filter(F.col("cum") >= F.col("q") * F.col("n"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("event_type", "q").orderBy("bin")
            ),
        )
        .filter(F.col("rk") == 1)
    )
    est = F.when(F.col("hi") == F.col("lo"), F.col("lo")).otherwise(
        F.col("lo")
        + width
        * (
            F.col("bin")
            + (F.col("q") * F.col("n") - (F.col("cum") - F.col("c")))
            / F.col("c")
        )
    )
    return hit.select(
        "event_type", "q", F.round(est, 4).alias("est"), "n"
    )


# q literals carry an e0 suffix so DuckDB parses them as DOUBLE (a bare
# 0.95 is DECIMAL there; 0.95·n would then be exact where Spark's
# double multiply rounds — the e0 keeps both engines on the identical
# IEEE path).
HISTOGRAM_QUANTILES_ORACLE = f"""
WITH ev AS (SELECT event_type, value FROM events),
rng AS (
    SELECT event_type, min(value) AS lo, max(value) AS hi,
           count(*) AS n
    FROM ev GROUP BY 1
),
binned AS (
    SELECT ev.event_type,
           CASE WHEN r.hi = r.lo THEN 0
                ELSE least({HIST_BINS - 1}, CAST(floor(
                     (ev.value - r.lo) / ((r.hi - r.lo) / {HIST_BINS}))
                     AS BIGINT)) END AS bin
    FROM ev JOIN rng r USING (event_type)
),
counts AS (
    SELECT event_type, bin, count(*) AS c FROM binned GROUP BY 1, 2
),
cum AS (
    SELECT event_type, bin, c,
           sum(c) OVER (PARTITION BY event_type ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum
    FROM counts
),
targets AS (
    SELECT r.event_type, r.lo, r.hi, r.n, tq.q
    FROM rng r CROSS JOIN (VALUES {", ".join(f"({q}e0)" for q in HIST_QS)})
         tq(q)
),
hit AS (
    SELECT t.event_type, t.q, t.lo, t.hi, t.n, c.bin, c.c, c.cum,
           row_number() OVER (PARTITION BY t.event_type, t.q
                              ORDER BY c.bin) AS rk
    FROM targets t JOIN cum c USING (event_type)
    WHERE c.cum >= t.q * t.n
)
SELECT event_type, q,
       round(CASE WHEN hi = lo THEN lo
                  ELSE lo + ((hi - lo) / {HIST_BINS})
                       * (bin + (q * n - (cum - c)) / c) END, 4) AS est,
       CAST(n AS BIGINT) AS n
FROM hit WHERE rk = 1
"""


def _footer_min_max(t: dict[str, DataFrame], table: str, column: str):
    """Column (min, max) from parquet footer statistics — a pure
    metadata read (no scan, no Spark job), the stand-in for the
    ingest-time range metadata a production table format keeps.
    Returns None when footers are unavailable (then the caller falls
    back to computing the range with an aggregation pass)."""
    import glob
    import os

    import pyarrow.parquet as pq

    sf_dir = getattr(t, "sf_dir", None)
    if sf_dir is None:
        return None
    path = os.path.join(sf_dir, f"{table}.parquet")
    files = (
        sorted(glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    lo = hi = None
    try:
        for f in files:
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    if col.path_in_schema != column:
                        continue
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        return None
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
    except Exception:
        return None
    if lo is None:
        return None
    return float(lo), float(hi)


def histogram_quantiles_meta(t: dict[str, DataFrame]) -> DataFrame:
    """One-pass form of :func:`histogram_quantiles`: the bin range is
    the GLOBAL column range taken from parquet footer min/max
    statistics (a driver-side metadata read), so the data is scanned
    exactly once — the "fold pass one into ingest metadata" production
    shape that function's docstring promises.

    Shared global bins trade a little per-group resolution for the
    eliminated pass; the estimates differ from the per-group-range
    variant by design, and the oracle recomputes the same global range
    relationally (exact for these files: parquet stats are true
    min/max).  Falls back to a range aggregation when footers carry no
    statistics — correctness never depends on the metadata.
    """
    from pyspark.sql import Window

    ev = t["events"].select("event_type", "value")
    rng = _footer_min_max(t, "events", "value")
    if rng is None:
        row = ev.agg(F.min("value"), F.max("value")).first()
        rng = (float(row[0]), float(row[1]))
    lo_v, hi_v = rng
    lo, hi = F.lit(lo_v), F.lit(hi_v)
    width = (hi - lo) / HIST_BINS
    binned = ev.select(
        "event_type",
        F.when(hi == lo, F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.lit(HIST_BINS - 1).cast("long"),
                F.floor((F.col("value") - lo) / width),
            )
        )
        .alias("bin"),
    )
    counts = binned.groupBy("event_type", "bin").agg(F.count(F.lit(1)).alias("c"))
    # cum + n as windows over the ≤64-rows-per-group counts frame, then
    # the quantile targets EXPLODED onto each bin row — no self-join, so
    # the whole query is one linear lineage over a single events scan.
    grp = counts.withColumn(
        "cum",
        F.sum("c").over(
            Window.partitionBy("event_type")
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).withColumn("n", F.sum("c").over(Window.partitionBy("event_type")))
    hit = (
        grp.select(
            "event_type",
            "bin",
            "c",
            "cum",
            "n",
            F.explode(F.array(*[F.lit(float(q)) for q in HIST_QS])).alias("q"),
        )
        .filter(F.col("cum") >= F.col("q") * F.col("n"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("event_type", "q").orderBy("bin")
            ),
        )
        .filter(F.col("rk") == 1)
    )
    est = F.when(hi == lo, lo).otherwise(
        lo
        + width
        * (
            F.col("bin")
            + (F.col("q") * F.col("n") - (F.col("cum") - F.col("c")))
            / F.col("c")
        )
    )
    return hit.select("event_type", "q", F.round(est, 4).alias("est"), "n")


HISTOGRAM_QUANTILES_META_ORACLE = f"""
WITH rng AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
binned AS (
    SELECT e.event_type,
           CASE WHEN r.hi = r.lo THEN 0
                ELSE least({HIST_BINS - 1}, CAST(floor(
                     (e.value - r.lo) / ((r.hi - r.lo) / {HIST_BINS}))
                     AS BIGINT)) END AS bin
    FROM events e CROSS JOIN rng r
),
counts AS (
    SELECT event_type, bin, count(*) AS c FROM binned GROUP BY 1, 2
),
cum AS (
    SELECT event_type, bin, c,
           sum(c) OVER (PARTITION BY event_type ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum,
           sum(c) OVER (PARTITION BY event_type) AS n
    FROM counts
),
targets AS (
    SELECT DISTINCT event_type, n, tq.q
    FROM cum CROSS JOIN (VALUES {", ".join(f"({q}e0)" for q in HIST_QS)}) tq(q)
),
hit AS (
    SELECT t.event_type, t.q, t.n, c.bin, c.c, c.cum,
           row_number() OVER (PARTITION BY t.event_type, t.q
                              ORDER BY c.bin) AS rk
    FROM targets t
    JOIN cum c ON t.event_type = c.event_type
    WHERE c.cum >= t.q * t.n
),
rng2 AS (SELECT lo, hi FROM rng)
SELECT h.event_type, h.q,
       round(CASE WHEN r.hi = r.lo THEN r.lo
                  ELSE r.lo + ((r.hi - r.lo) / {HIST_BINS})
                       * (h.bin + (h.q * h.n - (h.cum - h.c)) / h.c) END, 4)
           AS est,
       CAST(h.n AS BIGINT) AS n
FROM hit h CROSS JOIN rng2 r WHERE h.rk = 1
"""


# ---------------------------------------------------------------------------
# HLL set algebra: intersection via inclusion-exclusion
# ---------------------------------------------------------------------------

HLL_INTER_TYPE = "purchase"  # set A: users who purchased
HLL_INTER_VALUE = 250.0  # set B: users with a rare high-value event


def _hll_cohorts(t: dict[str, DataFrame]):
    """Pre-checkpoint cohort id-frames of :func:`hll_intersect_types` —
    exposed so the plan gate can assert the pushed filters below the
    checkpoint barrier."""
    ev = t["events"]
    set_a = ev.filter(F.col("event_type") == HLL_INTER_TYPE).select("user_id")
    set_b = ev.filter(F.col("value") >= HLL_INTER_VALUE).select("user_id")
    return set_a, set_b


def hll_intersect_types(t: dict[str, DataFrame]) -> DataFrame:
    """Estimate the user overlap between two cohorts from their HLL
    sketches alone: |A∩B| ≈ E(A) + E(B) − E(A∪B), where the union
    estimate comes from the register-wise ``max`` merge — no raw data
    re-touched.  A = purchasers, B = users with a high-value event (two
    genuinely different sets, so the three estimates diverge).  Exact
    intersection rides along so the inclusion-exclusion error is
    visible (it compounds the three estimates' errors; the classic
    trade for never re-scanning 100 TB).

    Scale shape identical to the other HLL queries: each branch is ≤16
    register rows after the map-side combine; the only exact-side cost
    is the comparison column itself.
    """
    # both cohort id-frames feed the sketch build AND the exact
    # baseline; the ≤32-row register table feeds three estimates.
    # Checkpoints make each events scan and the HLL expansion happen
    # once (6 fact scans otherwise).
    raw_a, raw_b = _hll_cohorts(t)
    set_a = raw_a.localCheckpoint(eager=False)
    set_b = raw_b.localCheckpoint(eager=False)
    branches = set_a.withColumn("branch", F.lit("A")).unionAll(
        set_b.withColumn("branch", F.lit("B"))
    )
    regs = (
        _hll_parts(branches, "branch")
        .groupBy("branch", "bucket")
        .agg(F.max(_rho()).alias("m_j"))
        .localCheckpoint(eager=False)
    )
    per_branch = _hll_estimate(regs, "branch")
    est_a = per_branch.filter(F.col("branch") == "A").select(
        F.col("hll_estimate").alias("est_a")
    )
    est_b = per_branch.filter(F.col("branch") == "B").select(
        F.col("hll_estimate").alias("est_b")
    )
    est_u = _hll_estimate(
        regs.groupBy("bucket").agg(F.max("m_j").alias("m_j"))
    ).select(F.col("hll_estimate").alias("est_union"))
    exact = (
        set_a.distinct()
        .join(set_b.distinct(), "user_id", "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact_both"))
    )
    return (
        est_a.crossJoin(est_b)
        .crossJoin(est_u)
        .crossJoin(F.broadcast(exact))
        .select(
            "n_exact_both",
            "est_a",
            "est_b",
            "est_union",
            F.round(
                F.col("est_a") + F.col("est_b") - F.col("est_union"), 4
            ).alias("est_intersect"),
        )
    )


_EST_SQL = (
    f"round(CASE WHEN {HLL_ALPHA} * {HLL_M * HLL_M} * pow(2.0, {_W_BITS + 1}) / s"
    f" <= {2.5 * HLL_M} AND v > 0"
    f" THEN {float(HLL_M)} * ln({float(HLL_M)} / v)"
    f" ELSE {HLL_ALPHA} * {HLL_M * HLL_M} * pow(2.0, {_W_BITS + 1}) / s END, 4)"
)

HLL_INTERSECT_TYPES_ORACLE = f"""
WITH branches AS (
    SELECT 'A' AS branch, user_id FROM events
    WHERE event_type = '{HLL_INTER_TYPE}'
    UNION ALL
    SELECT 'B' AS branch, user_id FROM events
    WHERE value >= {HLL_INTER_VALUE}
),
parts AS (
    SELECT branch,
           CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                AS BIGINT) AS bucket,
           CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 2,
                                  {_W_BITS // 4}) AS BIGINT) AS v60
    FROM branches
),
regs AS (
    SELECT branch, bucket,
           max(CASE WHEN v60 = 0 THEN {_W_BITS + 1}
                    ELSE {_W_BITS + 1} - length(bin(v60)) END) AS m_j
    FROM parts GROUP BY 1, 2
),
uregs AS (SELECT bucket, max(m_j) AS m_j FROM regs GROUP BY 1),
agg AS (
    SELECT branch,
           sum(CAST(pow(2.0, {_W_BITS + 1} - m_j) AS DECIMAL(24,0)))
               AS s_present,
           count(*) AS n_regs
    FROM regs GROUP BY 1
),
uagg AS (
    SELECT sum(CAST(pow(2.0, {_W_BITS + 1} - m_j) AS DECIMAL(24,0)))
               AS s_present,
           count(*) AS n_regs
    FROM uregs
),
est AS (
    SELECT branch, {_EST_SQL} AS e FROM (
        SELECT branch,
               CAST(s_present + ({HLL_M} - n_regs)
                    * CAST(pow(2.0, {_W_BITS + 1}) AS DECIMAL(24,0))
                    AS DOUBLE) AS s,
               {HLL_M} - n_regs AS v
        FROM agg
    )
),
uest AS (
    SELECT {_EST_SQL} AS e FROM (
        SELECT CAST(s_present + ({HLL_M} - n_regs)
                    * CAST(pow(2.0, {_W_BITS + 1}) AS DECIMAL(24,0))
                    AS DOUBLE) AS s,
               {HLL_M} - n_regs AS v
        FROM uagg
    )
),
ex AS (
    SELECT CAST(count(*) AS BIGINT) AS n_exact_both FROM (
        SELECT DISTINCT user_id FROM branches WHERE branch = 'A'
        INTERSECT
        SELECT DISTINCT user_id FROM branches WHERE branch = 'B'
    )
)
SELECT ex.n_exact_both,
       (SELECT e FROM est WHERE branch = 'A') AS est_a,
       (SELECT e FROM est WHERE branch = 'B') AS est_b,
       uest.e AS est_union,
       round((SELECT e FROM est WHERE branch = 'A')
             + (SELECT e FROM est WHERE branch = 'B')
             - uest.e, 4) AS est_intersect
FROM ex CROSS JOIN uest
"""


def hll_running_union(t: dict[str, DataFrame]) -> DataFrame:
    """Cumulative users-to-date per day from the persisted daily HLL
    sketches alone: a running register-wise ``max`` window over the
    (day × bucket) grid — the dashboard query ("distinct users so far")
    that exact counting cannot serve at 100 TB without re-scanning all
    history each day.  Exact cumulative counts ride along, computed the
    cheap exact way (running sum of first-seen-day counts).

    Scale shape: after the map-side collapse the whole computation
    lives on |days|·16 register rows; the running merge is a window
    over ≤16-row partitions, and the exact side aggregates |users|
    first-seen rows once.
    """
    from pyspark.sql import Window

    ev = t["events"]
    day = F.expr("unix_millis(ts) div 86400000").alias("day")
    # |days|·16 register rows with three consumers (day list, bucket
    # list, grid join): checkpointed so the sketch pass over events
    # runs once, not three times
    daily = (
        _hll_parts(ev.select("user_id", day), "day")
        .groupBy("day", "bucket")
        .agg(F.max(_rho()).alias("mj0"))
        .localCheckpoint(eager=False)
    )
    days = daily.select("day").distinct()
    buckets = daily.select("bucket").distinct()
    grid = days.crossJoin(F.broadcast(buckets))
    w_run = (
        Window.partitionBy("bucket")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        grid.join(daily, ["day", "bucket"], "left")
        .withColumn("m_j", F.max("mj0").over(w_run))
        .filter(F.col("m_j").isNotNull())
        .select("day", "bucket", "m_j")
    )
    est = _hll_estimate(cum, "day")
    first_seen = (
        ev.select("user_id", day).groupBy("user_id").agg(F.min("day").alias("fd"))
    )
    fd_counts = first_seen.groupBy("fd").agg(F.count(F.lit(1)).alias("c"))
    w_days = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    exact = (
        days.join(fd_counts, days["day"] == fd_counts["fd"], "left")
        .select("day", F.coalesce("c", F.lit(0)).alias("c"))
        .select(
            "day", F.sum("c").over(w_days).cast("long").alias("n_exact_cum")
        )
    )
    return est.join(exact, "day").select(
        F.col("day").cast("long").alias("day"), "n_exact_cum", "hll_estimate"
    )


HLL_RUNNING_UNION_ORACLE = f"""
WITH parts AS (
    SELECT epoch_ms(ts) // 86400000 AS day,
           CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                AS BIGINT) AS bucket,
           CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 2,
                                  {_W_BITS // 4}) AS BIGINT) AS v60
    FROM events
),
daily AS (
    SELECT day, bucket,
           max(CASE WHEN v60 = 0 THEN {_W_BITS + 1}
                    ELSE {_W_BITS + 1} - length(bin(v60)) END) AS mj0
    FROM parts GROUP BY 1, 2
),
days AS (SELECT DISTINCT day FROM daily),
buckets AS (SELECT DISTINCT bucket FROM daily),
cumgrid AS (
    SELECT g.day, g.bucket,
           max(dl.mj0) OVER (PARTITION BY g.bucket ORDER BY g.day
                             ROWS UNBOUNDED PRECEDING) AS m_j
    FROM (SELECT d.day, b.bucket FROM days d CROSS JOIN buckets b) g
    LEFT JOIN daily dl ON g.day = dl.day AND g.bucket = dl.bucket
),
agg AS (
    SELECT day,
           sum(CAST(pow(2.0, {_W_BITS + 1} - m_j) AS DECIMAL(24,0)))
               AS s_present,
           count(*) AS n_regs
    FROM cumgrid WHERE m_j IS NOT NULL GROUP BY 1
),
est AS (
    SELECT day, {_EST_SQL} AS e FROM (
        SELECT day,
               CAST(s_present + ({HLL_M} - n_regs)
                    * CAST(pow(2.0, {_W_BITS + 1}) AS DECIMAL(24,0))
                    AS DOUBLE) AS s,
               {HLL_M} - n_regs AS v
        FROM agg
    )
),
firstd AS (
    SELECT user_id, min(epoch_ms(ts) // 86400000) AS fd
    FROM events GROUP BY 1
),
fdc AS (SELECT fd, count(*) AS c FROM firstd GROUP BY 1),
exact AS (
    SELECT d.day,
           CAST(sum(COALESCE(f.c, 0)) OVER (ORDER BY d.day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_exact_cum
    FROM days d LEFT JOIN fdc f ON d.day = f.fd
)
SELECT CAST(e.day AS BIGINT) AS day, x.n_exact_cum,
       e.e AS hll_estimate
FROM est e JOIN exact x ON e.day = x.day
"""
