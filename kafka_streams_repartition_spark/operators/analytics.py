"""Analytic operators the reference cannot express at all.

SURVEY §2.4 records that the reference has no ranking, no top-k, no
grouping sets, no set operations — a Kafka Streams DSL limitation, not
a domain one. On Spark these are free Catalyst plans; exposing them
oracle-checked makes the "switch to this repo" story complete for a
user who would otherwise bolt a second system onto the stream output.

Scale notes: ``top_sellers_per_nation`` is one shuffle on the grouping
key then a per-partition sort bounded by k (Spark plans
``WindowGroupLimit`` pushdown for rank<=k filters, so the sort never
materializes full groups). ``sales_rollup`` is a single pass — Spark
expands grouping sets map-side and partially aggregates before the one
wide shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TOP_K_SELLERS = 5


def top_sellers_per_nation(t: dict[str, DataFrame]) -> DataFrame:
    """Top-k customers per nation by order count + revenue (ranking /
    analytic window surface)."""
    per_cust = (
        t["orders"]
        .select("o_custkey", "o_totalprice")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
    joined = per_cust.join(
        t["customer"].select("c_custkey", "c_name", "c_nationkey"),
        F.col("o_custkey") == F.col("c_custkey"),
        "inner",
    ).join(
        F.broadcast(t["nation"].select("n_nationkey", F.col("n_name").alias("nation"))),
        F.col("c_nationkey") == F.col("n_nationkey"),
        "inner",
    )
    w = Window.partitionBy("nation").orderBy(
        F.col("revenue").desc(), F.col("c_custkey")
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K_SELLERS)
        .select(
            "nation",
            F.col("rank").cast("long").alias("rank"),
            F.col("c_name").alias("customer"),
            F.col("n_orders").cast("long").alias("n_orders"),
            "revenue",
        )
    )


TOP_SELLERS_PER_NATION_ORACLE = f"""
WITH per_cust AS (
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY 1
),
ranked AS (
    SELECT n.n_name AS nation,
           c.c_name AS customer,
           p.n_orders,
           p.revenue,
           row_number() OVER (
               PARTITION BY n.n_name ORDER BY p.revenue DESC, c.c_custkey
           ) AS rank
    FROM per_cust p
    JOIN customer c ON p.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT nation, CAST(rank AS BIGINT) AS rank, customer, n_orders, revenue
FROM ranked
WHERE rank <= {TOP_K_SELLERS}
"""


def sales_rollup(t: dict[str, DataFrame]) -> DataFrame:
    """ROLLUP (nation → order status → grand total): the grouping-sets
    surface, with ``grouping_id`` distinguishing subtotal levels."""
    return _nation_status_sales(t, "rollup")


def _nation_status_sales(t: dict[str, DataFrame], grouping: str) -> DataFrame:
    """Order count and revenue per (nation, order status) grouping set,
    ``grouping`` being ``"rollup"`` (:func:`sales_rollup`) or ``"cube"``
    (:func:`sales_cube`); a rolled-up key reads ``ALL`` and ``gid`` is
    its ``grouping_id``."""
    src = (
        t["orders"]
        .select("o_custkey", "o_orderstatus", "o_totalprice")
        .join(
            t["customer"].select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "inner",
        )
        .join(
            F.broadcast(
                t["nation"].select("n_nationkey", F.col("n_name").alias("nation"))
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "inner",
        )
    )
    return (
        getattr(src, grouping)("nation", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.grouping_id().alias("gid"),
        )
        .select(
            F.coalesce("nation", F.lit("ALL")).alias("nation"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.col("n_orders").cast("long").alias("n_orders"),
            "revenue",
            F.col("gid").cast("long").alias("gid"),
        )
    )


SALES_ROLLUP_ORACLE = """
SELECT coalesce(n.n_name, 'ALL') AS nation,
       coalesce(o.o_orderstatus, 'ALL') AS status,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o.o_totalprice), 2) AS revenue,
       CAST(grouping(n.n_name) * 2 + grouping(o.o_orderstatus) AS BIGINT) AS gid
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY ROLLUP (n.n_name, o.o_orderstatus)
"""


def supplier_volume(t: dict[str, DataFrame]) -> DataFrame:
    """Per-supplier-nation supply volume: the store-side enrichment
    shape (J2) applied to the supplier dimension — lineitem shuffles
    once on suppkey after a map-side partial, supplier and nation
    broadcast."""
    per_supp = (
        t["lineitem"]
        .select("l_suppkey", "l_quantity")
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("supply_qty"),
        )
    )
    return (
        per_supp.join(
            F.broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "inner",
        )
        .join(
            F.broadcast(
                t["nation"].select("n_nationkey", F.col("n_name").alias("nation"))
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
            "inner",
        )
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.sum("n_items").cast("long").alias("n_items"),
            F.round(F.sum("supply_qty"), 2).alias("supply_qty"),
        )
    )


SUPPLIER_VOLUME_ORACLE = """
WITH per_supp AS (
    SELECT l_suppkey,
           count(*) AS n_items,
           round(sum(l_quantity), 2) AS supply_qty
    FROM lineitem
    GROUP BY 1
)
SELECT n.n_name AS nation,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(sum(p.n_items) AS BIGINT) AS n_items,
       round(sum(p.supply_qty), 2) AS supply_qty
FROM per_supp p
JOIN supplier s ON p.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY 1
"""


# --- SQL front-end ---------------------------------------------------------

_PRICING_SUMMARY_SQL = """
SELECT l_returnflag,
       l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE), 4)
           AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,10))) AS DOUBLE), 4)
           AS sum_base_price,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(28,10))) AS DOUBLE), 4)
           AS sum_disc_price,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                           AS DECIMAL(28,10))) AS DOUBLE), 4)
           AS sum_charge,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE)
             / count(*), 4) AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,10))) AS DOUBLE)
             / count(*), 4) AS avg_price,
       round(CAST(sum(CAST(l_discount AS DECIMAL(28,10))) AS DOUBLE)
             / count(*), 4) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM {table}
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def pricing_summary(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary expressed through the SQL
    FRONT-END (``spark.sql`` over a registered view) — the engine's SQL
    entry point, exercised end-to-end; every other query uses the
    DataFrame API.

    Parity note: per-row double arithmetic (the discount/tax products)
    is IEEE-identical on both engines; the order-sensitive part — the
    SUM — rides DECIMAL(28,10), so the shuffle's partial-agg order can't
    drift from the oracle's sequential sum. Filter pushes to the scan
    (shipdate is a plain predicate), aggregation is the standard
    two-stage partial/final.
    """
    li = t["lineitem"]
    li.createOrReplaceTempView("lineitem_sql_v")
    return li.sparkSession.sql(_PRICING_SUMMARY_SQL.format(table="lineitem_sql_v"))


PRICING_SUMMARY_ORACLE = _PRICING_SUMMARY_SQL.format(table="lineitem")


# --- retention cohorts ------------------------------------------------------

DAY_MS = 86_400_000


def retention_cohorts(t: dict[str, DataFrame]) -> DataFrame:
    """Classic cohort retention over the events stream: cohort = the
    epoch-day of a user's first event; for every (cohort_day, day
    offset) report how many cohort members were active and the
    retention rate.

    Scale shape: (1) activity collapses to distinct (user, day) with
    map-side partial aggregation — the only pass over raw events;
    (2) cohort assignment is a groupBy(user) min; (3) the
    activity⋈cohort join is co-partitioned on user_id (both sides hang
    off the same exchange key); (4) the final (cohort, offset) rollup
    and the tiny cohort-size table (one row per day) broadcast-join.
    Raw event volume crosses exactly one user-keyed exchange.
    """
    ev = t["events"].select(
        "user_id", F.expr(f"unix_millis(ts) div {DAY_MS}").alias("day")
    )
    # the deduped activity frame is "the only pass over raw events" —
    # checkpointed so its two consumers don't each redo that pass; the
    # |users|-row cohort table likewise feeds two consumers
    active = ev.distinct().localCheckpoint(eager=False)
    cohort = (
        active.groupBy("user_id")
        .agg(F.min("day").alias("cohort_day"))
        .localCheckpoint(eager=False)
    )
    sizes = cohort.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    by_offset = (
        active.join(cohort, "user_id")
        .groupBy("cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return by_offset.join(F.broadcast(sizes), "cohort_day").select(
        "cohort_day",
        "day_offset",
        "n_active",
        "cohort_users",
        F.round(F.col("n_active") / F.col("cohort_users"), 4).alias("retention"),
    )


RETENTION_COHORTS_ORACLE = f"""
WITH active AS (
    SELECT DISTINCT user_id, epoch_ms(ts) // {DAY_MS} AS day FROM events
),
cohort AS (
    SELECT user_id, min(day) AS cohort_day FROM active GROUP BY 1
),
sizes AS (
    SELECT cohort_day, count(*) AS cohort_users FROM cohort GROUP BY 1
),
by_offset AS (
    SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
           count(*) AS n_active
    FROM active a JOIN cohort c USING (user_id)
    GROUP BY 1, 2
)
SELECT b.cohort_day, b.day_offset,
       CAST(b.n_active AS BIGINT) AS n_active,
       CAST(s.cohort_users AS BIGINT) AS cohort_users,
       round(CAST(b.n_active AS DOUBLE) / s.cohort_users, 4) AS retention
FROM by_offset b JOIN sizes s USING (cohort_day)
"""


# --- pivot / crosstab -------------------------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def pivot_event_types(t: dict[str, DataFrame]) -> DataFrame:
    """Per-user event-type crosstab through Spark's ``pivot`` operator
    (explicit value list — no extra distinct-values job), counts and
    rounded value sums per type.

    Scale shape: pivot with a fixed value list is ONE groupBy(user_id)
    whose conditional aggregates partial-combine map-side — identical
    cost to a plain count, never a per-type scan.
    """
    piv = (
        t["events"]
        .groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("val"),
        )
    )
    cols = [F.col("user_id")]
    for et in EVENT_TYPES:
        cols.append(F.coalesce(F.col(f"{et}_n"), F.lit(0)).alias(f"{et}_n"))
        cols.append(F.coalesce(F.col(f"{et}_val"), F.lit(0.0)).alias(f"{et}_val"))
    return piv.select(*cols)


_PIVOT_COLS = ",\n       ".join(
    f"CAST(count(*) FILTER (event_type = '{et}') AS BIGINT) AS {et}_n,\n"
    f"       coalesce(round(sum(value) FILTER (event_type = '{et}'), 2), 0.0)"
    f" AS {et}_val"
    for et in EVENT_TYPES
)

PIVOT_EVENT_TYPES_ORACLE = f"""
SELECT user_id,
       {_PIVOT_COLS}
FROM events
GROUP BY 1
"""


# --- set operations ---------------------------------------------------------


def user_day_segments(t: dict[str, DataFrame]) -> DataFrame:
    """Behavioral segments via SET OPERATIONS (INTERSECT / EXCEPT) on
    (user, day) activity sets — the relational surface SURVEY §2.4
    records the reference DSL cannot express at all: user-days that
    both browsed and bought, browsed without buying, bought without
    browsing that day.

    Scale shape: each side collapses to distinct (user, day) with
    map-side partial aggregation before its one keyed exchange; Spark
    plans INTERSECT/EXCEPT as semi/anti joins on the same key, so the
    three segments are co-partitioned passes over two deduped inputs,
    and each final count is a single long per segment.
    """
    ev = t["events"].select(
        "user_id",
        F.expr(f"unix_millis(ts) div {DAY_MS}").alias("day"),
        "event_type",
    )
    # each deduped side feeds TWO set operations; checkpointed so the
    # fact is scanned once per side, not once per segment
    v = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id", "day")
        .distinct()
        .localCheckpoint(eager=False)
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "day")
        .distinct()
        .localCheckpoint(eager=False)
    )

    def seg(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(name).alias("segment"), "n"
        )

    return (
        seg(v.intersect(p), "browse_and_buy")
        .unionByName(seg(v.subtract(p), "window_shopped"))
        .unionByName(seg(p.subtract(v), "blind_buy"))
    )


USER_DAY_SEGMENTS_ORACLE = f"""
WITH v AS (SELECT DISTINCT user_id, epoch_ms(ts) // {DAY_MS} AS day
           FROM events WHERE event_type = 'view'),
p AS (SELECT DISTINCT user_id, epoch_ms(ts) // {DAY_MS} AS day
      FROM events WHERE event_type = 'purchase')
SELECT 'browse_and_buy' AS segment, CAST(count(*) AS BIGINT) AS n
FROM (SELECT * FROM v INTERSECT SELECT * FROM p)
UNION ALL
SELECT 'window_shopped', CAST(count(*) AS BIGINT)
FROM (SELECT * FROM v EXCEPT SELECT * FROM p)
UNION ALL
SELECT 'blind_buy', CAST(count(*) AS BIGINT)
FROM (SELECT * FROM p EXCEPT SELECT * FROM v)
"""


# ---------------------------------------------------------------------------
# Single-pass table profiling
# ---------------------------------------------------------------------------

PROFILE_COLS = [
    "l_orderkey",
    "l_partkey",
    "l_quantity",
    "l_extendedprice",
    "l_returnflag",
    "l_shipdate",
]


def table_profile(t: dict[str, DataFrame]) -> DataFrame:
    """Per-column completeness/cardinality profile of lineitem in ONE
    scan — the data-quality pass (the Deequ/dbt-test shape) a pipeline
    runs before trusting 100 TB of input.

    All per-column aggregates ride a single aggregation over a single
    scan (Catalyst plans multi-distinct via one Expand — row
    multiplication by |columns|, still one pass over storage), then the
    1-row result unpivots via ``stack`` into a row per column; nothing
    shuffles more than the aggregation's own partials. Exact
    countDistinct is deliberate at this column count; the documented
    100 TB swap for high-cardinality audits is ``approx_count_distinct``
    (or the HLL registers in operators/sketches.py, if the profile
    must merge across partitions/days).
    """
    li = t["lineitem"]
    aggs = []
    for c in PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
        ]
    row = li.agg(F.count(F.lit(1)).alias("n_rows"), *aggs)
    stack_args = ", ".join(
        f"'{c}', nn_{c}, nd_{c}" for c in PROFILE_COLS
    )
    return row.selectExpr(
        "n_rows",
        f"stack({len(PROFILE_COLS)}, {stack_args})"
        " AS (column_name, n_nonnull, n_distinct)",
    ).select(
        "column_name",
        "n_rows",
        "n_nonnull",
        (F.col("n_rows") - F.col("n_nonnull")).alias("n_null"),
        "n_distinct",
    )


TABLE_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       (SELECT count(*) FROM lineitem) AS n_rows,
       count({c}) AS n_nonnull,
       (SELECT count(*) FROM lineitem) - count({c}) AS n_null,
       count(DISTINCT {c}) AS n_distinct
FROM lineitem"""
    for c in PROFILE_COLS
)


# --------------------------------------------------------------------------
# Sketch-backed table profiling: the 100 TB form of table_profile
# --------------------------------------------------------------------------

HLL_PROFILE_BOUND = 0.40  # acceptance bound on |est - exact| / exact.
# m=16 registers → theoretical σ ≈ 1.04/√16 ≈ 26%; 0.40 ≈ 1.5σ.  A column
# outside the bound shows within_bound=false on BOTH engines — the gate
# stays oracle-green either way; the flag is the acceptance signal.


def table_profile_approx(t: dict[str, DataFrame]) -> DataFrame:
    """``table_profile`` with the exact multi-``countDistinct`` replaced
    by the portable 16-register HLL from ``operators/sketches.py``, plus
    the error-bound acceptance gate that justifies the swap (mirroring
    ``dedup_recall_eval`` / ``ann_recall_eval``).

    Why: exact multi-column countDistinct plans ONE Expand — row
    multiplication by |columns| and a shuffle carrying every distinct
    value of every column, the one design-level 100 TB risk in
    ``table_profile``.  The sketch path shuffles ≤16 registers per
    column instead, whatever the cardinality.  This query computes BOTH
    (the exact side is the gate's ground truth — run it at audit scale,
    trust the registers corpus-wide) and flags whether each column's
    estimate lands within ``HLL_PROFILE_BOUND``.

    Values hash through a CANONICAL string form chosen to evaluate
    bit-identically on both engines (ints/strings cast directly; doubles
    via fixed-point round-to-bigint — '%f' formatting would expose
    HALF_UP-vs-half-even divergence; timestamps via epoch millis).  The
    exact count is over the same canonical domain, so the gate measures
    pure sketch error, not cast fidelity.

    One-pass shape: a single fact scan feeds ONE (column, canon)
    distinct exchange (map-side partial distinct), and since the md5
    buckets PARTITION the distinct values, the per-(column, bucket)
    aggregate yields both the HLL registers (``max`` rho — idempotent,
    so distinct-then-register equals register-over-raw) AND the exact
    count (``Σ`` per-bucket value counts) from the same ≤16-rows-per-
    column frame — no second scan, no countDistinct Expand.  The exact
    Σ n_vals rides the SAME per-column aggregation as the register
    harmonic sum (``_hll_estimate``'s ``extra`` hook), so the register
    frame is consumed ONCE — the earlier shape localCheckpointed it
    and read it twice (estimate + exact) through a broadcast join,
    one barrier and one pass more than the statistic needs.
    """
    from .sketches import _hll_estimate

    rel_err = F.round(
        F.abs(F.col("hll_estimate") - F.col("n_distinct_exact"))
        / F.col("n_distinct_exact"),
        4,
    )
    return _hll_estimate(
        _profile_approx_regs(t),
        "column_name",
        extra=((F.sum("n_vals"), "n_distinct_exact"),),
    ).select(
        "column_name",
        "n_distinct_exact",
        "hll_estimate",
        rel_err.alias("rel_err"),
        (rel_err <= HLL_PROFILE_BOUND).alias("within_bound"),
    )


def _profile_canon(li: DataFrame) -> DataFrame:
    """(column_name, canon) unpivot of the profiled lineitem columns in
    their canonical cross-engine string encoding (see
    ``table_profile_approx``).  Works on batch AND streaming frames —
    the streaming register build (``streaming.stream_table_profile``)
    shares this exact encoding so its registers merge with batch ones.
    """
    canon = {
        "l_orderkey": F.col("l_orderkey").cast("string"),
        "l_partkey": F.col("l_partkey").cast("string"),
        "l_quantity": F.round(F.col("l_quantity") * 1000, 0)
        .cast("bigint")
        .cast("string"),
        "l_extendedprice": F.round(F.col("l_extendedprice") * 100, 0)
        .cast("bigint")
        .cast("string"),
        "l_returnflag": F.col("l_returnflag"),
        "l_shipdate": F.unix_millis("l_shipdate").cast("string"),
    }
    return (
        li.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("column_name"), e.alias("canon")
                        )
                        for c, e in canon.items()
                    ]
                )
            ).alias("p")
        )
        .select("p.column_name", "p.canon")
        .filter(F.col("canon").isNotNull())
    )


def _profile_buckets(unp: DataFrame) -> DataFrame:
    """(column_name, bucket, v60) register parts from a canon frame."""
    from .sketches import _W_BITS

    h = F.md5(F.col("canon"))
    return unp.select(
        "column_name",
        F.conv(F.substring(h, 1, 1), 16, 10).cast("long").alias("bucket"),
        F.conv(F.substring(h, 2, _W_BITS // 4), 16, 10)
        .cast("long")
        .alias("v60"),
    )


def _profile_approx_regs(t: dict[str, DataFrame]) -> DataFrame:
    """Pre-checkpoint (column, bucket) register frame — exposed so the
    plan gates can assert the single-scan/pruned shape below the
    barrier (see ``table_profile_approx``)."""
    from .sketches import _rho

    return (
        _profile_buckets(_profile_canon(t["lineitem"]).distinct())
        .groupBy("column_name", "bucket")
        .agg(F.max(_rho()).alias("m_j"), F.count(F.lit(1)).alias("n_vals"))
    )


def _profile_approx_oracle() -> str:
    from .sketches import HLL_ALPHA, HLL_M, _W_BITS

    canon_sql = {
        "l_orderkey": "CAST(l_orderkey AS VARCHAR)",
        "l_partkey": "CAST(l_partkey AS VARCHAR)",
        "l_quantity": "CAST(CAST(round(l_quantity * 1000, 0) AS BIGINT) AS VARCHAR)",
        "l_extendedprice": "CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS VARCHAR)",
        "l_returnflag": "l_returnflag",
        "l_shipdate": "CAST(epoch_ms(l_shipdate) AS VARCHAR)",
    }
    unp = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS column_name, {e} AS canon FROM lineitem"
        for c, e in canon_sql.items()
    )
    e_raw = (
        f"{HLL_ALPHA} * {HLL_M * HLL_M} * pow(2.0, {_W_BITS + 1}) / s"
    )
    return f"""
WITH unp AS (
{unp}
),
parts AS (
    SELECT column_name,
           CAST('0x' || substring(md5(canon), 1, 1) AS BIGINT) AS bucket,
           CAST('0x' || substring(md5(canon), 2, {_W_BITS // 4})
                AS BIGINT) AS v60
    FROM unp
    WHERE canon IS NOT NULL
),
regs AS (
    SELECT column_name, bucket,
           max(CASE WHEN v60 = 0 THEN {_W_BITS + 1}
                    ELSE {_W_BITS + 1} - length(bin(v60)) END) AS m_j
    FROM parts GROUP BY 1, 2
),
agg AS (
    SELECT column_name,
           sum(CAST(pow(2.0, {_W_BITS + 1} - m_j) AS DECIMAL(24,0)))
               AS s_present,
           count(*) AS n_regs
    FROM regs GROUP BY 1
),
est AS (
    SELECT column_name,
           CAST(s_present + ({HLL_M} - n_regs)
                * CAST(pow(2.0, {_W_BITS + 1}) AS DECIMAL(24,0))
                AS DOUBLE) AS s,
           {HLL_M} - n_regs AS v
    FROM agg
),
hll AS (
    SELECT column_name,
           round(CASE WHEN {e_raw} <= {2.5 * HLL_M} AND v > 0
                      THEN {float(HLL_M)} * ln({float(HLL_M)} / v)
                      ELSE {e_raw} END, 4) AS hll_estimate
    FROM est
),
ex AS (
    SELECT column_name, CAST(count(DISTINCT canon) AS BIGINT)
               AS n_distinct_exact
    FROM unp GROUP BY 1
)
SELECT h.column_name, ex.n_distinct_exact, h.hll_estimate,
       round(abs(h.hll_estimate - ex.n_distinct_exact)
             / ex.n_distinct_exact, 4) AS rel_err,
       round(abs(h.hll_estimate - ex.n_distinct_exact)
             / ex.n_distinct_exact, 4) <= {HLL_PROFILE_BOUND}
           AS within_bound
FROM hll h JOIN ex USING (column_name)
"""


TABLE_PROFILE_APPROX_ORACLE = _profile_approx_oracle()


# --------------------------------------------------------------------------
# Per-key z-score outlier detection (telemetry/data-quality surface —
# flag events whose value is anomalous for THAT user)
# --------------------------------------------------------------------------

Z_THRESH = 2.0


def anomaly_zscore(t: dict[str, DataFrame]) -> DataFrame:
    """Events whose value is ≥ ``Z_THRESH`` sample standard deviations
    from their user's mean.

    Parity shape: mean/variance are derived from DECIMAL(38,10) sums
    (exact, order-independent — Spark's partial-agg merge order differs
    from DuckDB's sequential scan), cast back to double only for the
    final scalar arithmetic, which is then bit-identical on both
    engines (see ``salted_event_counts`` for the decimal-sum rule).

    Scale shape: one user-keyed exchange; the window partition is
    bounded by a single user's event count, never corpus-hot. Degenerate
    users (n < 2 or zero variance) are excluded by construction.
    """
    ev = t["events"].select("event_id", "user_id", "value")
    w = Window.partitionBy("user_id")
    n = F.count(F.lit(1)).over(w)
    s1 = F.sum(F.col("value").cast("decimal(38,10)")).over(w).cast("double")
    s2 = (
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,10)"))
        .over(w)
        .cast("double")
    )
    mean = s1 / n
    var = (s2 - n * mean * mean) / (n - 1)
    z = F.round((F.col("value") - mean) / F.sqrt(var), 3)
    return (
        ev.withColumn("n", n)
        .withColumn("var", var)
        .withColumn("z", z)
        .filter((F.col("n") >= 2) & (F.col("var") > 0) & (F.abs(F.col("z")) >= Z_THRESH))
        .select("event_id", "user_id", "value", "z")
    )


ANOMALY_ZSCORE_ORACLE = f"""
WITH s AS (
    SELECT user_id,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS s1,
           CAST(sum(CAST(value * value AS DECIMAL(38,10))) AS DOUBLE) AS s2
    FROM events
    GROUP BY 1
),
z AS (
    SELECT e.event_id, e.user_id, e.value,
           round((e.value - s.s1 / s.n)
                 / sqrt((s.s2 - s.n * (s.s1 / s.n) * (s.s1 / s.n)) / (s.n - 1)),
                 3) AS z,
           s.n,
           (s.s2 - s.n * (s.s1 / s.n) * (s.s1 / s.n)) / (s.n - 1) AS var
    FROM events e JOIN s USING (user_id)
)
SELECT event_id, user_id, value, z
FROM z
WHERE n >= 2 AND var > 0 AND abs(z) >= {Z_THRESH}
"""


# --------------------------------------------------------------------------
# Z-order data layout (multi-dimensional clustering for data skipping —
# the write-side optimization that makes 100 TB scans cheap)
# --------------------------------------------------------------------------

ZORDER_BITS = 16
ZORDER_BUCKETS_SHIFT = 2 * ZORDER_BITS - 6  # 64 buckets


def _z_interleave_spark() -> str:
    """Spark SQL expression interleaving l_partkey/l_suppkey bits."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"shiftleft(shiftright(l_partkey, {i}) & 1, {2 * i + 1})")
        terms.append(f"shiftleft(shiftright(l_suppkey, {i}) & 1, {2 * i})")
    return " + ".join(terms)


def _z_interleave_duck() -> str:
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"(((l_partkey >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"(((l_suppkey >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


def zorder_layout(t: dict[str, DataFrame]) -> DataFrame:
    """Z-order-curve layout audit over lineitem (l_partkey, l_suppkey):
    interleave the two keys' bits into one locality-preserving value,
    bucket the curve, and report each bucket's min/max key ranges —
    the file-level skipping statistics a Z-ordered write would produce.

    At 100 TB the real move is ``repartitionByRange(z)`` + sorted
    parquet writes so BOTH ``WHERE l_partkey=…`` and ``WHERE
    l_suppkey=…`` prune most files from the min/max footer stats (a
    single-key sort gives ranges only for that key). This query
    computes the layout and its quality evidence declaratively: the
    z-value is a flat bit-arithmetic expression (JVM codegen, zero
    Python), the rollup is one partial-agg-friendly exchange of ≤64
    groups.
    """
    li = t["lineitem"].select("l_partkey", "l_suppkey")
    z = F.expr(_z_interleave_spark()).alias("z")
    return (
        li.select("l_partkey", "l_suppkey", z)
        .select(
            "l_partkey",
            "l_suppkey",
            F.expr(f"z div {1 << ZORDER_BUCKETS_SHIFT}").alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("min_pk"),
            F.max("l_partkey").alias("max_pk"),
            F.min("l_suppkey").alias("min_sk"),
            F.max("l_suppkey").alias("max_sk"),
        )
    )


ZORDER_LAYOUT_ORACLE = f"""
WITH z AS (
    SELECT l_partkey, l_suppkey,
           ({_z_interleave_duck()}) // {1 << ZORDER_BUCKETS_SHIFT} AS bucket
    FROM lineitem
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
       min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
       min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
FROM z
GROUP BY 1
"""


def skyline_parts(t: dict[str, DataFrame]) -> DataFrame:
    """2-D skyline (Pareto frontier) of parts: every part for which no
    other part is both cheaper-or-equal AND smaller-or-equal with at
    least one strict — the multi-objective "best tradeoffs" operator
    relational engines lack as a built-in.

    Implemented O(n log n), not O(n²): collapse to one row per price
    level (min size at that price), take the running min of size over
    STRICTLY cheaper levels (a rows-frame lag-min over the tiny level
    frame), and keep a part iff no cheaper level ties-or-beats its size
    and no same-price part strictly beats it.  The naive NOT EXISTS
    self-join — quadratic per partition at scale — is exactly what the
    ORACLE uses: an independent formulation, so the gate checks the
    algorithm, not a replay of it.  The only global structure is the
    |distinct prices| level frame (sorted once), which at 100 TB is the
    classic sort-based skyline sweep.
    """
    from pyspark.sql import Window

    p = t["part"].select("p_partkey", "p_retailprice", "p_size")
    levels = p.groupBy("p_retailprice").agg(F.min("p_size").alias("lvl_min"))
    w_prev = Window.orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    lv = levels.withColumn("prev_min", F.min("lvl_min").over(w_prev))
    return (
        p.join(lv, "p_retailprice")
        .filter(
            (F.col("prev_min").isNull() | (F.col("prev_min") > F.col("p_size")))
            & (F.col("lvl_min") >= F.col("p_size"))
        )
        .select(
            "p_partkey",
            F.col("p_retailprice").alias("price"),
            F.col("p_size").cast("long").alias("size"),
        )
    )


SKYLINE_PARTS_ORACLE = """
SELECT p.p_partkey,
       p.p_retailprice AS price,
       CAST(p.p_size AS BIGINT) AS size
FROM part p
WHERE NOT EXISTS (
    SELECT 1 FROM part q
    WHERE q.p_retailprice <= p.p_retailprice
      AND q.p_size <= p.p_size
      AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size)
)
"""


def sales_cube(t: dict[str, DataFrame]) -> DataFrame:
    """CUBE over (nation, order status): all four grouping-set levels
    in ONE pass — the companion surface to :func:`sales_rollup`'s
    hierarchy (ROLLUP emits 3 levels, CUBE emits the status-only slice
    too).  Same scale shape: Spark expands grouping sets map-side and
    partially aggregates before the single wide shuffle.
    """
    return _nation_status_sales(t, "cube")


SALES_CUBE_ORACLE = """
SELECT COALESCE(n.n_name, 'ALL') AS nation,
       COALESCE(o.o_orderstatus, 'ALL') AS status,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o.o_totalprice), 2) AS revenue,
       CAST(grouping(n.n_name) * 2 + grouping(o.o_orderstatus) AS BIGINT)
           AS gid
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY CUBE (n.n_name, o.o_orderstatus)
"""


def numeric_corr_profile(t: dict[str, DataFrame]) -> DataFrame:
    """Pairwise Pearson correlations among the lineitem measures in ONE
    scan — the data-profiling companion to :func:`table_profile`
    (schema drift that preserves types but breaks relationships shows
    up here first).

    All six correlations are aggregate expressions in a single
    HashAggregate: every partial (sums, squares, cross-products)
    combines map-side, so the exchange carries one moment row per task
    whatever the table size.
    """
    li = t["lineitem"].select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    )
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    aggs = [
        F.round(F.corr(a, b), 6).alias(f"corr_{a[2:]}_{b[2:]}")
        for i, a in enumerate(cols)
        for b in cols[i + 1 :]
    ]
    return li.agg(*aggs, F.count(F.lit(1)).cast("long").alias("n_rows"))


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
NUMERIC_CORR_PROFILE_ORACLE = (
    "SELECT "
    + ",\n       ".join(
        f"round(corr({a}, {b}), 6) AS corr_{a[2:]}_{b[2:]}"
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1 :]
    )
    + ",\n       CAST(count(*) AS BIGINT) AS n_rows\nFROM lineitem"
)


def _revenue_ranked(t: dict[str, DataFrame]) -> DataFrame:
    """Pre-checkpoint ranked per-customer revenue frame of
    :func:`revenue_concentration` — exposed so the plan gate can assert
    scan pruning below the checkpoint barrier."""
    from pyspark.sql import Window

    per_cust = (
        t["orders"]
        .select("o_custkey", "o_totalprice")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    w = Window.orderBy(F.col("rev").asc(), F.col("o_custkey").asc())
    return per_cust.select(
        F.col("rev").cast("decimal(28,10)").alias("rev"),
        F.row_number().over(w).alias("i"),
    )


def revenue_concentration(t: dict[str, DataFrame]) -> DataFrame:
    """Revenue-inequality audit over customers: the Gini coefficient
    (G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n over revenue sorted ascending)
    and the smallest customer share that carries 80% of revenue — the
    concentration numbers behind "how skewed is this key?" capacity
    planning.

    Scale shape: raw orders collapse to one row per customer FIRST
    (partial-combining aggregate), so the global sort + rank windows
    run over |customers| rows, not |orders|; sums that feed the exact
    formula are DECIMAL so rank-weighted addition is order-independent.
    """
    from pyspark.sql import Window

    # |customers| ranked rows feed both the descending cumulative and
    # the totals: checkpointed so orders is scanned (and the global
    # rank computed) once, not three times
    ranked = _revenue_ranked(t).localCheckpoint(eager=False)
    w_desc = Window.orderBy(F.col("i").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum_top = ranked.select(
        "i", F.sum("rev").over(w_desc).alias("top_rev")
    )
    totals = ranked.agg(
        F.sum(F.col("rev") * F.col("i")).alias("iws"),
        F.sum("rev").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    gini = (
        F.lit(2.0) * F.col("iws").cast("double")
        / (F.col("n") * F.col("s").cast("double"))
        - (F.col("n") + 1.0) / F.col("n")
    )
    # smallest top-k customer share with cumulative revenue ≥ 80%
    k80 = (
        cum_top.crossJoin(F.broadcast(totals.select("s", "n")))
        .filter(
            F.col("top_rev").cast("double") >= 0.8 * F.col("s").cast("double")
        )
        .agg(F.max("i").alias("max_i"), F.first("n").alias("n"))
        .select(
            F.round((F.col("n") - F.col("max_i") + 1) / F.col("n"), 4).alias(
                "pct_customers_for_80pct"
            )
        )
    )
    return (
        totals.select(
            F.col("n").cast("long").alias("n_customers"),
            F.round(gini, 6).alias("gini"),
        )
        .crossJoin(F.broadcast(k80))
    )


REVENUE_CONCENTRATION_ORACLE = """
WITH per_cust AS (
    SELECT o_custkey, round(sum(o_totalprice), 2) AS rev
    FROM orders GROUP BY 1
),
ranked AS (
    SELECT CAST(rev AS DECIMAL(28,10)) AS rev,
           row_number() OVER (ORDER BY rev ASC, o_custkey ASC) AS i
    FROM per_cust
),
totals AS (
    SELECT sum(rev * i) AS iws, sum(rev) AS s, count(*) AS n FROM ranked
),
cum_top AS (
    SELECT i,
           sum(rev) OVER (ORDER BY i DESC ROWS UNBOUNDED PRECEDING)
               AS top_rev
    FROM ranked
),
k80 AS (
    SELECT round((t.n - max(c.i) + 1.0) / t.n, 4) AS pct_customers_for_80pct
    FROM cum_top c CROSS JOIN totals t
    WHERE CAST(c.top_rev AS DOUBLE) >= 0.8 * CAST(t.s AS DOUBLE)
    GROUP BY t.n
)
SELECT CAST(t.n AS BIGINT) AS n_customers,
       round(2.0 * CAST(t.iws AS DOUBLE) / (t.n * CAST(t.s AS DOUBLE))
             - (t.n + 1.0) / t.n, 6) AS gini,
       k.pct_customers_for_80pct
FROM totals t CROSS JOIN k80 k
"""


def value_trend_regression(t: dict[str, DataFrame]) -> DataFrame:
    """Ordinary-least-squares trend of event value over time, per event
    type: slope per day, intercept, and R² via the built-in regression
    AGGREGATES (``regr_slope``/``regr_intercept``/``regr_r2``) — moment
    sums that partial-combine map-side, so the trend of a 100 TB stream
    costs one scan and a 5-row exchange, no window and no collect.

    Time is rescaled to days-since-epoch BEFORE aggregation: regression
    moments in milliseconds would subtract near-equal 1e23-magnitude
    sums and lose the slope to cancellation — the rescale is the
    numerical-stability story, not a cosmetic choice.
    """
    ev = t["events"].select(
        "event_type",
        (F.unix_millis("ts") / F.lit(86400000.0)).alias("day_x"),
        "value",
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.expr("regr_slope(value, day_x)"), 4).alias("slope_per_day"),
        F.round(F.expr("regr_intercept(value, day_x)"), 2).alias("intercept"),
        F.round(F.expr("regr_r2(value, day_x)"), 6).alias("r2"),
    )


VALUE_TREND_REGRESSION_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(regr_slope(value, epoch_ms(ts) / 86400000.0), 4)
           AS slope_per_day,
       round(regr_intercept(value, epoch_ms(ts) / 86400000.0), 2)
           AS intercept,
       round(regr_r2(value, epoch_ms(ts) / 86400000.0), 6) AS r2
FROM events
GROUP BY 1
"""


def decile_lift_table(t: dict[str, DataFrame]) -> DataFrame:
    """Customer revenue deciles: customers ranked by spend into 10
    equal-count buckets, with each decile's revenue share and the
    cumulative share — the lift table behind every "top 10% of
    customers drive X%" statement (the reporting companion to
    :func:`revenue_concentration`'s Gini scalar).

    Raw orders reduce to one row per customer first; ``ntile`` runs on
    that |customers| frame, and the decile rollup + shares are windows
    over TEN rows.  Revenue sums are DECIMAL end-to-end so bucket
    totals cannot drift with shuffle order.
    """
    from pyspark.sql import Window

    per_cust = (
        t["orders"]
        .select("o_custkey", "o_totalprice")
        .groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(28,10)")).alias("rev"))
    )
    w = Window.orderBy(F.col("rev").desc(), F.col("o_custkey").asc())
    bucketed = per_cust.withColumn("decile", F.ntile(10).over(w))
    per_decile = bucketed.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("rev").alias("drev"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return per_decile.select(
        F.col("decile").cast("long").alias("decile"),
        "n_customers",
        F.round(F.col("drev").cast("double"), 2).alias("revenue"),
        F.round(
            (F.col("drev") / F.sum("drev").over(w_all)).cast("double"), 6
        ).alias("share"),
        F.round(
            (F.sum("drev").over(w_cum) / F.sum("drev").over(w_all)).cast(
                "double"
            ),
            6,
        ).alias("cum_share"),
    )


DECILE_LIFT_TABLE_ORACLE = """
WITH per_cust AS (
    SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(28,10))) AS rev
    FROM orders GROUP BY 1
),
bucketed AS (
    SELECT rev, ntile(10) OVER (ORDER BY rev DESC, o_custkey ASC) AS decile
    FROM per_cust
),
per_decile AS (
    SELECT decile, count(*) AS n_customers, sum(rev) AS drev
    FROM bucketed GROUP BY 1
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(n_customers AS BIGINT) AS n_customers,
       round(CAST(drev AS DOUBLE), 2) AS revenue,
       round(CAST(drev / sum(drev) OVER () AS DOUBLE), 6) AS share,
       round(CAST(sum(drev) OVER (ORDER BY decile
                                  ROWS UNBOUNDED PRECEDING)
                  / sum(drev) OVER () AS DOUBLE), 6) AS cum_share
FROM per_decile
"""


def _chi_square_obs(t: dict[str, DataFrame]) -> DataFrame:
    """Pre-checkpoint contingency table of
    :func:`chi_square_independence` — exposed so the plan gate can
    assert scan pruning below the checkpoint barrier."""
    return (
        t["documents"]
        .select("lang", "source")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("o"))
    )


def chi_square_independence(t: dict[str, DataFrame]) -> DataFrame:
    """Pearson chi-square test of independence between document
    language and source: χ² = Σ (observed − expected)²/expected over
    the full contingency grid — the categorical-drift detector (a
    source that changes its language mix between snapshots moves this
    statistic first).

    The contingency table is one (lang, source) aggregate; marginals
    are two reductions of THAT table (never a second scan); the grid is
    a |langs|×|sources| broadcast cross join with zero-observed cells
    kept (they still contribute their expectation).  All counts are
    exact integers, so the statistic is deterministic to the rounding.
    """
    # |langs|×|sources| rows with five consumers (marginals, total,
    # grid join, dof): checkpointed so "never a second scan" is true in
    # the physical plan, not just the logical one
    obs = _chi_square_obs(t).localCheckpoint(eager=False)
    row = obs.groupBy("lang").agg(F.sum("o").alias("rl"))
    col = obs.groupBy("source").agg(F.sum("o").alias("cs"))
    n = obs.agg(F.sum("o").alias("n"))
    grid = (
        row.crossJoin(F.broadcast(col))
        .join(obs, ["lang", "source"], "left")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "source",
            F.coalesce("o", F.lit(0)).alias("o"),
            (F.col("rl") * F.col("cs") / F.col("n")).alias("e"),
        )
    )
    cells = grid.agg(
        F.round(
            F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")),
            4,
        ).alias("chi2"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    dof = (
        row.agg(F.count(F.lit(1)).alias("L"))
        .crossJoin(F.broadcast(col.agg(F.count(F.lit(1)).alias("S"))))
        .select(((F.col("L") - 1) * (F.col("S") - 1)).cast("long").alias("dof"))
    )
    return cells.crossJoin(F.broadcast(dof)).crossJoin(
        F.broadcast(n.select(F.col("n").cast("long").alias("n_docs")))
    )


CHI_SQUARE_INDEPENDENCE_ORACLE = """
WITH obs AS (
    SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2
),
row_t AS (SELECT lang, sum(o) AS rl FROM obs GROUP BY 1),
col_t AS (SELECT source, sum(o) AS cs FROM obs GROUP BY 1),
n_t AS (SELECT sum(o) AS n FROM obs),
grid AS (
    SELECT r.lang, c.source,
           COALESCE(ob.o, 0) AS o,
           r.rl * c.cs / n.n AS e
    FROM row_t r
    CROSS JOIN col_t c
    LEFT JOIN obs ob ON r.lang = ob.lang AND c.source = ob.source
    CROSS JOIN n_t n
)
SELECT round(sum((o - e) * (o - e) / e), 4) AS chi2,
       CAST(count(*) AS BIGINT) AS n_cells,
       (SELECT CAST((count(DISTINCT lang) - 1)
               * (SELECT count(DISTINCT source) - 1 FROM documents)
               AS BIGINT) FROM documents) AS dof,
       (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs
FROM grid
"""


KS_TYPE_A = "purchase"
KS_TYPE_B = "view"


def ks_two_sample(t: dict[str, DataFrame]) -> DataFrame:
    """Kolmogorov–Smirnov two-sample statistic between the value
    distributions of two event types: D = max |ECDF_A − ECDF_B| — the
    distribution-drift detector that catches shape changes a mean/
    variance monitor misses.

    Exact formulation: collapse to per-distinct-value counts first
    (the ECDF only steps at observed values), then ONE ordered window
    over the distinct-value frame builds both cumulative counts
    simultaneously; the ratios divide exact integers so every |diff|
    is bit-identical across engines before the max.  At 100 TB swap
    the distinct-value frame for a fixed-grid binned ECDF (same plan,
    bounded frame) — the exact form sorts |distinct values| rows.
    """
    from pyspark.sql import Window

    ev = (
        t["events"]
        .filter(F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B))
        .select(
            "value",
            F.when(F.col("event_type") == KS_TYPE_A, 1).otherwise(0).alias("a"),
            F.when(F.col("event_type") == KS_TYPE_B, 1).otherwise(0).alias("b"),
        )
    )
    per_v = ev.groupBy("value").agg(
        F.sum("a").alias("na"), F.sum("b").alias("nb")
    )
    tot = per_v.agg(F.sum("na").alias("n_a"), F.sum("nb").alias("n_b"))
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_v.select(
        F.sum("na").over(w).alias("ca"), F.sum("nb").over(w).alias("cb")
    )
    d = cum.crossJoin(F.broadcast(tot)).select(
        F.abs(
            F.col("ca") / F.col("n_a") - F.col("cb") / F.col("n_b")
        ).alias("d")
    )
    return (
        d.agg(F.round(F.max("d"), 6).alias("ks_stat"))
        .crossJoin(
            F.broadcast(
                tot.select(
                    F.col("n_a").cast("long").alias("n_a"),
                    F.col("n_b").cast("long").alias("n_b"),
                )
            )
        )
    )


KS_TWO_SAMPLE_ORACLE = f"""
WITH ev AS (
    SELECT value,
           CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END AS a,
           CASE WHEN event_type = '{KS_TYPE_B}' THEN 1 ELSE 0 END AS b
    FROM events WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
),
per_v AS (SELECT value, sum(a) AS na, sum(b) AS nb FROM ev GROUP BY 1),
tot AS (SELECT sum(na) AS n_a, sum(nb) AS n_b FROM per_v),
cum AS (
    SELECT sum(na) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS ca,
           sum(nb) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS cb
    FROM per_v
)
SELECT round(max(abs(CAST(c.ca AS DOUBLE) / t.n_a
                     - CAST(c.cb AS DOUBLE) / t.n_b)), 6) AS ks_stat,
       CAST(any_value(t.n_a) AS BIGINT) AS n_a,
       CAST(any_value(t.n_b) AS BIGINT) AS n_b
FROM cum c CROSS JOIN tot t
"""


KS_BINS = 64


def _ks_binned_per_bin(t: dict[str, DataFrame]) -> DataFrame:
    """Pre-checkpoint (bin, na, nb) frame of :func:`ks_two_sample_binned`
    — exposed so the plan gate can assert scan pruning BELOW the
    checkpoint barrier (the checkpointed query plan hides its subtree)."""
    ev = (
        t["events"]
        .filter(F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B))
        .select(
            "value",
            F.when(F.col("event_type") == KS_TYPE_A, 1).otherwise(0).alias("a"),
            F.when(F.col("event_type") == KS_TYPE_B, 1).otherwise(0).alias("b"),
        )
    )
    rng = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    binned = ev.crossJoin(F.broadcast(rng)).select(
        F.when(
            F.col("mx") > F.col("mn"),
            F.least(
                F.lit(KS_BINS - 1),
                F.floor(
                    (F.col("value") - F.col("mn"))
                    * KS_BINS
                    / (F.col("mx") - F.col("mn"))
                ),
            ),
        )
        .otherwise(0)
        .cast("long")
        .alias("bin"),
        "a",
        "b",
    )
    return binned.groupBy("bin").agg(
        F.sum("a").alias("na"), F.sum("b").alias("nb")
    )


def ks_two_sample_binned(t: dict[str, DataFrame]) -> DataFrame:
    """Binned-ECDF Kolmogorov–Smirnov statistic — the 100 TB form of
    :func:`ks_two_sample` (documented there as the swap; VERDICT r3
    item 6 asked for it as a first-class oracle-gated query).

    The exact form's ordered window sorts |distinct values| rows on one
    partition; here both ECDFs are evaluated on a fixed grid of
    ``KS_BINS`` equal-width bins over the combined range, so the
    ordered window sees ≤64 rows no matter the input size.  The map
    side is one scan + a per-row bin id; the shuffle carries ≤64×2
    counts.  D_binned ≤ D_exact (binning can only merge steps), with
    grid-resolution error bounded by the largest per-bin mass — the
    standard drift-monitor tradeoff.

    Every float expression (bin id, ratio diff) is written identically
    in the oracle SQL so IEEE doubles agree bit-for-bit.

    The ≤64-row per-bin frame (:func:`_ks_binned_per_bin`, where the
    plan gate asserts scan pruning) is lazily ``localCheckpoint``ed:
    its three consumers (totals, the cumulative window, the final
    projection) would otherwise each re-derive it from the fact scan —
    6 scans of events instead of the inherent 2 (min/max, then bins).
    """
    from pyspark.sql import Window

    per_bin = _ks_binned_per_bin(t).localCheckpoint(eager=False)
    tot = per_bin.agg(F.sum("na").alias("n_a"), F.sum("nb").alias("n_b"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_bin.select(
        F.sum("na").over(w).alias("ca"), F.sum("nb").over(w).alias("cb")
    )
    d = cum.crossJoin(F.broadcast(tot)).select(
        F.abs(F.col("ca") / F.col("n_a") - F.col("cb") / F.col("n_b")).alias("d")
    )
    return d.agg(F.round(F.max("d"), 6).alias("ks_stat_binned")).crossJoin(
        F.broadcast(
            tot.select(
                F.col("n_a").cast("long").alias("n_a"),
                F.col("n_b").cast("long").alias("n_b"),
            )
        )
    ).withColumn("n_bins", F.lit(KS_BINS).cast("long"))


KS_TWO_SAMPLE_BINNED_ORACLE = f"""
WITH ev AS (
    SELECT value,
           CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END AS a,
           CASE WHEN event_type = '{KS_TYPE_B}' THEN 1 ELSE 0 END AS b
    FROM events WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
),
rng AS (SELECT min(value) AS mn, max(value) AS mx FROM ev),
binned AS (
    SELECT CASE WHEN r.mx > r.mn
                THEN least({KS_BINS - 1},
                           CAST(floor((e.value - r.mn) * {KS_BINS}
                                      / (r.mx - r.mn)) AS BIGINT))
                ELSE 0 END AS bin,
           e.a, e.b
    FROM ev e CROSS JOIN rng r
),
per_bin AS (SELECT bin, sum(a) AS na, sum(b) AS nb FROM binned GROUP BY 1),
tot AS (SELECT sum(na) AS n_a, sum(nb) AS n_b FROM per_bin),
cum AS (
    SELECT sum(na) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS ca,
           sum(nb) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cb
    FROM per_bin
)
SELECT round(max(abs(CAST(c.ca AS DOUBLE) / t.n_a
                     - CAST(c.cb AS DOUBLE) / t.n_b)), 6) AS ks_stat_binned,
       CAST(any_value(t.n_a) AS BIGINT) AS n_a,
       CAST(any_value(t.n_b) AS BIGINT) AS n_b,
       CAST({KS_BINS} AS BIGINT) AS n_bins
FROM cum c CROSS JOIN tot t
"""


def group_size_histogram(t: dict[str, DataFrame]) -> DataFrame:
    """Distribution of order sizes (how many orders have k line items)
    — the key-skew diagnostic read before choosing a partition/salting
    strategy: a heavy tail here is exactly what blows up pair
    expansions and hot-key reducers.

    Two partial-combining aggregates back to back (per-order count,
    then per-size count) — each exchange carries pre-combined rows, and
    the second one is ≤|distinct sizes| rows total.
    """
    # The per-order frame feeds both the total and the histogram:
    # checkpoint it so the fact table is scanned and shuffled once.
    per_order = (
        t["lineitem"]
        .select("l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("k"))
        .localCheckpoint(eager=False)
    )
    tot = per_order.agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        per_order.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("k").cast("long").alias("items_per_order"),
            F.col("n").cast("long").alias("n_orders"),
            F.round(F.col("n") / F.col("n_orders"), 6).alias("frac"),
        )
    )


GROUP_SIZE_HISTOGRAM_ORACLE = """
WITH per_order AS (
    SELECT l_orderkey, count(*) AS k FROM lineitem GROUP BY 1
),
tot AS (SELECT count(*) AS n_orders FROM per_order)
SELECT CAST(p.k AS BIGINT) AS items_per_order,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(count(*) / any_value(t.n_orders), 6) AS frac
FROM per_order p CROSS JOIN tot t
GROUP BY 1
"""


# --------------------------------------------------------------------------
# RFM customer segmentation (recency / frequency / monetary quintiles).
# --------------------------------------------------------------------------

RFM_BUCKETS = 5


def rfm_segmentation(t: dict[str, DataFrame]) -> DataFrame:
    """Classic RFM scoring: per customer, last order date (recency),
    order count (frequency), and lifetime spend (monetary), each mapped
    to a 1–5 quintile via ``ntile`` and concatenated into a segment
    code like ``'545'``.

    Determinism: ntile buckets depend on ROW order, so every ORDER BY
    carries ``o_custkey`` as the tiebreak — without it, equal-frequency
    customers could land in different buckets per engine/run.  Monetary
    sums go through DECIMAL(38,10) so partial-agg merge order cannot
    produce float drift (the ``salted_event_counts`` decimal-sum rule).

    Scale shape: one customer-keyed aggregate, then three ntile windows
    over the SAME unpartitioned ordering domain — a global sort each,
    fine at per-customer cardinality (orders of magnitude below fact
    rows), and the documented swap at extreme cardinality is bucketing
    by ``approx_percentile`` cutpoints instead of exact ntile.
    """
    per_cust = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(38,10)"))
            .cast("double")
            .alias("monetary"),
        )
    )
    r_w = Window.orderBy(F.asc("last_order"), F.asc("o_custkey"))
    f_w = Window.orderBy(F.asc("frequency"), F.asc("o_custkey"))
    m_w = Window.orderBy(F.asc("monetary"), F.asc("o_custkey"))
    return (
        # ntile yields int32 in Spark but BIGINT in DuckDB: cast so the
        # driver's schema comparison agrees.
        per_cust.withColumn(
            "r_score", F.ntile(RFM_BUCKETS).over(r_w).cast("long")
        )
        .withColumn("f_score", F.ntile(RFM_BUCKETS).over(f_w).cast("long"))
        .withColumn("m_score", F.ntile(RFM_BUCKETS).over(m_w).cast("long"))
        .select(
            F.col("o_custkey").alias("cust_key"),
            "frequency",
            F.round("monetary", 2).alias("monetary"),
            "r_score",
            "f_score",
            "m_score",
            F.concat_ws(
                "", F.col("r_score"), F.col("f_score"), F.col("m_score")
            ).alias("segment"),
        )
    )


RFM_SEGMENTATION_ORACLE = f"""
WITH per_cust AS (
    SELECT o_custkey,
           max(o_orderdate) AS last_order,
           CAST(count(*) AS BIGINT) AS frequency,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE)
               AS monetary
    FROM orders
    GROUP BY 1
),
scored AS (
    SELECT o_custkey, frequency, monetary,
           ntile({RFM_BUCKETS}) OVER (ORDER BY last_order, o_custkey)
               AS r_score,
           ntile({RFM_BUCKETS}) OVER (ORDER BY frequency, o_custkey)
               AS f_score,
           ntile({RFM_BUCKETS}) OVER (ORDER BY monetary, o_custkey)
               AS m_score
    FROM per_cust
)
SELECT o_custkey AS cust_key,
       frequency,
       round(monetary, 2) AS monetary,
       r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
           || CAST(m_score AS VARCHAR) AS segment
FROM scored
"""


# --------------------------------------------------------------------------
# Robust outliers via median absolute deviation (Iglewicz–Hoaglin).
# --------------------------------------------------------------------------

MAD_CONSISTENCY = 0.6745  # Phi^-1(0.75): scales MAD to sigma for normals
MAD_THRESH = 3.5          # Iglewicz & Hoaglin's recommended cutoff


def mad_outliers(t: dict[str, DataFrame]) -> DataFrame:
    """Events whose modified z-score ``0.6745·(v − median)/MAD`` exceeds
    3.5 within their user's value distribution — the robust complement
    to :func:`anomaly_zscore`, which a single extreme value can mask
    (the outlier inflates the stddev that is supposed to expose it;
    median/MAD have a 50% breakdown point).

    Two grouped medians (value, then |value − median|) — medians don't
    compose into one aggregate, but both CAN ride unordered windows
    over the same user partitioning: ONE events scan, ONE user-keyed
    exchange, two Window passes (the groupBy-then-join-back form scans
    the fact four times).  Both engines compute exact interpolated
    medians, so results hash identically.

    Scale shape: per-user window partitions are bounded by per-user
    event counts; at 100 TB per-key cardinality swap the exact medians
    for ``approx_percentile`` exactly as documented for
    ``quantile_stats``.
    """
    w = Window.partitionBy("user_id")
    ev = t["events"].select("event_id", "user_id", "value")
    dev = ev.withColumn("med", F.median("value").over(w)).withColumn(
        "absdev", F.abs(F.col("value") - F.col("med"))
    )
    rz = F.round(
        F.lit(MAD_CONSISTENCY)
        * (F.col("value") - F.col("med"))
        / F.col("mad"),
        3,
    )
    return (
        dev.withColumn("mad", F.median("absdev").over(w))
        .withColumn("rz", rz)
        .filter((F.col("mad") > 0) & (F.abs(F.col("rz")) >= MAD_THRESH))
        .select("event_id", "user_id", "value", "rz")
    )


MAD_OUTLIERS_ORACLE = f"""
WITH med AS (
    SELECT user_id, median(value) AS med FROM events GROUP BY 1
),
dev AS (
    SELECT e.event_id, e.user_id, e.value, m.med,
           abs(e.value - m.med) AS absdev
    FROM events e JOIN med m USING (user_id)
),
mad AS (
    SELECT user_id, median(absdev) AS mad FROM dev GROUP BY 1
)
SELECT d.event_id, d.user_id, d.value,
       round({MAD_CONSISTENCY} * (d.value - d.med) / a.mad, 3) AS rz
FROM dev d JOIN mad a USING (user_id)
WHERE a.mad > 0
  AND abs(round({MAD_CONSISTENCY} * (d.value - d.med) / a.mad, 3))
      >= {MAD_THRESH}
"""
