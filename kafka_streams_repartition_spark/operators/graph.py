"""Iterative graph analytics over relational inputs.

``pagerank_copurchase`` ranks products by PageRank (Page et al. 1999)
over the co-purchase graph — parts are nodes, orders contribute an
edge between every pair of parts they contain. The third iterative
algorithm in the repo (after Lloyd's k-means and connected-components
label propagation), and like those it is fully declarative: a fixed
power-iteration budget, each step one join + one aggregation, the
DuckDB oracle replaying the same unrolled iterations bit-for-bit.

Determinism across engines: ranks are ``round(..., 12)`` after every
iteration — both engines re-synchronize at 12 decimals, so shuffle-
order double addition (~1e-16 relative) can never accumulate into a
visible divergence; the contribution term keeps the oracle's exact
association ``(r * w) / ow``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_DAMPING = 0.85
PR_ITER = 2
# Scope the graph to the most recent season: a co-purchase graph is a
# windowed artifact (stale co-occurrence is noise), and the date
# predicate pushes to the parquet scan.
PR_SINCE = "2001-01-01"


def _order_parts_since(t: dict[str, DataFrame], since: str) -> DataFrame:
    """The distinct (l_orderkey, l_partkey) of lines shipped on or
    after ``since``."""
    return (
        t["lineitem"]
        .filter(F.col("l_shipdate") >= F.lit(since))
        .select("l_orderkey", "l_partkey")
        .distinct()
    )


def _copurchase_pairs(order_parts: DataFrame) -> DataFrame:
    """(src, dst) for every ordered pair of parts of each order in the
    distinct (l_orderkey, l_partkey) frame, self-pairs included — the
    map-side pair expansion shared by :func:`pagerank_copurchase`,
    :func:`triangle_count` and :func:`basket_rules`; fan-out is bounded
    by each order's item count squared."""
    per_order = order_parts.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    return per_order.select(
        F.explode_outer(
            F.flatten(
                F.transform(
                    "ps",
                    lambda a: F.transform(
                        "ps",
                        lambda b: F.struct(a.alias("src"), b.alias("dst")),
                    ),
                )
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def pagerank_copurchase(t: dict[str, DataFrame]) -> DataFrame:
    """PageRank over the product co-purchase graph.

    Scale shape: pair expansion is MAP-SIDE (per-order part sets →
    ordered pairs via nested ``transform``; fan-out bounded by the
    order's item count squared, never corpus-wide); the edge list and
    per-iteration rank tables are ``localCheckpoint``ed so iteration
    i's plan is one join deep. Every iteration is edges ⋈ ranks on src
    (co-partitioned with the groupBy(dst) that follows at cluster
    scale) + one keyed aggregation whose partial sums combine
    map-side. Ranks are O(|nodes|) — tiny next to edges — and the
    damping/size constants ride a 1-row broadcast.
    """
    pairs = _copurchase_pairs(_order_parts_since(t, PR_SINCE)).filter(
        F.col("src") != F.col("dst")
    )
    edges = pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("double").alias("w")
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    # The ONE materialization: edge + out-weight in a single checkpointed
    # table. Everything downstream (node list, size constant, and every
    # power iteration) reads this; without it each iteration re-built
    # the pair expansion + two aggregations (measured 3x the query).
    contrib = (
        edges.join(outw, "src")
        .select("src", "dst", "w", "ow")
        .localCheckpoint(eager=False)
    )
    nodes = contrib.select(F.col("src").alias("node")).distinct()
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(PR_ITER):
        ranks = (
            contrib.join(ranks, contrib["src"] == ranks["node"])
            .crossJoin(F.broadcast(nn))
            .groupBy("dst")
            .agg(
                F.round(
                    F.lit(1.0 - PR_DAMPING) / F.first("n")
                    + F.lit(PR_DAMPING)
                    * F.sum(F.col("r") * F.col("w") / F.col("ow")),
                    12,
                ).alias("r")
            )
            .select(F.col("dst").alias("node"), "r")
            .localCheckpoint(eager=False)
        )
    return ranks.select(
        F.col("node").alias("part_id"), F.round("r", 6).alias("pagerank")
    )


def _pagerank_oracle() -> str:
    step = """
it{i} AS (
    SELECT e.dst AS node,
           round({base} / any_value(nn.n)
                 + {d} * sum(r.r * e.w / o.ow), 12) AS r
    FROM edges e
    JOIN it{prev} r ON e.src = r.node
    JOIN outw o ON e.src = o.src
    CROSS JOIN nn
    GROUP BY 1
)"""
    parts = [
        """
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '{since} 00:00:00'),
edges AS (
    SELECT a.l_partkey AS src, b.l_partkey AS dst,
           CAST(count(*) AS DOUBLE) AS w
    FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey != b.l_partkey
    GROUP BY 1, 2
),
outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY 1),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM outw),
it0 AS (SELECT o.src AS node, 1.0 / nn.n AS r FROM outw o CROSS JOIN nn)"""
    ]
    for i in range(1, PR_ITER + 1):
        parts.append(
            step.format(
                i=i, prev=i - 1, base=1.0 - PR_DAMPING, d=PR_DAMPING
            )
        )
    return (
        ",".join(parts).replace("{since}", PR_SINCE)
        + f"\nSELECT node AS part_id, round(r, 6) AS pagerank FROM it{PR_ITER}"
    )


PAGERANK_COPURCHASE_ORACLE = _pagerank_oracle()


# --- triangle counting ------------------------------------------------------

TRI_SINCE = "2000-01-01"  # wider window than PageRank: triangles need density
TRI_MIN_W = 1  # the density knob: raise to keep only repeat co-purchases


def triangle_count(t: dict[str, DataFrame]) -> DataFrame:
    """Global triangle census of the strong co-purchase graph: edge
    count, triangle count, and global clustering coefficient
    (3·triangles / wedges).

    Scale shape: pair expansion is the same bounded map-side transform
    as :func:`pagerank_copurchase`; the ``src < dst`` orientation makes
    every undirected edge ONE row and counts each triangle exactly once
    via the (a<b<c) closure join — no post-hoc ``/6`` dedup, so the
    joins never materialize the 6 permutations.  The weight floor
    (TRI_MIN_W) is the density knob: a raw co-purchase graph at 100 TB
    has hub parts whose wedge sets explode quadratically; thresholding
    (or the standard refinement, orienting low-degree → high-degree)
    bounds the wedge side before any join.  Wedges for the coefficient
    come from per-node degrees — an O(|nodes|) frame, no join.
    """
    pairs = _copurchase_pairs(_order_parts_since(t, TRI_SINCE)).filter(
        F.col("src") < F.col("dst")
    )
    edges = (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= TRI_MIN_W)
        .select("src", "dst")
        .localCheckpoint(eager=False)
    )
    # wedges a<b<c via (a,b)⋈(b,c), closed by the (a,c) edge
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = edges.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"], "left_semi")
    n_tri = tri.agg(F.count(F.lit(1)).alias("n")).select(
        F.col("n").alias("n_triangles")
    )
    n_edge = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("double").alias("n_wedges")
    )
    return (
        n_edge.crossJoin(n_tri)
        .crossJoin(wedges)
        .select(
            "n_edges",
            "n_triangles",
            F.round(
                F.when(F.col("n_wedges") > 0, 3.0 * F.col("n_triangles") / F.col("n_wedges"))
                .otherwise(F.lit(0.0)),
                6,
            ).alias("global_cc"),
        )
    )


TRIANGLE_COUNT_ORACLE = f"""
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '{TRI_SINCE} 00:00:00'),
edges AS (
    SELECT a.l_partkey AS src, b.l_partkey AS dst
    FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= {TRI_MIN_W}
),
tri AS (
    SELECT count(*) AS n_triangles
    FROM edges e1
    JOIN edges e2 ON e1.dst = e2.src
    WHERE EXISTS (SELECT 1 FROM edges e3
                  WHERE e3.src = e1.src AND e3.dst = e2.dst)
),
deg AS (
    SELECT node, count(*) AS dg FROM (
        SELECT src AS node FROM edges
        UNION ALL
        SELECT dst AS node FROM edges
    ) GROUP BY 1
),
w AS (SELECT CAST(sum(dg * (dg - 1) / 2) AS DOUBLE) AS n_wedges FROM deg)
SELECT (SELECT count(*) FROM edges) AS n_edges,
       t.n_triangles,
       round(CASE WHEN w.n_wedges > 0
                  THEN 3.0 * t.n_triangles / w.n_wedges
                  ELSE 0.0 END, 6) AS global_cc
FROM tri t CROSS JOIN w
"""


# --- association rules ------------------------------------------------------

BASKET_MIN_PAIR = 2  # minimum co-occurrence count (support floor)
BASKET_TOP = 20


def basket_rules(t: dict[str, DataFrame]) -> DataFrame:
    """Market-basket association rules over orders: for every part pair
    (a < b) co-purchased at least BASKET_MIN_PAIR times, report support,
    confidence in both directions, and lift — the classic data-mining
    surface (Agrawal & Srikant 1994) the reference's DSL cannot express.

    Scale shape: pair expansion is the bounded map-side transform shared
    with :func:`pagerank_copurchase`; item counts are one partial-
    combining aggregate over the distinct (order, part) frame; the pair
    table joins the item-count table twice (dimension-sized — Spark
    broadcasts it), and the top-N is ``TakeOrderedAndProject``.  Lift is
    computed with the identical association on both engines
    ``(c_ab * n) / (c_a * c_b)`` from exact integer counts, so ordering
    is deterministic across engines.
    """
    # the distinct (order, part) frame feeds three consumers (order
    # count, item counts, basket build): checkpointed so lineitem is
    # scanned and deduped once
    d = (
        t["lineitem"]
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_orders = d.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    item = d.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c_item"))
    pairs = (
        _copurchase_pairs(d)
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= BASKET_MIN_PAIR)
    )
    joined = (
        pairs.join(
            item.select(F.col("l_partkey").alias("src"), F.col("c_item").alias("c_a")),
            "src",
        )
        .join(
            item.select(F.col("l_partkey").alias("dst"), F.col("c_item").alias("c_b")),
            "dst",
        )
        .crossJoin(F.broadcast(n_orders))
    )
    lift = (F.col("c_ab").cast("double") * F.col("n")) / (
        F.col("c_a") * F.col("c_b")
    )
    return (
        joined.select(
            "src",
            "dst",
            F.col("c_ab").cast("long").alias("c_ab"),
            F.round(F.col("c_ab") / F.col("n"), 6).alias("support"),
            F.round(F.col("c_ab") / F.col("c_a"), 6).alias("conf_a_to_b"),
            F.round(F.col("c_ab") / F.col("c_b"), 6).alias("conf_b_to_a"),
            F.round(lift, 4).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("src"), F.col("dst"))
        .limit(BASKET_TOP)
    )


BASKET_RULES_ORACLE = f"""
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM d),
item AS (SELECT l_partkey, count(*) AS c_item FROM d GROUP BY 1),
pairs AS (
    SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS c_ab
    FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= {BASKET_MIN_PAIR}
)
SELECT p.src, p.dst,
       CAST(p.c_ab AS BIGINT) AS c_ab,
       round(p.c_ab / n.n, 6) AS support,
       round(p.c_ab / ia.c_item, 6) AS conf_a_to_b,
       round(p.c_ab / ib.c_item, 6) AS conf_b_to_a,
       round((CAST(p.c_ab AS DOUBLE) * n.n) / (ia.c_item * ib.c_item), 4)
           AS lift
FROM pairs p
JOIN item ia ON p.src = ia.l_partkey
JOIN item ib ON p.dst = ib.l_partkey
CROSS JOIN n_orders n
ORDER BY lift DESC, p.src, p.dst
LIMIT {BASKET_TOP}
"""
