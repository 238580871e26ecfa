"""Vector math as native column expressions over ``array<float|double>``.

``zip_with`` + ``aggregate`` keep the dot product JVM-side (no Arrow
transfer, no Python). Arithmetic is promoted to double *before*
multiplying so results match a double-precision oracle bit-for-bit
(float×float is exact in double).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array(vec: Column | str) -> Column:
    c = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    return dot(a, b) / (norm_a * norm_b)


def _sql_of(c: Column) -> str:
    """The SQL rendering of a Column's expression tree (py4j
    ``toString`` of the unresolved expression) — re-parseable for every
    shape this module's callers pass (named/qualified refs, ``slice``,
    ``transform`` lambdas, literal float arrays).  Used by the unrolled
    builders to assemble a dim-term expression with ONE parser call
    instead of ~2·dim py4j round trips: building the 64-term op-chain
    measured 0.76 s of pure driver time PER EXPRESSION (the r10 scan
    unrolling silently moved whole queries' cost into plan
    construction — ann_topk_lsh spent 5–11 s per build), the parsed
    form 3.7 ms — 200×.  The string is wrapped in parens at use sites;
    a rendering the parser rejects raises when the plan is built."""
    return c._jc.toString()


def _unrolled_sum(terms) -> Column:
    """``0.0D + t1 + t2 + …`` over the SQL ``terms``, parsed once —
    left-associated in term order."""
    return F.expr("0.0D" + "".join(f" + {t}" for t in terms))


def dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Dot product unrolled to a flat expression for a known dimension.

    Higher-order functions (``zip_with``/``aggregate``) are evaluated by
    the interpreter row-at-a-time with per-row array allocation; a flat
    sum of products compiles into whole-stage codegen and runs ~10×
    faster on the 100 TB scan path. Addition is left-associated in index
    order (SQL ``+`` is left-associative) — bit-identical to the
    sequential ``aggregate`` fold and to the oracles' ordered SUM.
    """
    sa, sb = f"({_sql_of(a)})", f"({_sql_of(b)})"
    return _unrolled_sum(
        f"(element_at({sa}, {i}) * element_at({sb}, {i}))" for i in range(1, dim + 1)
    )


def dot_literal(a: Column, vals: list[float]) -> Column:
    """Dot product of a column vector with a LITERAL vector, unrolled
    with the literal inlined as one scalar per term.

    ``dot_unrolled(a, F.array(*lits), dim)`` renders the whole
    64-literal array expression once PER TERM (``element_at(array(...),
    i)``), a ~dim²-literal SQL string and expression tree — measured as
    multi-second driver-side parse/analyze cost per plan build for the
    k-center coverage scan (8 centers) and the LSH signature (8
    planes).  Inlining the scalar keeps the tree at dim terms.  Same
    left-associated addition from 0.0 and identical IEEE doubles
    (``repr`` round-trips exactly), so results are bit-identical to
    ``dot_unrolled`` against the same literal vector."""
    sa = f"({_sql_of(a)})"
    return _unrolled_sum(
        f"(element_at({sa}, {i + 1}) * CAST('{float(v)!r}' AS DOUBLE))"
        for i, v in enumerate(vals)
    )


def norm_unrolled(a: Column, dim: int) -> Column:
    return F.sqrt(dot_unrolled(a, a, dim))


def sqdist_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Squared euclidean distance, unrolled (see ``dot_unrolled``)."""
    sa, sb = f"({_sql_of(a)})", f"({_sql_of(b)})"
    return _unrolled_sum(
        f"((element_at({sa}, {i}) - element_at({sb}, {i}))"
        f" * (element_at({sa}, {i}) - element_at({sb}, {i})))"
        for i in range(1, dim + 1)
    )
