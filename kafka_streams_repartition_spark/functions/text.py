"""Text column-expression helpers (all JVM-side, codegen-friendly).

No Python UDFs here: shingling, tokenization and scoring are pure
``pyspark.sql.functions`` compositions so they stay inside whole-stage
codegen on the 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def words(text: Column | str) -> Column:
    """Lowercased whitespace tokens, empties removed."""
    c = F.col(text) if isinstance(text, str) else text
    # split never yields null elements, so dropping "" is the whole
    # filter — and array_remove runs compiled, not as an interpreted lambda
    return F.array_remove(F.split(F.lower(c), " "), "")


def word_ngrams(tokens: Column, n: int) -> Column:
    """Contiguous word n-grams (space-joined) of a token array.

    Expression-only: ``transform`` over an index ``sequence`` — the same
    shape the DuckDB oracles use, so results hash-match exactly.
    """
    idx = F.sequence(F.lit(0), F.size(tokens) - n)
    # slice+concat_ws beats n element_at lookups ~2× in the interpreted
    # HOF evaluator (one bulk copy instead of n boxed index probes)
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n))
    )
    # Guard short docs: sequence(0, negative) would DESCEND in Spark.
    return F.when(F.size(tokens) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )
