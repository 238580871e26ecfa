"""Session-level costs that a query's own tests cannot see: a warm
query must reuse the generated classes its first call compiled."""

from __future__ import annotations

import __spark_entry__ as entrymod
from bench import _codegen_compiles

# perfbench's query-sweep set: about 160 generated classes per pass
WARM_SET = ("pickup_order_summary", "restore_merge", "cluster_purity",
            "bm25_search")
# Compiles per pass at sf0.001 on a 4-core host: [186, 12, 8, 6, 0, 0]
# and [186, 8, 14, 6, 2] with the session's 2000-entry codegen cache
# (a few plans still change shape between warm calls);
# [189, 158, 159] with Spark's default of 100, whose four cache
# segments evict at about 25 classes each and so drop a pass's own
# classes before it repeats.
WARM_PASS_COMPILE_BOUND = 50


def test_warm_pass_reuses_generated_classes(spark, sf_dir):
    """Three passes over the warm set through the noop sink: the first
    compiles and fills the memos, the second may still meet a new plan
    shape, the third must find nearly all its classes in the cache."""
    queries = entrymod.queries()
    per_pass = []
    for _ in range(3):
        before = _codegen_compiles(spark)
        for name in WARM_SET:
            queries[name](spark, sf_dir).write.mode("overwrite").format(
                "noop").save()
        per_pass.append(_codegen_compiles(spark) - before)
    assert per_pass[2] < WARM_PASS_COMPILE_BOUND, per_pass
