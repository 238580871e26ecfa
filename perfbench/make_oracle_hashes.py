#!/usr/bin/env python3
"""Rebuild ``perfbench/oracle_hashes.json``: the DuckDB-oracle answer
hash of every sweep query over the benchmark's copy of the sf0.01
driver testdata.

The oracle is too slow to run on every benchmark run, so its answers
are hashed once here and stored.  Re-run only when the dataset, the
query list or an oracle SQL string changes:

    python3 perfbench/make_oracle_hashes.py [--check-spark]

``--check-spark`` also runs each query through Spark and reports any
query whose answer hash differs from the oracle's.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from perfbench.inputs import SF_DIR as sf_dir
    from perfbench.sweep import HASHES, QUERIES, answer_hash

    oracle = entrymod.oracle_sql()
    con = duckdb.connect()
    for t in os.listdir(sf_dir):
        con.execute(
            f"CREATE VIEW {t.removesuffix('.parquet')} AS "
            f"SELECT * FROM '{os.path.join(sf_dir, t)}'"
        )
    hashes = {q: answer_hash(con.execute(oracle[q]).df()) for q in QUERIES}
    bad = []
    if "--check-spark" in sys.argv:
        from perfbench.common import cores
        from kafka_streams_repartition_spark.session import get_spark

        spark = get_spark("oracle-hashes", master=f"local[{cores()}]",
                          shuffle_partitions=cores())
        queries = entrymod.queries()
        for q in QUERIES:
            got = answer_hash(queries[q](spark, sf_dir).toPandas())
            if got != hashes[q]:
                bad.append(q)
        spark.stop()
    with open(HASHES, "w") as fh:
        json.dump(hashes, fh, indent=1, sort_keys=True)
        fh.write("\n")
    if bad:
        print(f"spark answer differs from the oracle: {bad}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
