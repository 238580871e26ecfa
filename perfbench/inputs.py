"""Benchmark inputs.  The program sees only what these write, and every
size and shape comes from a figure recorded with the package:

- the reference dimensions at the reference's cardinalities (the
  package generator's ``N_USERS`` / ``N_STORES`` / ``N_PRODUCTS``,
  ``BaseOptions.java:55-58``), named, placed and priced the way the
  package's fixture generator does it (FIXTURES.md §A.1-A.3);
- a purchase-order backlog from the package's own
  ``derive_purchase_orders``: FIXTURES.md §A.4's 10,000 orders, split
  into halves for the v1 and v2 legs as in §A.6, one parquet file per
  micro-batch;
- the driver testdata at sf0.01 (TESTDATA.md: seed 42, ~60,000
  lineitem rows), a copy of which lives in ``perfbench/data/sf0.01``:
  the query sweep's tables and the curation drain's documents.  It does
  not depend on the seed: its oracle hashes are stored with the
  benchmark.

Every file a stream reads gets an explicit, increasing modification
time: the file stream source takes files in mtime order.
"""

from __future__ import annotations

import os
import shutil
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from kafka_streams_repartition_spark.sources.fixtures import ADJECTIVES, CITIES, NOUNS
from kafka_streams_repartition_spark.sources.generator import (
    N_PRODUCTS,
    N_STORES,
    N_USERS,
)

# FIXTURES.md §A.4: recommended purchase-order fixture size
BACKLOG_ORDERS = 10_000
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def _stamp(paths: list[str], base: float = 1_600_000_000.0) -> None:
    for i, p in enumerate(paths):
        os.utime(p, (base + i, base + i))


def write_files(tables: list[pa.Table], directory: str) -> list[str]:
    """One parquet file per table, mtimes increasing in list order."""
    os.makedirs(directory, exist_ok=True)
    paths = []
    for i, t in enumerate(tables):
        p = os.path.join(directory, f"part-{i:05d}.parquet")
        pq.write_table(t, p)
        paths.append(p)
    _stamp(paths)
    return paths


# --- orders-repartition ------------------------------------------------


def write_dimensions(root: str, seed: int) -> dict[str, str]:
    """Users, stores and products as parquet, the static sides of the
    stream-static joins.  Skus are the zero-padded ids the order
    generator draws, so every line item resolves."""
    rng = np.random.default_rng(seed)

    def names(n: int) -> list[str]:
        a, b = rng.integers(0, len(ADJECTIVES), n), rng.integers(0, len(NOUNS), n)
        return [f"{ADJECTIVES[x].capitalize()} {NOUNS[y].capitalize()}" for x, y in zip(a, b)]

    users = names(N_USERS)
    cities = [CITIES[int(i)] for i in rng.integers(0, len(CITIES), N_STORES)]
    cents = rng.integers(100, 10_000, N_PRODUCTS)
    tables = {
        "users": pa.table({
            "user_id": [str(i) for i in range(N_USERS)],
            "name": users,
            "email": [n.replace(" ", ".").lower() + "@foo.com" for n in users],
        }),
        "stores": pa.table({
            "store_id": [str(i) for i in range(N_STORES)],
            "name": names(N_STORES),
            "city": [c[0] for c in cities],
            "state": [c[1] for c in cities],
            "postal_code": [c[2] for c in cities],
        }),
        "products": pa.table({
            "sku": [str(i).rjust(10, "0") for i in range(N_PRODUCTS)],
            "price": pa.array(
                [Decimal(int(c)) / 100 for c in cents], type=pa.decimal128(12, 2)
            ),
        }),
    }
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(root, name)
        write_files([table], paths[name])
    return paths


def backlog_tables(spark, first_tick: int, n_files: int, per_file: int) -> tuple:
    """A purchase-order backlog of ``n_files * per_file`` orders from
    ``derive_purchase_orders`` over consecutive ticks, sliced into one
    Arrow table per micro-batch.  Returns (schema, tables)."""
    from pyspark.sql import functions as F

    from kafka_streams_repartition_spark.sources.generator import (
        derive_purchase_orders,
    )

    n = n_files * per_file
    ticks = spark.range(n).select(
        (F.col("id") + F.lit(first_tick)).alias("value"),
        F.timestamp_seconds(F.col("id") + F.lit(1_700_000_000)).alias("timestamp"),
    )
    df = derive_purchase_orders(ticks)
    table = df.toArrow().sort_by("timestamp")
    return df.schema, [table.slice(i * per_file, per_file) for i in range(n_files)]


def document_files(directory: str, seed: int, n_files: int) -> tuple[list[str], int]:
    """The sf0.01 documents in id order, cut into ``n_files`` files at
    cut points the seed picks (each file keeps at least a tenth of an
    even share).  Returns (paths, documents offered)."""
    docs = pq.read_table(os.path.join(SF_DIR, "documents.parquet"), columns=["doc_id", "text"])
    docs = docs.sort_by("doc_id")
    n = docs.num_rows
    floor = max(1, n // (10 * n_files))
    rng = np.random.default_rng(seed)
    inner = np.sort(rng.choice(np.arange(1, n - floor * n_files + 1), n_files - 1, replace=False))
    cuts = [0, *(int(c) + floor * (i + 1) for i, c in enumerate(inner)), n]
    parts = [docs.slice(a, b - a) for a, b in zip(cuts, cuts[1:])]
    return write_files(parts, directory), n


# --- query-sweep --------------------------------------------------------


def copy_sweep_tables(sf_dir: str) -> int:
    """Copies the sf0.01 tables to ``sf_dir``; returns total rows."""
    os.makedirs(sf_dir, exist_ok=True)
    rows = 0
    for name in sorted(os.listdir(SF_DIR)):
        shutil.copyfile(os.path.join(SF_DIR, name), os.path.join(sf_dir, name))
        rows += pq.ParquetFile(os.path.join(sf_dir, name)).metadata.num_rows
    return rows
