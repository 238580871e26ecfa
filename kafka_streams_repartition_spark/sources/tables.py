"""Parquet star-schema loaders for the driver testdata (TESTDATA.md).

At 100 TB these reads are the dominant cost: every operator in this repo
selects only the columns it needs so Catalyst prunes the parquet scan
(check ``ReadSchema`` in explain output), and filters are plain column
predicates so they reach ``PushedFilters``.

The loader is **session-portable**: it must work on a SparkSession it did
not build (the external driver constructs a vanilla one).  Anything the
read depends on — the nanos-timestamp legacy conf — is set here at load
time, not assumed from ``session.get_spark``.
"""

from __future__ import annotations

import os
import warnings
import weakref
from collections.abc import Iterator, Mapping

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# session → {(sf_dir, name): DataFrame}.  DataFrames are lazy plans, but
# creating one re-reads parquet footers for schema inference; a bench run
# touches 10 tables × ~30 queries, so memoize per session.  Weak keys so a
# stopped, garbage-collected session cannot alias a new one (id() reuse).
_TABLE_CACHE: weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]] = (
    weakref.WeakKeyDictionary()
)


def _ensure_read_confs(spark: SparkSession) -> None:
    """Make any session — including a vanilla one we didn't build — able
    to read the driver testdata.

    Two confs, both required for portability:

    - ``spark.sql.legacy.parquet.nanosAsLong``: some vintages of
      ``events.parquet`` store ``ts`` as INT64 TIMESTAMP(NANOS), which the
      vectorized parquet reader refuses unless this is on
      (runtime-settable); the bigint is converted back to a timestamp in
      :func:`load_table`.  Harmless when the data is micros.
    - ``spark.sql.session.timeZone=UTC``: every epoch/date computation in
      this repo (``unix_millis``, ``date_trunc``, day extraction) must
      agree with the DuckDB oracle, which treats naive parquet timestamps
      as UTC.  On a non-UTC session every such comparison would shift by
      the zone offset.  NOTE: this is a deliberate session-global
      mutation of a session we may not own — documented here because a
      host embedding this loader will see its own timestamp
      formatting/parsing switch to UTC after the first load.
    """
    try:
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        # Conf removed/renamed in some future Spark: let the read proceed
        # and surface its own error instead of masking it here.
        pass
    try:
        tz = spark.conf.get("spark.sql.session.timeZone")
        if tz != "UTC":
            # Loud on purpose: we are mutating a session we may not own,
            # and a host that later resets the zone would re-evaluate
            # the (lazy) NTZ casts under the new zone — see module doc.
            warnings.warn(
                f"load_table: overriding session timeZone {tz!r} -> 'UTC' "
                "for oracle-consistent timestamp semantics; do not reset "
                "it while loaded frames are alive",
                stacklevel=3,
            )
            spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    per_session = _TABLE_CACHE.setdefault(spark, {})
    key = (sf_dir, name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    _ensure_read_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = _normalize_timestamps(spark.read.parquet(path), path)
    per_session[key] = df
    return df


def _normalize_timestamps(df: DataFrame, path: str) -> DataFrame:
    """Land every timestamp-ish column on ``TimestampType`` whatever the
    parquet logical type of the current data vintage.

    The driver regenerates testdata between rounds and has already
    shipped two encodings for ``events.ts`` — TIMESTAMP(NANOS) (read as
    ``bigint`` under ``nanosAsLong``, round 1) and naive
    TIMESTAMP(MICROS) (read as ``timestamp_ntz``, round 2); the round-2
    switch erred 12 driver-graded queries at analysis time.  Normalizing
    on the OBSERVED types rather than a remembered vintage means nanos,
    NTZ, and LTZ all behave identically downstream, for ALL tables
    (``lineitem.l_shipdate`` / ``orders.o_orderdate`` are naive micros
    today and could drift the same way).

    - ``timestamp_ntz`` → ``cast("timestamp")``.  With the session tz
      pinned to UTC in :func:`_ensure_read_confs` this is a zero-shift
      relabel, matching DuckDB's naive-as-UTC reading.
    - nanos-as-``bigint``: a bare bigint is indistinguishable from a key
      column in the Spark schema, so consult the parquet footer (a
      pyarrow metadata read, no data scan) and convert exactly the
      columns whose arrow type is ``timestamp[ns]``; truncate to micros
      with integer division (doubles would lose precision above 2^53 ns).
    """
    from pyspark.sql import functions as F

    dtypes = dict(df.dtypes)
    for col, dt in dtypes.items():
        if dt == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    bigint_cols = [c for c, dt in dtypes.items() if dt == "bigint"]
    if bigint_cols:
        for col in _nanos_columns(path, bigint_cols):
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    return df


def _nanos_columns(path: str, candidates: list[str]) -> list[str]:
    """Which of ``candidates`` are TIMESTAMP(NANOS) per the parquet
    footer?  Best-effort: an unreadable footer (or a directory layout we
    don't recognize) returns [] and the bigint passes through untouched,
    surfacing downstream instead of being mis-cast here."""
    try:
        import glob

        import pyarrow.parquet as pq

        if os.path.isdir(path):
            files = sorted(glob.glob(os.path.join(path, "*.parquet")))
            if not files:
                return []
            path = files[0]
        schema = pq.read_schema(path)
        out = []
        for field in schema:
            t = field.type
            if (
                field.name in candidates
                and getattr(t, "unit", None) == "ns"
                and str(t).startswith("timestamp")
            ):
                out.append(field.name)
        return out
    except Exception:
        return []


class LazyTables(Mapping):
    """Mapping of table name → DataFrame that loads on first access.

    Queries index only the tables they touch, so one unreadable file
    degrades one query instead of erroring the whole suite (round-1
    failure mode: eager loading let a bad ``events.parquet`` kill all 32
    queries).
    """

    __slots__ = ("_spark", "_sf_dir")

    def __init__(self, spark: SparkSession, sf_dir: str) -> None:
        self._spark = spark
        self._sf_dir = sf_dir

    @property
    def sf_dir(self) -> str:
        """Dataset root — lets metadata-aware operators (e.g. the
        one-pass histogram sketch) read parquet footer statistics for
        the tables they are about to scan."""
        return self._sf_dir

    def __getitem__(self, name: str) -> DataFrame:
        if name not in TABLE_NAMES:
            raise KeyError(name)
        return load_table(self._spark, self._sf_dir, name)

    def __iter__(self) -> Iterator[str]:
        return iter(TABLE_NAMES)

    def __len__(self) -> int:
        return len(TABLE_NAMES)


def load_tables(spark: SparkSession, sf_dir: str) -> Mapping[str, DataFrame]:
    """Lazy per-table accessor (see :class:`LazyTables`)."""
    return LazyTables(spark, sf_dir)


# DataFrame → observed scan partition count (see fan_out).  PySpark
# DataFrames hash by identity (no __eq__/__hash__ override), so this is
# an identity-keyed memo that drops entries when frames are collected.
_FANOUT_PROBE: weakref.WeakKeyDictionary[DataFrame, int] = weakref.WeakKeyDictionary()
_fanout_probe_count = 0  # test hook: number of actual plan→RDD probes


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Hash-repartition iff the scan yielded fewer partitions than cores.

    A single small parquet file (one row group) scans as ONE partition,
    serializing per-row-heavy work (hashing, shingling, vector math).
    At cluster scale inputs arrive in many splits and this is a no-op;
    locally it costs one small shuffle before the expensive map work.

    The probe must look at the ACTUAL scan partitioning
    (``df.rdd.getNumPartitions()`` — a plan→RDD conversion, not a job).
    A conf check on ``spark.sql.files.minPartitionNum`` is not enough:
    parquet assigns all rows of a row group to the split holding its
    midpoint, so a single-row-group file still scans as one non-empty
    partition no matter how many byte-range splits the conf requests
    (measured: skipping the probe serialized shingling/hashing and cost
    3-9x on every per-row-heavy query at sf0.1).

    On a real cluster the inputs arrive in many splits, the probe sees
    at least ``target`` partitions and ``fan_out`` returns ``df``
    unchanged; the probe itself is one memoized plan→RDD conversion
    per frame.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    # Memoize the probe per DataFrame object: load_table hands out the
    # SAME frame for a (session, path) for the session's lifetime, so a
    # bench run probing 10 tables x ~30 queries would otherwise repeat
    # the plan->RDD conversion on every query build.  Weak keys: derived
    # frames passed here die with their callers, nothing leaks.
    n = _FANOUT_PROBE.get(df)
    if n is None:
        global _fanout_probe_count
        _fanout_probe_count += 1
        n = df.rdd.getNumPartitions()
        _FANOUT_PROBE[df] = n
    if n < target:
        return df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql use."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
