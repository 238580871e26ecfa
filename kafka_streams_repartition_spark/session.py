"""SparkSession factory.

Defaults are chosen for the local[32] test harness but every knob is the
one you would also set on a 1000-executor cluster:

- AQE on (runtime coalesce, skew-join splitting) — replaces the reference's
  fixed 4/8 partition counts (``BuildSystem.java:39-40``): partition counts
  become a runtime decision, which is the whole v1→v2 migration pain the
  reference demonstrates, solved by the engine.
- Arrow on for the few pandas-UDF paths (multimodal decode).
- RocksDB state store provider for streaming state (the reference's state
  is RocksDB too, ``streams/build.gradle``).
- Broadcast threshold left at default; operators use explicit
  ``broadcast()`` hints where the reference uses a GlobalKTable.
- Generated-code cache of 2000 classes, so a warm query compiles
  (almost) nothing. Spark's default of 100 is split over 4 Guava
  segments that each evict at about 25, below the measured working
  sets: a perfbench ``query-sweep`` run compiles 212 distinct classes
  and an ``orders-repartition`` run 106, so every warm pass recompiled
  its own. One ``bench.py`` registry pass at sf0.01 compiles 3,841
  distinct classes; 2000 does not hold all of them (the pass compiles
  125 more than with an unbounded cache, 3%), but each query's warm
  repeats still find theirs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "kafka-streams-repartition-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Split file scans down to core count when row groups allow —
        # on a real cluster files are many and this is moot.
        .config("spark.sql.files.minPartitionNum", cpus)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Streaming state: RocksDB, like the reference's stores
        # (SURVEY §2.10); harmless for batch.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # The driver testdata writes events.ts as TIMESTAMP(NANOS), which
        # parquet-mr refuses by default; read as long and convert in the
        # loader (sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Static conf: hold every generated class of a warm working set so a
        # repeated plan is never recompiled (see the module docstring).
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
