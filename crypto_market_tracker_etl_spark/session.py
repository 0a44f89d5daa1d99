"""SparkSession factory with defaults tuned for both local tests and scale.

The reference delegates all execution to Postgres (SURVEY.md §4); here the
equivalent "engine configuration" is a SparkSession whose defaults keep plans
declarative and scale-safe:

- AQE on (runtime re-plan: skew joins, partition coalescing),
- UTC session timezone (deterministic timestamp semantics vs the oracle),
- Arrow for any pandas exchange (vectorized, never row-at-a-time),
- shuffle partitions sized from the environment (``SPARK_GRAFT_CPUS``, else
  the process's CPU affinity locally; on a real cluster this should be
  ~2-3× total cores or left to AQE's coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Spark keeps the classes Janino compiles for generated code in a JVM-wide
# LRU cache of spark.sql.codegen.cache.maxEntries entries (default 100). A
# pass that cycles through more entries than that evicts every class before
# its next use, so a warm session recompiles every query it re-runs.
# Measured on local[4], sf0.01: one pass of the full 188-query registry
# compiles 2400 distinct units (6014 classes) into an unbounded cache, and a
# second pass compiles 111 (units that embed per-run values); at the default
# of 100 the first pass alone compiles 3456. The 19 market views compile
# about 230 units per pass. 4096 holds a whole registry pass with ~70%
# headroom; retaining it cost ~21 MB of metaspace (214 vs 193 MB after the
# pass).
CODEGEN_CACHE_MAX_ENTRIES = 4096


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the CPUs this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def get_session(
    app_name: str = "crypto-market-tracker-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # local-mode JVM heap: pyspark launches the gateway JVM with
        # spark.driver.memory, which otherwise defaults to 1g — with 32
        # executor threads sharing one heap that OOMs under iterative
        # workloads (observed: pagerank during a min-of-3 bench sweep).
        # Only effective at JVM launch; a getOrCreate against an existing
        # JVM ignores it, which is why tune_for_testdata doesn't set it.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # max_by/min_by/collect_* are ObjectHashAggregate; the default
        # 128-group fallback degrades them to sort-based aggregation on any
        # realistic key cardinality (measured 2× on 50M-row OHLC). Budget:
        # ~100 B/group/task — 1M groups ≈ 100 MB per task, fine for multi-GB
        # executors.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
        # some testdata rounds ship events.parquet as TIMESTAMP(NANOS); Spark
        # has no ns type, so read as long and convert (see catalog.load_table;
        # harmless when the file is already µs).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # MERGE-style writers rewrite only touched partitions.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Long-session hygiene (r12 opt round): the ContextCleaner only
        # reclaims shuffle files / broadcast blocks when the driver GCs,
        # and a large-heap driver can run hundreds of queries between
        # full GCs (aging probe: 271 stale shuffle files before a forced
        # GC, 67 after). A 10-minute periodic GC bounds that debt at any
        # scale — this is the knob's documented purpose, not a
        # local-mode tune (default 30min).
        .config("spark.cleaner.periodicGC.interval", "10min")
        # static conf: only read when the session is created
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_for_testdata(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable configs this engine relies on to a
    session we did not create (e.g. the verification driver's).

    Safe to call repeatedly; every conf here is session-scoped.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    return spark
