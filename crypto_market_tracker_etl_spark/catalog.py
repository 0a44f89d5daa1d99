"""Table catalog: schemas and loaders for the reference data model and the
driver's synthetic testdata.

Reference data model (assets / prices / daily_metrics — see
``/root/reference/sql/schema.sql:4-36``) is declared as StructTypes so the
write path (operators.upsert) and ingestion (sources.rest) share one schema
source of truth. Testdata tables (TESTDATA.md) are loaded from parquet.

A nuance this module owns: the driver has shipped ``events.parquet`` with two
``ts`` encodings across rounds — TIMESTAMP(NANOS) (which Spark's Parquet
reader rejects outright) and native µs timestamp. For the nanos case we read
with ``spark.sql.legacy.parquet.nanosAsLong=true`` (scan-level,
pushdown-safe) and convert ns→µs with integer division — the same truncation
DuckDB applies casting TIMESTAMP_NS to TIMESTAMP — so oracle comparisons line
up exactly either way. ``load_table`` branches on the observed dtype.

Schema cache: ``spark.read.parquet(path)`` launches a Spark job that infers
the schema from the file footers, on every call. A dashboard session re-builds
the same views over the same files all the time, so ``read_parquet`` infers
each file's ``StructType`` once and reads with ``spark.read.schema(s)``, which
launches no job. The cache key is the absolute path, the file's
``st_mtime_ns`` and ``st_size``, and the ``nanosAsLong`` setting (it decides
whether a TIMESTAMP(NANOS) column infers as bigint): a file rewritten at the
same path, or read under the other setting, is inferred afresh. Only the
schema is cached, never the DataFrame: two loads of one table stay
independent relations with their own attribute ids, so a self-join of them
resolves without ambiguity. A path ``os.stat`` cannot see (a remote URI, or a
missing file, which raises Spark's PATH_NOT_FOUND) is inferred on every call.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import tune_for_testdata

TESTDATA_TABLES = (
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
)

# epoch-anchored ns→µs conversion; TIMESTAMP_NTZ matches DuckDB's naive
# TIMESTAMP and is independent of the session timezone.
_NS_LONG_TO_TS = (
    "timestampadd(MICROSECOND, {col} div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
)


# --- Reference data model schemas (mirrors sql/schema.sql of the reference) ---

ASSETS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.StringType(), False),
        T.StructField("symbol", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("first_seen_at", T.TimestampType(), True),
    ]
)

PRICES_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("price", T.DoubleType(), False),
        T.StructField("market_cap", T.DoubleType(), True),
        T.StructField("volume", T.DoubleType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("inserted_at", T.TimestampType(), True),
    ]
)

DAILY_METRICS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.StringType(), False),
        T.StructField("date", T.DateType(), False),
        T.StructField("open", T.DoubleType(), True),
        T.StructField("high", T.DoubleType(), True),
        T.StructField("low", T.DoubleType(), True),
        T.StructField("close", T.DoubleType(), True),
        T.StructField("volume", T.DoubleType(), True),
        T.StructField("market_cap", T.DoubleType(), True),
        T.StructField("inserted_at", T.TimestampType(), True),
    ]
)


@functools.lru_cache(maxsize=256)
def _schema_slot(path: str, mtime_ns: int, size: int, nanos_as_long: str) -> list:
    """One cache entry per key, empty until ``read_parquet`` fills it. The
    session stays out of the key, so an entry serves every session."""
    return []


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema inferred once per version
    of the file (see the module docstring for the key)."""
    try:
        st = os.stat(path)
    except OSError:
        schema = spark.read.parquet(path).schema
    else:
        nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
        slot = _schema_slot(os.path.abspath(path), st.st_mtime_ns, st.st_size, nanos)
        if not slot:
            slot.append(spark.read.parquet(path).schema)
        schema = slot[0]
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing types for engine use."""
    tune_for_testdata(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr(_NS_LONG_TO_TS.format(col="ts")))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_temp_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> None:
    """Expose testdata as temp views so ``spark.sql`` works alongside the
    DataFrame API (the reference's query surface is SQL views)."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
