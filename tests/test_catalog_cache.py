"""Warm-session reuse: the parquet schema cache in ``catalog.read_parquet``
and the codegen class cache sized in ``session.get_session``; and the
session's default parallelism."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_DIR
from crypto_market_tracker_etl_spark.catalog import load_table
from crypto_market_tracker_etl_spark.session import default_parallelism

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jobs_launched(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` launches from this thread."""
    sc = spark.sparkContext
    group = f"catalog-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_load_of_unchanged_file_launches_no_job(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), tmp_path / "t.parquet")
    assert _jobs_launched(spark, lambda: load_table(spark, str(tmp_path), "t")) >= 1
    assert _jobs_launched(spark, lambda: load_table(spark, str(tmp_path), "t")) == 0
    for name in ("orders", "events"):
        load_table(spark, SF_DIR, name)
        assert _jobs_launched(spark, lambda: load_table(spark, SF_DIR, name)) == 0


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    pq.write_table(pa.table({"k": [1, 2], "extra": ["x", "y"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "extra"]
    assert sorted(map(tuple, df.collect())) == [(1, "x"), (2, "y")]


def test_missing_table_still_raises_path_not_found(spark, tmp_path):
    from pyspark.errors import AnalysisException

    for _ in range(2):
        with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
            load_table(spark, str(tmp_path), "absent")


def test_two_loads_self_join_without_ambiguity(spark):
    a = load_table(spark, SF_DIR, "orders")
    b = load_table(spark, SF_DIR, "orders")
    got = (
        a.join(b, a["o_custkey"] == b["o_custkey"])
        .where(a["o_orderkey"] < b["o_orderkey"])
        .select(a["o_orderkey"].alias("x"), b["o_orderkey"].alias("y"))
    )
    pdf = pd.read_parquet(f"{SF_DIR}/orders.parquet", columns=["o_orderkey", "o_custkey"])
    m = pdf.merge(pdf, on="o_custkey")
    want = sorted(
        zip(m.o_orderkey_x[m.o_orderkey_x < m.o_orderkey_y],
            m.o_orderkey_y[m.o_orderkey_x < m.o_orderkey_y])
    )
    assert sorted(map(tuple, got.collect())) == want
    assert want  # the join has rows to compare


def test_events_ts_stays_a_timestamp(spark):
    for _ in range(2):
        ts_type = dict(load_table(spark, SF_DIR, "events").dtypes)["ts"]
        assert ts_type in ("timestamp", "timestamp_ntz")


def test_nanos_events_read_through_cached_schema(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file reads as bigint under the cached
    schema and converts ns→µs by truncation, on the first and later loads."""
    ns = [1_704_067_200_123_456_789, 1_704_067_201_000_000_999]
    tbl = pa.table({"event_id": [0, 1], "ts": pa.array(ns, pa.timestamp("ns"))})
    pq.write_table(tbl, tmp_path / "events.parquet", version="2.6")
    want = pd.to_datetime([v // 1000 * 1000 for v in ns]).to_pydatetime().tolist()
    for _ in range(2):
        df = load_table(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        assert [r.ts for r in df.orderBy("event_id").collect()] == want
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type == pa.timestamp("ns")


# Runs in its own JVM: the codegen cache is JVM-wide, and earlier tests in
# this session have already compiled many of the same classes.
_CODEGEN_PASSES = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from crypto_market_tracker_etl_spark.session import get_session
from crypto_market_tracker_etl_spark.queries import queries
from perfbench.workloads import MARKET_QUERIES

spark = get_session(app_name="codegen-cache-test", master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
registry = queries()
counts = []
for _ in range(2):
    before = compiles.getCount()
    for name in MARKET_QUERIES:
        registry[name](spark, sys.argv[2]).toPandas()
    counts.append(compiles.getCount() - before)
spark.stop()
print(json.dumps(counts))
"""


def test_warm_market_pass_reuses_compiled_classes():
    """One pass of the market_views queries compiles more units than Spark's
    default cache holds (100), so at the default the LRU cache evicts every
    class before its next use. With the engine's cap the second pass
    compiles at most a tenth of the first."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _CODEGEN_PASSES, REPO, SF_DIR],
        capture_output=True, text=True, env=env, timeout=600, check=True,
    ).stdout
    first, second = json.loads(out.strip().splitlines()[-1])
    assert first > 100, (first, second)
    assert second <= 0.1 * first, (first, second)


def test_default_parallelism_falls_back_to_cpu_affinity(monkeypatch):
    """Without ``SPARK_GRAFT_CPUS`` a session gets one local thread per CPU
    this process may run on, not a fixed count; the variable overrides it."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3
