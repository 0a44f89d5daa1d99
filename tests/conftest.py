"""Shared fixtures: one local SparkSession, a DuckDB oracle connection, and
the parity comparator that mirrors the driver's correctness gate."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crypto_market_tracker_etl_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def await_drain(query, timeout: float) -> None:
    """Wait for an ``availableNow`` streaming query: assert that it
    terminated within ``timeout`` seconds (a drain that hangs must fail,
    not pass on whatever output it wrote so far), and stop it either way.
    A query that failed raises from ``awaitTermination`` itself."""
    try:
        assert query.awaitTermination(timeout), (
            f"streaming query {query.id} still active after {timeout} s"
        )
    finally:
        query.stop()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-style normalization: columns sorted by name, datetimes to µs
    ISO strings, NaN→None, rows sorted by every column."""
    out = df.copy()
    out = out[sorted(out.columns)]
    for c in out.columns:
        col = out[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            out[c] = col.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif col.dtype == object:
            out[c] = col.map(
                lambda v: v.isoformat() if hasattr(v, "isoformat") else v
            )
    out = out.astype(object).where(pd.notna(out), None)
    rows = sorted(map(tuple, out.itertuples(index=False)), key=repr)
    return pd.DataFrame(rows, columns=out.columns)


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str):
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: column mismatch {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} vs {len(oracle_pdf)}"
    )
    # Decimal guard: DuckDB silently widens sum(int)→HUGEINT and decimal
    # literal math→DECIMAL, which arrow hands back as Decimal objects. The
    # elementwise compare below treats Decimal('7') == 7 as equal, but a
    # hash-of-values driver gate may not — require the oracle SQL to cast
    # to the Spark-matching type at the output boundary.
    import decimal

    for c in oracle_pdf.columns:
        col = oracle_pdf[c]
        if (
            col.dtype == object
            and c in spark_pdf.columns
            and spark_pdf[c].dtype != object  # both-Decimal (DecimalType) is fine
            and len(col.dropna())
            and isinstance(col.dropna().iloc[0], decimal.Decimal)
        ):
            raise AssertionError(
                f"{name}: oracle column {c!r} is Decimal-typed but Spark's is "
                f"{spark_pdf[c].dtype} — add a CAST (DOUBLE/BIGINT) at the "
                "oracle output boundary"
            )
    s = normalize(spark_pdf)
    o = normalize(oracle_pdf)
    mismatched = (s != o) & ~(s.isna() & o.isna())
    if mismatched.any().any():
        bad = mismatched.any(axis=1)
        detail = pd.concat(
            {"spark": s[bad].head(5), "oracle": o[bad].head(5)}, axis=1
        )
        raise AssertionError(f"{name}: value mismatch:\n{detail}")


# ---- slow-test ledger (r13, verdict #1: driver pytest budget) -------------
# tests/slow_tests.txt lists multi-second tests by "<file>.py::<name>";
# the hook applies the `slow` marker at collection so the DEFAULT run
# (pytest.ini addopts) stays inside the external driver's budget while
# `-m slow` / `-m ""` keep the full suite one flag away.
_SLOW_LEDGER_PATH = os.path.join(os.path.dirname(__file__), "slow_tests.txt")


def _slow_ledger() -> set[str]:
    with open(_SLOW_LEDGER_PATH) as f:
        return {
            line.strip()
            for line in f
            if line.strip() and not line.startswith("#")
        }


def pytest_collection_modifyitems(config, items):
    ledger = _slow_ledger()
    for item in items:
        base = item.nodeid.split("[", 1)[0]  # file.py::name
        key = "/".join(base.split("/")[-1:])  # tests/x.py::n -> x.py::n
        if key in ledger:
            item.add_marker(pytest.mark.slow)
