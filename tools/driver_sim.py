"""Driver-contract simulation (the /verify check).

Mirrors the external driver: vanilla SparkSession, entry() smoke at
sf0.001, every queries() entry at sf0.01 diffed against oracle_sql()
via DuckDB (row count + sorted column names + order-insensitive value
hash). A query also fails if it leaves a cached table behind: the count
of persisted non-checkpoint RDDs and of CacheManager entries must be the
same after it as before. Prints one status line per query and a final
PASS/FAIL summary.
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

# the checkout this script lives in, so a second copy (an A/B parent)
# imports its own package
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()
SF01 = "/root/testdata/sf0.01"


def canon(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False):
        cells = []
        for v in tup:
            if v is None or (isinstance(v, float) and pd.isna(v)):
                cells.append("NULL")
            elif pd.api.types.is_scalar(v) and pd.isna(v):
                cells.append("NULL")
            elif isinstance(v, float):
                cells.append(f"{v:.6g}")
            elif isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                cells.append(repr(list(v)))
            else:
                cells.append(str(v))
        rows.append("|".join(cells))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main() -> int:
    from pyspark.sql import SparkSession

    # local[32] whatever the box: the external driver builds its session
    # this way, and the simulation mirrors it rather than the host
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("driver-sim")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as m
    from crypto_market_tracker_etl_spark.operators.cache import live_caches

    rows = m.entry(spark).collect()
    assert len(rows) > 0, "entry() returned zero rows"
    print(f"entry() smoke: {len(rows)} rows OK", flush=True)

    qs, osql = m.queries(), m.oracle_sql()
    if len(sys.argv) > 1:  # subset mode: names on the command line
        want = set(sys.argv[1:])
        missing = want - set(qs)
        assert not missing, f"unknown queries: {sorted(missing)}"
        qs = {k: v for k, v in qs.items() if k in want}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from "
            f"read_parquet('{SF01}/{t}.parquet')"
        )

    failures: list[str] = []
    t_start = time.time()
    for i, (name, fn) in enumerate(qs.items()):
        t0 = time.time()
        before = live_caches(spark)
        try:
            sp = fn(spark, SF01).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name}: spark error {exc}")
            print(f"[{i + 1}/{len(qs)}] {name}: SPARK ERROR {exc}", flush=True)
            continue
        after = live_caches(spark)
        if after != before:
            # (persisted non-checkpoint RDDs, CacheManager entries)
            failures.append(f"{name}: cache leak {before} -> {after}")
            print(f"[{i + 1}/{len(qs)}] {name}: CACHE LEAK", flush=True)
            continue
        if name not in osql:
            print(
                f"[{i + 1}/{len(qs)}] {name}: rows-only "
                f"({len(sp)} rows, {time.time() - t0:.1f}s)",
                flush=True,
            )
            continue
        try:
            od = con.execute(osql[name]).arrow().to_pandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name}: oracle error {exc}")
            print(f"[{i + 1}/{len(qs)}] {name}: ORACLE ERROR {exc}", flush=True)
            continue
        ok_rows = len(sp) == len(od)
        ok_cols = sorted(sp.columns) == sorted(od.columns)
        ok_hash = ok_rows and ok_cols and canon(sp) == canon(od)
        status = "OK" if (ok_rows and ok_cols and ok_hash) else "MISMATCH"
        if status != "OK":
            failures.append(
                f"{name}: rows {len(sp)}/{len(od)} cols_match={ok_cols} "
                f"hash_match={ok_hash}"
            )
        print(
            f"[{i + 1}/{len(qs)}] {name}: {status} "
            f"({len(sp)} rows, {time.time() - t0:.1f}s)",
            flush=True,
        )
    print(f"total {time.time() - t_start:.0f}s", flush=True)
    if failures:
        print("FAIL:\n" + "\n".join(failures), flush=True)
        return 1
    print(f"PASS: {len(qs)} queries, all green", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
