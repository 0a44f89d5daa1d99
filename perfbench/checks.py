"""Output checks, run outside the timed window.

- Query results are fingerprinted against the registry's ``oracle_sql()``
  run by DuckDB over the same generated parquet, with the comparison of
  ``tools/driver_sim.py`` (row count, sorted column names, order-free
  value hash).
- ``curation_ingest``: the final ``CurationStream.clean()`` must equal
  ``run_curation`` over the delivered documents minus the victims, and
  the sink's snapshot must equal keep-latest over the changelog.

Each check returns a list of mismatch descriptions (empty when correct).
"""

from __future__ import annotations

import importlib.util
import os
import sys

from . import gen


def _driver_sim(root: str):
    """Import ``tools/driver_sim.py`` by path; its module-level sys.path
    edit is undone so the checkout's own package stays the one imported."""
    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            "perfbench_driver_sim", os.path.join(root, "tools", "driver_sim.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def oracle_mismatches(root: str, data_dir: str, tables: list[str], results: dict) -> list[str]:
    """Compare each query's materialized result with its DuckDB oracle."""
    import duckdb

    from crypto_market_tracker_etl_spark import queries as qmod

    canon = _driver_sim(root).canon
    sqls = qmod.oracle_sql()
    bad = []
    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"create view {t} as select * from read_parquet('{path}')")
        for name, sp in sorted(results.items()):
            if name not in sqls:
                continue
            od = con.execute(sqls[name]).arrow().to_pandas()
            ok_rows = len(sp) == len(od)
            ok_cols = sorted(sp.columns) == sorted(od.columns)
            if not (ok_rows and ok_cols and canon(sp) == canon(od)):
                bad.append(f"{name}: rows {len(sp)}/{len(od)} cols_match={ok_cols}")
    finally:
        con.close()
    return bad


def ingest_mismatches(spark, script: gen.IngestScript, stream, sink) -> list[str]:
    """The stream's survivors against the batch funnel, and the sink's
    snapshot against keep-latest over the changelog."""
    from crypto_market_tracker_etl_spark.plans.curation_job import run_curation

    from .workloads import delivered_docs, ids_of

    bad = []
    got = ids_of(stream.clean())
    want = ids_of(run_curation(spark, delivered_docs(spark, script)).clean)
    if got != want:
        bad.append(
            f"clean(): {len(got)} docs vs run_curation {len(want)} "
            f"(extra {sorted(got - want)[:5]}, missing {sorted(want - got)[:5]})"
        )
    snap = {
        r["event_id"]: (r["ver"], r["value"])
        for r in sink.read().select("event_id", "ver", "value").collect()
    }
    ref = {k: (v[1], v[2]) for k, v in gen.keep_latest(script.changelog).items()}
    if snap != ref:
        diff = [k for k in set(snap) | set(ref) if snap.get(k) != ref.get(k)]
        bad.append(f"sink snapshot: {len(diff)} keys differ from keep-latest")
    return bad
