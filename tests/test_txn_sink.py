"""ManifestParquetSink, the engine's keyed-MERGE table with optimistic
concurrency. These tests pin down the guarantees a table rewritten in
place lacks: no lost updates between concurrent writers, and
cross-partition snapshot reads."""

from __future__ import annotations

import datetime as dt
import os
import threading

import pytest
from pyspark.sql import functions as F

from crypto_market_tracker_etl_spark.operators.txn_sink import (
    CommitConflictError,
    ManifestParquetSink,
)
from tests.conftest import await_drain

SCHEMA = "k string, ts timestamp, ver int, v double"
DAY1 = dt.datetime(2024, 1, 1, 10)
DAY2 = dt.datetime(2024, 1, 2, 10)


def make_sink(spark, tmp_path) -> ManifestParquetSink:
    return ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts", order=["ver"]
    )


def table(sink) -> dict[str, float]:
    return {r["k"]: r["v"] for r in sink.read().collect()}


def test_upsert_merge_semantics(spark, tmp_path):
    sink = make_sink(spark, tmp_path)
    v1 = sink.upsert(
        spark.createDataFrame([("a", DAY1, 1, 1.0), ("b", DAY2, 1, 2.0)], SCHEMA)
    )
    assert v1 == 1 and table(sink) == {"a": 1.0, "b": 2.0}
    # revise one key (higher ver wins), add one — only day2's partition moves
    v2 = sink.upsert(
        spark.createDataFrame([("b", DAY2, 2, 20.0), ("c", DAY2, 1, 3.0)], SCHEMA)
    )
    assert v2 == 2 and table(sink) == {"a": 1.0, "b": 20.0, "c": 3.0}
    # stale version never wins, even delivered later
    sink.upsert(spark.createDataFrame([("b", DAY2, 1, 999.0)], SCHEMA))
    assert table(sink)["b"] == 20.0


def test_snapshot_read_and_time_travel(spark, tmp_path):
    sink = make_sink(spark, tmp_path)
    sink.upsert(spark.createDataFrame([("a", DAY1, 1, 1.0)], SCHEMA))
    snap1 = sink.read(version=1)
    sink.upsert(spark.createDataFrame([("a", DAY1, 2, 2.0), ("b", DAY2, 1, 5.0)], SCHEMA))
    # the v1 snapshot still reads its original, immutable data dirs
    assert {r["k"]: r["v"] for r in snap1.collect()} == {"a": 1.0}
    assert {r["k"]: r["v"] for r in sink.read(version=1).collect()} == {"a": 1.0}
    assert table(sink) == {"a": 2.0, "b": 5.0}
    # manifest-level pruning: days= selects partitions before listing files
    assert {r["k"] for r in sink.read(days=["2024-01-02"]).collect()} == {"b"}


def test_cas_rejects_stale_writer_and_retry_preserves_both(spark, tmp_path):
    """The lost-update anomaly from the swap sink's contract test, replayed
    against the manifest protocol: the stale writer's CAS FAILS instead of
    silently clobbering, and its retry (the public upsert path) lands both
    writers' rows."""
    sink = make_sink(spark, tmp_path)
    sink.upsert(spark.createDataFrame([("b", DAY2, 1, 2.0)], SCHEMA))
    base = sink.current_version()
    stale_manifest = dict(sink._load_manifest(base))
    # another writer commits first
    sink.upsert(spark.createDataFrame([("c", DAY2, 2, 30.0)], SCHEMA))
    # the stale writer's CAS against the old base must fail...
    assert sink._try_commit(base, stale_manifest) is False
    # ...and its public-path retry merges against the WINNER's snapshot
    sink.upsert(spark.createDataFrame([("d", DAY2, 2, 40.0)], SCHEMA))
    assert table(sink) == {"b": 2.0, "c": 30.0, "d": 40.0}


def test_concurrent_writers_all_survive(spark, tmp_path):
    """Four writers racing on the same partition: every commit must land
    (optimistic retries), no update lost — the property the plain parquet
    swap sink cannot give."""
    sink = make_sink(spark, tmp_path)
    sink.upsert(spark.createDataFrame([("seed", DAY2, 1, 0.0)], SCHEMA))
    errors: list[Exception] = []

    def writer(i: int) -> None:
        try:
            sink.upsert(
                spark.createDataFrame([(f"w{i}", DAY2, 1, float(i))], SCHEMA)
            )
        except Exception as e:  # pragma: no cover - surfaced via assert below
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert table(sink) == {"seed": 0.0, "w0": 0.0, "w1": 1.0, "w2": 2.0, "w3": 3.0}
    assert sink.current_version() == 5  # seed + 4 serialized commits


def test_vacuum_reclaims_orphans_and_old_versions(spark, tmp_path):
    sink = make_sink(spark, tmp_path)
    sink.upsert(spark.createDataFrame([("a", DAY1, 1, 1.0)], SCHEMA))
    sink.upsert(spark.createDataFrame([("a", DAY1, 2, 2.0)], SCHEMA))
    # fabricate an orphan from a lost CAS race (data written, never committed)
    orphan = os.path.join(sink._data_dir, "deadbeef")
    os.makedirs(orphan)
    # default min_age protects a possibly in-flight writer's fresh dir...
    assert "deadbeef" not in sink.vacuum(keep_versions=2)
    # ...and an aged-out orphan is reclaimed
    removed = sink.vacuum(keep_versions=1, min_age_seconds=0)
    assert "deadbeef" in removed
    assert table(sink) == {"a": 2.0}  # current snapshot untouched
    with pytest.raises(FileNotFoundError):
        sink.read(version=1)  # time travel beyond retention is gone
    with pytest.raises(ValueError):
        sink.vacuum(keep_versions=0)  # would delete the whole table


def test_null_ts_batch_rejected(spark, tmp_path):
    """A NULL day cannot be merged by partition (it would repoint Hive's
    default partition without merging — a silent lost update), so the
    transactional sink rejects the batch loudly."""
    sink = make_sink(spark, tmp_path)
    sink.upsert(spark.createDataFrame([("a", DAY1, 1, 1.0)], SCHEMA))
    with pytest.raises(ValueError, match="NULL"):
        sink.upsert(spark.createDataFrame([("b", None, 1, 2.0)], SCHEMA))
    assert table(sink) == {"a": 1.0}


def test_compact_folds_files_and_preserves_table(spark, tmp_path):
    sink = make_sink(spark, tmp_path)
    for i in range(4):  # four commits → four data dirs feeding day2
        sink.upsert(spark.createDataFrame([(f"k{i}", DAY2, 1, float(i))], SCHEMA))
    before = table(sink)
    v = sink.compact()
    assert v == 5 and table(sink) == before
    # the whole snapshot now lives in ONE commit dir
    manifest = sink._load_manifest(sink.current_version())
    assert len({p.split(os.sep)[1] for p in manifest.values()}) == 1
    sink.vacuum(keep_versions=1)
    assert table(sink) == before


def test_read_unions_one_scan_per_commit(spark, tmp_path):
    """read() must group directories into one multi-path scan per live
    COMMIT, not one per day — a 30-day manifest in one commit as a
    30-branch union was measured 3× slower on compact (SCALE.md r3)."""
    sink = make_sink(spark, tmp_path)
    for i in range(3):  # three commits, three days
        sink.upsert(
            spark.createDataFrame(
                [(f"k{i}", DAY1 + dt.timedelta(days=i), 1, float(i))], SCHEMA
            )
        )
    def n_scans() -> int:
        plan = sink.read()._jdf.queryExecution().optimizedPlan().toString()
        return plan.count("Relation [")

    assert n_scans() == 3
    sink.compact()
    assert n_scans() == 1


def test_incremental_stream_into_manifest_sink(spark, tmp_path):
    """The streaming writer is sink-agnostic: draining through a
    ManifestParquetSink gives each micro-batch a serialized CAS commit, so
    a concurrent batch upsert landing mid-stream is never lost."""
    from crypto_market_tracker_etl_spark.streaming.incremental import (
        incremental_upsert_stream,
    )

    src_dir = str(tmp_path / "incoming")
    batch = spark.createDataFrame(
        [
            ("a", dt.datetime(2024, 1, 1, 1), 1, 1.0),
            ("a", dt.datetime(2024, 1, 1, 1), 2, 9.0),  # same key: latest wins
            ("b", dt.datetime(2024, 1, 2, 2), 1, 2.0),
        ],
        SCHEMA,
    )
    batch.write.mode("overwrite").parquet(src_dir)
    sink = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts", order=["ver"]
    )
    # a batch writer commits before the stream drains
    sink.upsert(spark.createDataFrame([("c", DAY2, 1, 30.0)], SCHEMA))
    stream = spark.readStream.schema(batch.schema).parquet(src_dir)
    q = incremental_upsert_stream(stream, sink, str(tmp_path / "ckpt"))
    await_drain(q, 120)
    assert table(sink) == {"a": 9.0, "b": 2.0, "c": 30.0}
    # replay idempotence: re-running the drained stream commits nothing new
    q2 = incremental_upsert_stream(
        spark.readStream.schema(batch.schema).parquet(src_dir),
        sink,
        str(tmp_path / "ckpt"),
    )
    await_drain(q2, 120)
    assert table(sink) == {"a": 9.0, "b": 2.0, "c": 30.0}


def test_conflict_exhaustion_raises(spark, tmp_path, monkeypatch):
    sink = make_sink(spark, tmp_path)
    sink.upsert(spark.createDataFrame([("a", DAY1, 1, 1.0)], SCHEMA))
    monkeypatch.setattr(sink, "_try_commit", lambda *a, **k: False)
    with pytest.raises(CommitConflictError):
        sink.upsert(
            spark.createDataFrame([("b", DAY1, 1, 2.0)], SCHEMA), max_retries=2
        )


def test_zone_map_pruning_skips_partitions(spark, tmp_path):
    """read(where=) must (a) return exactly the matching rows and (b) skip
    every partition whose recorded min/max cannot intersect the range —
    file skipping at the manifest level, before any listing."""
    sink = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts",
        order=["ver"], stats_cols=["ts", "v"],
    )
    sink.upsert(spark.createDataFrame(
        [("a", DAY1, 1, 1.0), ("b", DAY2, 1, 100.0),
         ("c", dt.datetime(2024, 1, 3, 10), 1, 5.0)], SCHEMA))
    # value range that only day2 can satisfy
    scanned, skipped = sink.pruned_partitions({"v": (50.0, None)})
    assert scanned == ["2024-01-02"]
    assert skipped == ["2024-01-01", "2024-01-03"]
    assert {r["k"] for r in sink.read(where={"v": (50.0, None)}).collect()} == {"b"}
    # ts range pruning via ISO string compare; row filter still applies
    got = sink.read(where={"ts": ("2024-01-02", "2024-01-02 23:59:59")})
    assert {r["k"] for r in got.collect()} == {"b"}
    assert sink.pruned_partitions({"ts": ("2024-01-02", "2024-01-02 23:59:59")})[0] == ["2024-01-02"]
    # fully pruned range: schema-correct empty, no error
    empty = sink.read(where={"v": (1000.0, None)})
    assert empty.count() == 0 and set(empty.columns) >= {"k", "ts", "v"}


def test_zone_maps_survive_upsert_and_compact(spark, tmp_path):
    """Untouched days keep their stats across upserts; touched days get
    fresh ones; compaction carries the snapshot's stats over unchanged;
    and a stats-free manifest (pre-zone-map table) is never pruned."""
    sink = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts",
        order=["ver"], stats_cols=["v"],
    )
    sink.upsert(spark.createDataFrame(
        [("a", DAY1, 1, 1.0), ("b", DAY2, 1, 100.0)], SCHEMA))
    # widen day1's value range; day2 untouched
    sink.upsert(spark.createDataFrame([("a2", DAY1, 1, 60.0)], SCHEMA))
    stats = sink._load_stats(sink.current_version())
    assert stats["2024-01-01"]["cols"]["v"] == [1.0, 60.0]
    assert stats["2024-01-02"]["cols"]["v"] == [100.0, 100.0]
    assert stats["2024-01-01"]["rows"] == 2
    v = sink.compact()
    assert v is not None
    # recomputed from the rewritten bytes: partition-grain values are
    # content-determined (equal), file-grain entries name the NEW files
    after = sink._load_stats(v)
    manifest = sink._load_manifest(v)
    for day in stats:
        assert after[day]["cols"] == stats[day]["cols"]
        assert after[day]["rows"] == stats[day]["rows"]
        day_dir = os.path.join(str(tmp_path / "tbl"), manifest[day])
        on_disk = set(os.listdir(day_dir))
        assert set(after[day]["files"]) <= on_disk  # no stale file names
    assert sink.pruned_partitions({"v": (50.0, 70.0)})[0] == ["2024-01-01"]
    # simulate a pre-zone-map manifest: strip the stats key
    import json as _json
    mpath = os.path.join(str(tmp_path / "tbl"), "_manifests", f"v{v}.json")
    doc = _json.load(open(mpath))
    doc.pop("stats")
    os.unlink(mpath)
    _json.dump(doc, open(mpath, "w"))
    scanned, skipped = sink.pruned_partitions({"v": (1000.0, None)})
    assert skipped == [] and len(scanned) == 2  # conservative: no pruning
    assert sink.read(where={"v": (1000.0, None)}).count() == 0  # row filter holds


def test_cluster_by_compaction_enables_file_skipping(spark, tmp_path):
    """compact(cluster_by=['v'], small max_records_per_file) must produce
    multiple files per partition with DISJOINT v ranges, and read(where=)
    must then skip most files while returning exactly the matching rows."""
    sink = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts",
        order=["ver"], stats_cols=["v"],
    )
    rows = [(f"k{i}", DAY1, 1, float(i)) for i in range(200)]
    sink.upsert(spark.createDataFrame(rows, SCHEMA))
    v = sink.compact(max_records_per_file=50, cluster_by=["v"])
    assert v is not None
    stats = sink._load_stats(v)
    files = stats["2024-01-01"]["files"]
    assert len(files) >= 4  # 200 rows / 50 per file
    # disjoint, ordered ranges: sort by min and check no overlap
    ranges = sorted(f["cols"]["v"] for f in files.values())
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, ranges
    scanned, skipped = sink.pruned_files({"v": (160.0, None)})
    assert len(scanned) == 1 and len(skipped) >= 3, (scanned, skipped)
    got = sorted(r["v"] for r in sink.read(where={"v": (160.0, None)}).collect())
    assert got == [float(i) for i in range(160, 200)]
    # an upsert after clustering still reads correctly end-to-end
    sink.upsert(spark.createDataFrame([("k5", DAY1, 2, 500.0)], SCHEMA))
    assert {r["k"] for r in sink.read(where={"v": (400.0, None)}).collect()} == {"k5"}


DAY3 = dt.datetime(2024, 1, 3, 10)


def test_delete_and_changes_roundtrip(spark, tmp_path):
    """changes(v1, v2) must emit exactly the keyed I/U/D diff, read ONLY
    repointed partitions (manifest-diff pruning), and satisfy the defining
    CDF property: snapshot v1 + changes = snapshot v2."""
    sink = make_sink(spark, tmp_path)
    sink.upsert(spark.createDataFrame(
        [("a", DAY1, 1, 1.0), ("b", DAY2, 1, 2.0), ("x", DAY3, 1, 9.0)], SCHEMA))
    v1 = sink.current_version()
    sink.upsert(spark.createDataFrame(
        [("b", DAY2, 2, 20.0), ("c", DAY2, 1, 3.0)], SCHEMA))
    sink.delete(spark.createDataFrame([("x", DAY3, 1, 0.0)], SCHEMA))
    v2 = sink.current_version()

    ch = sink.changes(v1, v2)
    got = {r["k"]: r for r in ch.collect()}
    assert {k: r["_op"] for k, r in got.items()} == {"b": "U", "c": "I", "x": "D"}
    assert got["b"]["v"] == 20.0 and got["c"]["v"] == 3.0
    assert got["x"]["v"] == 9.0  # D rows carry the deleted pre-image

    # manifest-diff pruning: day1 was never repointed → its files unread
    files = ch.inputFiles()
    assert files and not any("dt_part=2024-01-01" in f for f in files)
    assert any("dt_part=2024-01-02" in f for f in files)
    assert any("dt_part=2024-01-03" in f for f in files)

    # roundtrip: v1 ⊕ changes == v2
    old = sink.read(version=v1)
    keys_changed = ch.select("k").distinct()
    applied = old.join(keys_changed, "k", "left_anti").unionByName(
        ch.filter(F.col("_op") != "D").drop("_op")
    )
    lhs = sorted(map(tuple, applied.select("k", "ts", "ver", "v", "dt").collect()))
    rhs = sorted(map(tuple, sink.read(version=v2).select("k", "ts", "ver", "v", "dt").collect()))
    assert lhs == rhs

    # a fully-emptied day drops out of the manifest
    sink.delete(spark.createDataFrame([("a", DAY1, 1, 0.0)], SCHEMA))
    assert "2024-01-01" not in sink._load_manifest(sink.current_version())
    assert "2024-01-01" not in sink._load_stats(sink.current_version())
    # deleting an absent key is a no-op commit-wise
    v_before = sink.current_version()
    assert sink.delete(spark.createDataFrame([("zz", DAY3 + dt.timedelta(days=5), 1, 0.0)], SCHEMA)) == v_before


def test_changes_empty_diff_and_compact_noise(spark, tmp_path):
    """No repointed day → empty diff without reading anything; a compact
    repoints every day but changes() still reports zero row diffs."""
    sink = make_sink(spark, tmp_path)
    sink.upsert(spark.createDataFrame([("a", DAY1, 1, 1.0)], SCHEMA))
    v1 = sink.current_version()
    assert sink.changes(v1, v1).count() == 0
    v2 = sink.compact()
    assert v2 is not None
    assert sink.changes(v1, v2).count() == 0  # rewritten bytes, same values


def test_zone_map_decimal_stats_prune_numerically(spark, tmp_path):
    """Decimal stat columns must compare numerically at prune time: a
    str-serialized bound would make '100.0' < '20.0' lexicographically and
    wrongly prune a partition whose rows match (the review-pass repro)."""
    from decimal import Decimal

    sink = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts",
        order=["ver"], stats_cols=["price"],
    )
    schema = "k string, ts timestamp, ver int, price decimal(10,2)"
    sink.upsert(spark.createDataFrame(
        [("a", DAY1, 1, Decimal("50.00")), ("b", DAY1, 1, Decimal("100.00")),
         ("c", DAY2, 1, Decimal("5.00"))], schema))
    scanned, skipped = sink.pruned_partitions({"price": (20.0, None)})
    assert scanned == ["2024-01-01"] and skipped == ["2024-01-02"]
    got = {r["k"] for r in sink.read(where={"price": (20.0, None)}).collect()}
    assert got == {"a", "b"}


def test_upsert_drops_stale_stats_when_writer_records_none(spark, tmp_path):
    """A writer opened with stats_cols=[] must DROP the touched day's old
    zone map, not carry it forward: the stale entry would describe
    pre-merge data (wrongly pruning new rows) and name file-grain files
    under the superseded commit dir."""
    p = str(tmp_path / "tbl")
    writer_a = ManifestParquetSink(
        spark, p, keys=["k"], ts_col="ts", order=["ver"], stats_cols=["v"])
    writer_a.upsert(spark.createDataFrame([("a", DAY1, 1, 100.0)], SCHEMA))
    writer_b = ManifestParquetSink(
        spark, p, keys=["k"], ts_col="ts", order=["ver"], stats_cols=[])
    writer_b.upsert(spark.createDataFrame([("b", DAY1, 1, 500.0)], SCHEMA))
    # day1's stale max=100 entry is gone → the day scans conservatively
    assert "2024-01-01" not in writer_a._load_stats(writer_a.current_version())
    got = {r["k"] for r in writer_a.read(where={"v": (400.0, None)}).collect()}
    assert got == {"b"}


def test_delete_absent_keys_in_existing_day_is_noop(spark, tmp_path):
    """Deleting keys whose DAY exists but which are themselves absent must
    not commit a new version or rewrite the day (the documented no-op)."""
    sink = make_sink(spark, tmp_path)
    sink.upsert(spark.createDataFrame([("a", DAY1, 1, 1.0)], SCHEMA))
    v = sink.current_version()
    assert sink.delete(
        spark.createDataFrame([("ghost", DAY1, 1, 0.0)], SCHEMA)) == v
    assert sink.current_version() == v
    assert table(sink) == {"a": 1.0}


def test_history_records_operations(spark, tmp_path):
    """history() lists retained commits newest-first with op names, commit
    times, and row counts; vacuum retention bounds it like Delta's."""
    sink = make_sink(spark, tmp_path)
    sink.upsert(spark.createDataFrame([("a", DAY1, 1, 1.0)], SCHEMA))
    sink.upsert(spark.createDataFrame([("b", DAY2, 1, 2.0)], SCHEMA))
    sink.delete(spark.createDataFrame([("a", DAY1, 1, 0.0)], SCHEMA))
    sink.compact()
    h = sink.history()
    assert [e["op"] for e in h] == ["compact", "delete", "upsert", "upsert"]
    assert [e["version"] for e in h] == [4, 3, 2, 1]
    assert all(e["committed_at"] is not None for e in h)
    assert h[0]["n_rows"] == 1 and h[0]["n_partitions"] == 1  # b only
    sink.vacuum(keep_versions=2, min_age_seconds=0)
    assert [e["version"] for e in sink.history()] == [4, 3]


def test_schema_evolution_add_column(spark, tmp_path):
    """Additive schema evolution end-to-end: a later upsert introduces a
    column; old rows read as NULL (mergeSchema + unionByName), merges into
    the old day carry it, and zone-map reads on the NEW column stay sound
    — partitions that predate the column cannot be pruned on it and rows
    lacking it never match a range."""
    sink = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts",
        order=["ver"], stats_cols=["v", "extra"],
    )
    sink.upsert(spark.createDataFrame([("a", DAY1, 1, 1.0)], SCHEMA))
    sink.upsert(spark.createDataFrame(
        [("b", DAY2, 1, 2.0, 20.0)],
        "k string, ts timestamp, ver int, v double, extra double"))
    got = {r["k"]: r.asDict() for r in sink.read().collect()}
    assert got["a"]["extra"] is None and got["b"]["extra"] == 20.0
    # range read on the late column: only b matches; day1 is scanned
    # conservatively (no stats for a column it predates) but its NULL
    # rows match no range
    assert {r["k"] for r in sink.read(where={"extra": (10.0, None)}).collect()} == {"b"}
    # merging the new column INTO the old day backfills it for that key
    sink.upsert(spark.createDataFrame(
        [("a", DAY1, 2, 1.5, 99.0)],
        "k string, ts timestamp, ver int, v double, extra double"))
    got = {r["k"]: r.asDict() for r in sink.read().collect()}
    assert got["a"]["extra"] == 99.0 and got["a"]["v"] == 1.5
    # compaction homogenizes the layout and preserves everything
    sink.compact()
    assert {r["k"]: r["extra"] for r in sink.read().collect()} == {
        "a": 99.0, "b": 20.0,
    }


def test_zorder_compaction_skips_on_both_dimensions(spark, tmp_path):
    """zorder_by=['v','w'] must let file skipping work on EITHER column's
    range, where lexicographic cluster_by=['v','w'] only tightens v (every
    file spans w's whole range). 16x16 grid, one day, 256 rows, 16 files."""
    def build(path, **compact_kw):
        sink = ManifestParquetSink(
            spark, path, keys=["k"], ts_col="ts", order=["ver"],
            stats_cols=["v", "w"],
        )
        rows = [
            (f"k{i}", DAY1, 1, float(i // 16), float(i % 16))
            for i in range(256)
        ]
        sink.upsert(spark.createDataFrame(
            rows, "k string, ts timestamp, ver int, v double, w double"))
        assert sink.compact(max_records_per_file=16, **compact_kw) is not None
        return sink

    z = build(str(tmp_path / "z"), zorder_by=["v", "w"])
    lin = build(str(tmp_path / "lin"), cluster_by=["v", "w"])
    for sink in (z, lin):
        assert len(sink._load_stats(sink.current_version())["2024-01-01"]["files"]) >= 8
    # narrow range on v: BOTH layouts skip (v leads the linear sort too)
    for sink in (z, lin):
        sc, sk = sink.pruned_files({"v": (14.0, None)})
        assert len(sk) > len(sc), (len(sc), len(sk))
    # narrow range on w: only the z-ordered layout skips
    sc_z, sk_z = z.pruned_files({"w": (14.0, None)})
    sc_l, sk_l = lin.pruned_files({"w": (14.0, None)})
    assert len(sk_l) == 0  # every linear file spans all of w
    assert len(sk_z) >= 8, (len(sc_z), len(sk_z))  # z skips at least half
    # correctness on both layouts, both dimensions
    for sink in (z, lin):
        for col in ("v", "w"):
            got = sorted(
                r["k"] for r in sink.read(where={col: (14.0, None)}).collect()
            )
            want = sorted(
                r["k"]
                for r in sink.read()
                .filter(F.col(col) >= 14.0)
                .collect()
            )
            assert got == want and len(got) == 32


def test_changes_since_checkpoint_at_least_once(spark, tmp_path):
    """Checkpointed feed consumption: first poll sees the full table as
    inserts; un-acked polls REPLAY the same diff (at-least-once); acked
    polls advance; an empty poll after ack yields zero rows."""
    sink = make_sink(spark, tmp_path)
    ck = str(tmp_path / "ck")
    # polling an empty table yields None (not a crash): poll again later
    none_df, v0, _ = sink.changes_since_checkpoint(ck)
    assert none_df is None and v0 == 0
    sink.upsert(spark.createDataFrame([("a", DAY1, 1, 1.0)], SCHEMA))
    df, v, ack = sink.changes_since_checkpoint(ck)
    assert {(r["k"], r["_op"]) for r in df.collect()} == {("a", "I")}
    # crash before ack: replay
    df2, v2, ack2 = sink.changes_since_checkpoint(ck)
    assert v2 == v
    assert {(r["k"], r["_op"]) for r in df2.collect()} == {("a", "I")}
    ack2()
    sink.upsert(spark.createDataFrame([("b", DAY2, 1, 2.0)], SCHEMA))
    sink.delete(spark.createDataFrame([("a", DAY1, 1, 0.0)], SCHEMA))
    df3, _, ack3 = sink.changes_since_checkpoint(ck)
    assert {(r["k"], r["_op"]) for r in df3.collect()} == {("b", "I"), ("a", "D")}
    ack3()
    df4, _, _ = sink.changes_since_checkpoint(ck)
    assert df4 is None  # nothing since the last ack: uniform None signal


def test_feed_checkpoint_past_retention_raises_descriptively(spark, tmp_path):
    """A checkpoint whose base manifest was vacuumed must fail with the
    resync guidance, not a raw FileNotFoundError; and zorder_by validates
    column count and numeric dtype instead of degrading silently."""
    sink = make_sink(spark, tmp_path)
    ck = str(tmp_path / "ck")
    sink.upsert(spark.createDataFrame([("a", DAY1, 1, 1.0)], SCHEMA))
    _, _, ack = sink.changes_since_checkpoint(ck)
    ack()  # checkpoint at v1
    sink.upsert(spark.createDataFrame([("b", DAY2, 1, 2.0)], SCHEMA))
    sink.upsert(spark.createDataFrame([("c", DAY2, 2, 3.0)], SCHEMA))
    sink.vacuum(keep_versions=1, min_age_seconds=0)  # v1 manifest gone
    with pytest.raises(ValueError, match="resync"):
        sink.changes_since_checkpoint(ck)
    with pytest.raises(ValueError, match="1-3 columns"):
        sink.compact(zorder_by=["v", "v", "v", "v"])
    with pytest.raises(ValueError, match="numeric"):
        sink.compact(zorder_by=["k"])


def test_drop_days_is_metadata_only(spark, tmp_path):
    """drop_days removes whole days as a pure manifest commit: no data is
    read or written, the version bumps, history records the op, vacuum
    reclaims the now-unreferenced dir, and absent days are a no-op."""
    sink = make_sink(spark, tmp_path)
    sink.upsert(spark.createDataFrame(
        [("a", DAY1, 1, 1.0), ("b", DAY2, 1, 2.0)], SCHEMA))
    v = sink.drop_days(["2024-01-01", "2099-12-31"])
    assert v == sink.current_version()
    assert sink.partition_days() == ["2024-01-02"]
    assert table(sink) == {"b": 2.0}
    assert sink.history()[0]["op"] == "drop_days"
    assert sink.drop_days(["2024-01-01"]) == v  # already gone: no commit
    # time travel still sees the dropped day until vacuumed
    assert {r["k"] for r in sink.read(version=v - 1).collect()} == {"a", "b"}
    sink.vacuum(keep_versions=1, min_age_seconds=0)
    assert table(sink) == {"b": 2.0}


def test_concurrent_delete_and_upsert_serialize(spark, tmp_path):
    """A delete racing an upsert on the same partition: both go through
    the CAS retry loop, so both land in SOME serial order — the table
    never loses the upsert's new key and never resurrects the deleted
    one, regardless of which writer wins the race."""
    sink = make_sink(spark, tmp_path)
    sink.upsert(spark.createDataFrame(
        [("victim", DAY2, 1, 1.0), ("keep", DAY2, 1, 2.0)], SCHEMA))
    errors: list[Exception] = []

    def do_delete():
        try:
            sink.delete(spark.createDataFrame([("victim", DAY2, 1, 0.0)], SCHEMA))
        except Exception as e:  # pragma: no cover
            errors.append(e)

    def do_upsert():
        try:
            sink.upsert(spark.createDataFrame([("new", DAY2, 1, 3.0)], SCHEMA))
        except Exception as e:  # pragma: no cover
            errors.append(e)

    ts = [threading.Thread(target=do_delete), threading.Thread(target=do_upsert)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors
    assert table(sink) == {"keep": 2.0, "new": 3.0}
    assert sink.current_version() == 3  # both commits serialized
    ops = [e["op"] for e in sink.history()[:2]]
    assert sorted(ops) == ["delete", "upsert"]


def test_zone_map_string_column_prunes_lexicographically(spark, tmp_path):
    """Regression (review pass, r4): for a STRING stats column whose values
    happen to parse as numbers (zip codes, version strings), the row-level
    filter is lexicographic — zone-map pruning must use the SAME order, or
    a partition whose numeric range misses the bounds gets pruned while
    its rows lexicographically match (silently dropped results)."""
    sink = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts",
        order=["ver"], stats_cols=["zip"],
    )
    sink.upsert(spark.createDataFrame(
        [("a", DAY1, 1, "10"), ("b", DAY1, 1, "30"),
         ("c", DAY2, 1, "999")],
        "k string, ts timestamp, ver int, zip string"))
    # lexicographic range ('2','5'): matches '30' (and '999'? no — '9'>'5')
    # numeric pruning would see day1 as [10, 30], 5 < 10 ⇒ wrongly pruned
    got = {r["k"] for r in sink.read(where={"zip": ("2", "5")}).collect()}
    assert got == {"b"}
    scanned, _ = sink.pruned_partitions({"zip": ("2", "5")})
    assert "2024-01-01" in scanned  # day1 must NOT be pruned
    # and pruning still works where lexicographic order really excludes:
    # day2's range ['999','999'] is entirely above ('a','b')
    scanned2, skipped2 = sink.pruned_partitions({"zip": ("a", "b")})
    assert skipped2 == ["2024-01-01", "2024-01-02"]


def test_bloom_index_point_lookup_prunes_files(spark, tmp_path):
    """Per-file bloom filters (bloom_cols) must prune point lookups on a
    high-cardinality key that zone maps cannot discriminate: after a
    multi-file compact, where_eq on one key reads ~1 of N files, a
    missing key prunes everything, and results stay exact."""
    sink = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts",
        order=["ver"], stats_cols=["v"], bloom_cols=["k"],
    )
    rows = [(f"user-{i:04d}", DAY1, 1, float(i)) for i in range(200)]
    sink.upsert(spark.createDataFrame(rows, SCHEMA))
    v = sink.compact(max_records_per_file=50)
    assert v is not None

    # hit: exactly the row, from a small file subset
    got = sink.read(where_eq={"k": "user-0042"}).collect()
    assert [(r["k"], r["v"]) for r in got] == [("user-0042", 42.0)]
    cand = sink.bloom_file_candidates({"k": "user-0042"})
    kept = cand["2024-01-01"]
    assert kept is not None and 1 <= len(kept) < 4  # pruned most of 4 files

    # miss: empty result, (almost surely) every file pruned at 7 hashes
    assert sink.read(where_eq={"k": "user-9999"}).count() == 0
    miss = sink.bloom_file_candidates({"k": "user-9999"})["2024-01-01"]
    assert miss is not None and len(miss) <= 1  # FP allowance

    # bloom composes with zone-map ranges in the same read
    both = sink.read(where_eq={"k": "user-0042"}, where={"v": (0.0, 100.0)})
    assert both.count() == 1


def test_bloom_index_inheritance_and_conservative_fallback(spark, tmp_path):
    """An untouched day keeps its commit's bloom sidecar across later
    commits (pruning still works); a table whose commits predate blooms
    reports None (no info) and is scanned, never wrongly pruned."""
    sink = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts",
        order=["ver"], bloom_cols=["k"],
    )
    sink.upsert(spark.createDataFrame([("a1", DAY1, 1, 1.0)], SCHEMA))
    sink.upsert(spark.createDataFrame([("b1", DAY2, 1, 2.0)], SCHEMA))
    # day1's bloom came from commit 1 and still answers probes
    cand = sink.bloom_file_candidates({"k": "a1"})
    assert cand["2024-01-01"] and len(cand["2024-01-01"]) >= 1
    assert cand["2024-01-02"] is not None and len(cand["2024-01-02"]) == 0
    assert {r["k"] for r in sink.read(where_eq={"k": "a1"}).collect()} == {"a1"}

    # pre-bloom table: sidecars absent → None for every day, read correct
    plain = ManifestParquetSink(
        spark, str(tmp_path / "plain"), keys=["k"], ts_col="ts",
    )
    plain.upsert(spark.createDataFrame([("x", DAY1, 1, 9.0)], SCHEMA))
    probing = ManifestParquetSink(
        spark, str(tmp_path / "plain"), keys=["k"], ts_col="ts",
        bloom_cols=["k"],
    )
    assert probing.bloom_file_candidates({"k": "x"}) == {"2024-01-01": None}
    assert {r["k"] for r in probing.read(where_eq={"k": "x"}).collect()} == {"x"}


def test_stats_rows_metadata_only_count(spark, tmp_path):
    """stats_rows serves COUNT from the manifest without opening a data
    file; day-filtered counts match; a stats-free manifest returns None
    (fallback signal), never a wrong number."""
    sink = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts", order=["ver"]
    )
    sink.upsert(spark.createDataFrame(
        [("a", DAY1, 1, 1.0), ("b", DAY1, 1, 2.0), ("c", DAY2, 1, 3.0)],
        SCHEMA))
    assert sink.stats_rows() == 3 == sink.read().count()
    assert sink.stats_rows(days=["2024-01-01"]) == 2
    # upsert (merge) keeps counts exact, not additive
    sink.upsert(spark.createDataFrame([("a", DAY1, 2, 10.0)], SCHEMA))
    assert sink.stats_rows() == 3
    # strip stats (pre-zone-map manifest) → None
    import json as _json
    v = sink.current_version()
    mpath = os.path.join(str(tmp_path / "tbl"), "_manifests", f"v{v}.json")
    doc = _json.load(open(mpath))
    doc.pop("stats")
    os.unlink(mpath)
    _json.dump(doc, open(mpath, "w"))
    assert sink.stats_rows() is None


def test_bloom_probe_routes_through_column_type(spark, tmp_path):
    """Regression (review r4): the bloom write side hashes the COLUMN's
    string rendering ('5.0' for a double), so a probe literal of a
    different numeric width (int 5) must cast through the column type
    before hashing — the raw literal would hash '5' and silently
    bloom-prune every file while the row filter matches rows."""
    sink = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts",
        order=["ver"], bloom_cols=["v"],
    )
    sink.upsert(spark.createDataFrame(
        [("a", DAY1, 1, 5.0), ("b", DAY1, 1, 7.5)], SCHEMA))
    # int literal against the double column: must still find the row
    assert {r["k"] for r in sink.read(where_eq={"v": 5}).collect()} == {"a"}
    cand = sink.bloom_file_candidates({"v": 5})
    assert cand["2024-01-01"]  # file kept, not silently pruned
    # and Decimal zone-map bounds compare numerically vs stored floats
    import decimal
    got = sink.read(where={"v": (decimal.Decimal("7"), decimal.Decimal("8"))})
    assert {r["k"] for r in got.collect()} == {"b"}


def test_files_checkpoint_roundtrip_and_pruning(spark, tmp_path):
    """Beyond checkpoint_files_threshold the per-FILE stats move to a
    parquet sidecar (_manifests/files-*.parquet) and the JSON manifest
    keeps only day-level entries — same resolved structure, same
    file-grain pruning, same point lookups, and time travel still
    resolves a checkpointed older version."""
    import json as _json

    def build(name, threshold):
        sink = ManifestParquetSink(
            spark, str(tmp_path / name), keys=["k"], ts_col="ts",
            order=["ver"], stats_cols=["v"], bloom_cols=["k"],
            checkpoint_files_threshold=threshold,
        )
        rows = [(f"u{i:04d}", DAY1, 1, float(i)) for i in range(200)]
        sink.upsert(spark.createDataFrame(rows, SCHEMA))
        sink.compact(max_records_per_file=50)  # 4 files, 1 day
        return sink

    inline = build("inline", 10_000)
    ckpt = build("ckpt", 2)

    # the checkpointed manifest is slim: stats lost "files", gained the
    # sidecar pointer; the inline one is unchanged
    v = ckpt.current_version()
    doc = _json.load(
        open(os.path.join(str(tmp_path / "ckpt"), "_manifests", f"v{v}.json"))
    )
    assert "files_checkpoint" in doc
    assert all("files" not in e for e in doc["stats"].values())
    assert os.path.exists(os.path.join(
        str(tmp_path / "ckpt"), "_manifests", doc["files_checkpoint"]))
    doc_inline = _json.load(open(os.path.join(
        str(tmp_path / "inline"), "_manifests",
        f"v{inline.current_version()}.json")))
    assert "files_checkpoint" not in doc_inline

    # resolved stats identical between the two layouts (physical file
    # names differ by commit uuid — compare shape and payloads)
    def norm(stats):
        return {
            d: {
                **{k: x for k, x in e.items() if k != "files"},
                "files": sorted(
                    (e.get("files") or {}).values(), key=str
                ),
            }
            for d, e in stats.items()
        }

    si, sc = inline._load_stats(inline.current_version()), ckpt._load_stats(v)
    assert norm(si) == norm(sc) and any("files" in e for e in sc.values())
    # day-level load never touches the sidecar content
    assert all(
        "files" not in e for e in ckpt._load_stats(v, files=False).values()
    )

    # file-grain range pruning: same scan/skip split either way (file
    # names differ by commit uuid, so compare counts)
    w = {"v": (10.0, 20.0)}
    i_scan, i_skip = inline.pruned_files(w)
    scanned, skipped = ckpt.pruned_files(w)
    assert (len(i_scan), len(i_skip)) == (len(scanned), len(skipped))
    assert scanned and skipped  # the range really prunes some files
    got = {r["k"]: r["v"] for r in ckpt.read(where=w).collect()}
    assert got == {f"u{i:04d}": float(i) for i in range(10, 21)}

    # bloom point lookup and metadata count unaffected
    assert {r["k"] for r in ckpt.read(where_eq={"k": "u0042"}).collect()} == {
        "u0042"
    }
    assert ckpt.stats_rows() == 200

    # time travel: commit again (also checkpointed), old version resolves
    ckpt.upsert(spark.createDataFrame([("zz", DAY2, 1, 999.0)], SCHEMA))
    assert ckpt._load_stats(v) == sc
    assert {r["k"] for r in ckpt.read(
        version=v, where_eq={"k": "u0042"}).collect()} == {"u0042"}

    # metadata-only DV commit RE-POINTS the existing sidecar instead of
    # resolving + rewriting it (review r5): same checkpoint name, stats
    # file grain intact, suppressed key gone from reads
    before = ckpt._files_checkpoint_name(ckpt.current_version())
    v_dv = ckpt.delete_fast(
        spark.createDataFrame([("u0007", DAY1, 1, 0.0)], SCHEMA)
    )
    assert ckpt._files_checkpoint_name(v_dv) == before
    assert ckpt.read(where_eq={"k": "u0007"}).count() == 0
    assert any("files" in e for e in ckpt._load_stats(v_dv).values())


def test_files_checkpoint_vacuum_reclaims_orphans(spark, tmp_path):
    """Vacuum removes files-checkpoint sidecars no surviving manifest
    references (superseded versions, lost-CAS orphans) under the same
    age guard as data dirs, and never the live one."""
    sink = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts",
        order=["ver"], stats_cols=["v"], checkpoint_files_threshold=0,
    )
    for ver in (1, 2, 3):
        sink.upsert(spark.createDataFrame(
            [("a", DAY1, ver, float(ver))], SCHEMA))
    mdir = os.path.join(str(tmp_path / "tbl"), "_manifests")
    # a lost-CAS orphan
    orphan = os.path.join(mdir, "files-deadbeef.parquet")
    open(orphan, "wb").write(b"x")
    ckpts_before = {
        n for n in os.listdir(mdir) if n.startswith("files-")
    }
    assert len(ckpts_before) == 4  # 3 committed + 1 orphan

    sink.vacuum(keep_versions=1, min_age_seconds=0.0)
    left = {n for n in os.listdir(mdir) if n.startswith("files-")}
    import json as _json

    live = _json.load(
        open(os.path.join(mdir, f"v{sink.current_version()}.json"))
    )["files_checkpoint"]
    assert left == {live}
    # table still reads exactly
    assert {r["v"] for r in sink.read().collect()} == {3.0}


def test_bloom_unresolvable_type_skips_pruning(spark, tmp_path):
    """Regression (advice r4): when a probed column's type cannot be
    resolved (schema read failure, or the sampled day predates the
    column), bloom pruning must be SKIPPED for that column (no-info),
    not performed with an uncast literal — the uncast probe hashes '5'
    where the writer hashed '5.0' and silently prunes every file."""
    sink = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts",
        order=["ver"], bloom_cols=["v"],
    )
    sink.upsert(spark.createDataFrame(
        [("a", DAY1, 1, 5.0), ("b", DAY1, 1, 7.5)], SCHEMA))
    # simulate the fallback path: schema resolution raises
    orig = sink._scan
    sink._scan = lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("boom"))
    try:
        cand = sink.bloom_file_candidates({"v": 5})
    finally:
        sink._scan = orig
    # no-info (None) — conservatively scanned, never wrongly pruned
    assert cand == {"2024-01-01": None}
    # a column absent from the schema is likewise skipped, and a read
    # probing a REAL column alongside it still returns exact rows
    assert sink.bloom_file_candidates({"nope": 1}) == {"2024-01-01": None}


def test_bloom_params_persisted_with_sidecar(spark, tmp_path):
    """Regression (advice r4): (bloom_bits, bloom_hashes) are stored with
    the sidecar and probes use the WRITER's sizing — a reader constructed
    with different values must still find the rows instead of computing
    positions against the wrong modulus and pruning matching files."""
    writer = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts",
        order=["ver"], bloom_cols=["k"], bloom_bits=1 << 18, bloom_hashes=5,
    )
    writer.upsert(spark.createDataFrame(
        [(f"user-{i:03d}", DAY1, 1, float(i)) for i in range(50)], SCHEMA))

    reader = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts",
        order=["ver"], bloom_cols=["k"],  # defaults: 1<<16 bits, 7 hashes
    )
    cand = reader.bloom_file_candidates({"k": "user-042"})
    assert cand["2024-01-01"]  # file kept under the stored sizing
    got = reader.read(where_eq={"k": "user-042"}).collect()
    assert [(r["k"], r["v"]) for r in got] == [("user-042", 42.0)]
    # mixed sizings across commits: a second commit under the reader's
    # own defaults probes correctly too (per-commit params resolution)
    reader.upsert(spark.createDataFrame([("zz", DAY2, 1, 9.0)], SCHEMA))
    assert {r["k"] for r in reader.read(where_eq={"k": "zz"}).collect()} == {"zz"}
    assert {
        r["k"] for r in writer.read(where_eq={"k": "user-007"}).collect()
    } == {"user-007"}


def test_bloom_sidecar_write_parallel_multi_day(spark, tmp_path):
    """The sidecar write partitions by day (no coalesce(1)); a multi-day
    commit still yields a probe-able sidecar per day with exact results."""
    sink = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts",
        order=["ver"], bloom_cols=["k"],
    )
    rows = [(f"d1-{i}", DAY1, 1, float(i)) for i in range(20)] + [
        (f"d2-{i}", DAY2, 1, float(i)) for i in range(20)
    ]
    sink.upsert(spark.createDataFrame(rows, SCHEMA))
    cand = sink.bloom_file_candidates({"k": "d2-7"})
    assert cand["2024-01-02"] and len(cand["2024-01-02"]) >= 1
    assert cand["2024-01-01"] is not None and len(cand["2024-01-01"]) == 0
    assert {r["k"] for r in sink.read(where_eq={"k": "d2-7"}).collect()} == {"d2-7"}


def test_stats_rows_empty_day_filter_raises(spark, tmp_path):
    """Regression (review r4): a day filter matching nothing must raise
    like read() does, not return a confident 0."""
    sink = make_sink(spark, tmp_path)
    sink.upsert(spark.createDataFrame([("a", DAY1, 1, 1.0)], SCHEMA))
    with pytest.raises(ValueError, match="no partitions to count"):
        sink.stats_rows(days=["2031-01-01"])


def test_delete_fast_deletion_vectors(spark, tmp_path):
    """delete_fast suppresses keys WITHOUT rewriting the day's data:
    reads exclude them immediately (all prune paths), time travel still
    sees them, changes() emits D rows with pre-images and the roundtrip
    property holds, a later upsert of the day materializes the DV and
    resurrects re-inserted keys, compact clears every DV, and vacuum
    keeps DV commits alive."""
    sink = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts",
        order=["ver"], stats_cols=["v"],
    )
    sink.upsert(spark.createDataFrame(
        [("a", DAY1, 1, 1.0), ("b", DAY1, 1, 2.0), ("c", DAY2, 1, 3.0)],
        SCHEMA))
    v1 = sink.current_version()
    data_rel_v1 = sink._load_manifest(v1)["2024-01-01"]

    v2 = sink.delete_fast(spark.createDataFrame([("a", DAY1, 1, 0.0)], SCHEMA))
    # data partition untouched — only the manifest's dvs section moved
    assert sink._load_manifest(v2)["2024-01-01"] == data_rel_v1
    assert "2024-01-01" in sink._load_dvs(v2)
    assert table(sink) == {"b": 2.0, "c": 3.0}
    assert table_at(sink, v1) == {"a": 1.0, "b": 2.0, "c": 3.0}  # time travel
    # pruned read paths apply the DV too
    assert {r["k"] for r in sink.read(where={"v": (0.0, 10.0)}).collect()} == {"b", "c"}
    # counts are unknown for DV'd days — never a stale number
    assert sink.stats_rows() is None
    assert sink.stats_rows(days=["2024-01-02"]) == 1

    # changes(): the suppression surfaces as D with the pre-image
    ch = {r["k"]: r for r in sink.changes(v1, v2).collect()}
    assert {k: r["_op"] for k, r in ch.items()} == {"a": "D"}
    assert ch["a"]["v"] == 1.0

    # cumulative second DV on the same day
    v3 = sink.delete_fast(spark.createDataFrame([("b", DAY1, 1, 0.0)], SCHEMA))
    assert table(sink) == {"c": 3.0}
    ch2 = {r["k"]: r["_op"] for r in sink.changes(v1, v3).collect()}
    assert ch2 == {"a": "D", "b": "D"}

    # upsert of the day materializes the DV: entry cleared, re-inserted
    # key resurrects, still-suppressed key stays gone
    sink.upsert(spark.createDataFrame([("a", DAY1, 2, 10.0)], SCHEMA))
    assert "2024-01-01" not in sink._load_dvs(sink.current_version())
    assert table(sink) == {"a": 10.0, "c": 3.0}
    assert sink.stats_rows() == 2  # counts exact again after materialize

    # delete_fast on an absent day is a no-op; vacuum keeps DV commits
    v_now = sink.current_version()
    far = dt.datetime(2030, 5, 5)
    assert sink.delete_fast(
        spark.createDataFrame([("zz", far, 1, 0.0)], SCHEMA)) == v_now
    sink.delete_fast(spark.createDataFrame([("c", DAY2, 1, 0.0)], SCHEMA))
    sink.vacuum(keep_versions=1, min_age_seconds=0.0)
    assert table(sink) == {"a": 10.0}  # DV survived vacuum

    # compact materializes everything: rows physically gone, dvs empty
    v_c = sink.compact()
    assert v_c is not None and sink._load_dvs(v_c) == {}
    assert table(sink) == {"a": 10.0}


def table_at(sink, version) -> dict[str, float]:
    return {r["k"]: r["v"] for r in sink.read(version=version).collect()}


def test_bloom_lookup_of_dv_suppressed_key_is_empty(spark, tmp_path):
    """Index composition: the bloom file index still MATCHES a suppressed
    key's file (DVs don't rewrite blooms — the sidecar describes a sound
    superset), and the DV anti-join then removes the row. The lookup
    returns empty, exactly, through the pruned-path read."""
    sink = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts",
        order=["ver"], bloom_cols=["k"],
    )
    sink.upsert(spark.createDataFrame(
        [("u1", DAY1, 1, 1.0), ("u2", DAY1, 1, 2.0)], SCHEMA))
    sink.delete_fast(spark.createDataFrame([("u1", DAY1, 1, 0.0)], SCHEMA))
    assert sink.read(where_eq={"k": "u1"}).count() == 0
    assert {r["k"] for r in sink.read(where_eq={"k": "u2"}).collect()} == {"u2"}
    # bloom candidates still name the file (superset is sound, not wrong)
    cand = sink.bloom_file_candidates({"k": "u1"})
    assert cand["2024-01-01"]


def test_concurrent_delete_fast_and_upsert_serialize(spark, tmp_path):
    """Two DV writers plus an upserter racing the CAS must all commit
    (retries), and the final state must reflect ALL of them: both DVs
    applied, the upserted key present — no lost deletion vectors (the
    retry reloads the dvs map and re-unions, like upsert re-merges)."""
    sink = make_sink(spark, tmp_path)
    sink.upsert(spark.createDataFrame(
        [("a", DAY1, 1, 1.0), ("b", DAY1, 1, 2.0), ("c", DAY1, 1, 3.0)],
        SCHEMA))
    errors = []

    def dv(key):
        def run():
            try:
                sink.delete_fast(
                    spark.createDataFrame([(key, DAY1, 1, 0.0)], SCHEMA))
            except Exception as e:  # pragma: no cover
                errors.append(e)
        return run

    def up():
        try:
            sink.upsert(spark.createDataFrame([("d", DAY2, 1, 4.0)], SCHEMA))
        except Exception as e:  # pragma: no cover
            errors.append(e)

    ts = [threading.Thread(target=f) for f in (dv("a"), dv("b"), up)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors
    assert sink.current_version() == 4  # three serialized commits
    assert table(sink) == {"c": 3.0, "d": 4.0}
    # both keys live in the (cumulative) day-1 DV
    dv_rel = sink._load_dvs(sink.current_version())["2024-01-01"]
    dv_keys = {r["k"] for r in spark.read.parquet(
        os.path.join(str(tmp_path / "tbl"), dv_rel)).collect()}
    assert dv_keys == {"a", "b"}


def test_where_in_multi_key_bloom_lookup(spark, tmp_path):
    """where_in: a multi-key point lookup prunes through the bloom index
    with OR semantics (a file survives when ANY probed value matches),
    returns exactly the matching rows, and composes with deletion
    vectors. A column may not appear in both where_eq and where_in."""
    sink = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts",
        order=["ver"], stats_cols=["v"], bloom_cols=["k"],
    )
    rows = [(f"user-{i:04d}", DAY1, 1, float(i)) for i in range(200)]
    sink.upsert(spark.createDataFrame(rows, SCHEMA))
    assert sink.compact(max_records_per_file=50) is not None

    want = {"user-0007", "user-0123", "user-0190"}
    got = sink.read(where_in={"k": sorted(want) + ["user-9999"]})
    assert {r["k"] for r in got.collect()} == want
    cand = sink.bloom_file_candidates(where_in={"k": sorted(want)})
    kept = cand["2024-01-01"]
    # three keys spread over ≤3 of the 4 files; OR must keep them all
    assert kept is not None and 1 <= len(kept) <= 3

    # composes with a deletion vector
    sink.delete_fast(spark.createDataFrame([("user-0123", DAY1, 1, 0.0)], SCHEMA))
    got2 = sink.read(where_in={"k": sorted(want)})
    assert {r["k"] for r in got2.collect()} == want - {"user-0123"}

    with pytest.raises(ValueError, match="both where_eq and where_in"):
        sink.read(where_eq={"k": "x"}, where_in={"k": ["y"]})
    with pytest.raises(ValueError, match="is empty"):
        sink.read(where_in={"k": []})


# ---------------------------------------------------------------- column map


def test_rename_column_metadata_only(spark, tmp_path):
    """rename_column is a metadata-only commit: no data dir changes, old
    files read under the new name, filters and batches speak the new
    name (old name raises loudly), time travel shows the old name, and
    the mapping survives a sink reopen."""
    sink = make_sink(spark, tmp_path)
    sink.upsert(
        spark.createDataFrame([("a", DAY1, 1, 1.0), ("b", DAY2, 1, 2.0)], SCHEMA)
    )
    dirs_before = set(os.listdir(tmp_path / "tbl" / "data"))
    v = sink.rename_column("v", "value")
    assert v == 2
    assert set(os.listdir(tmp_path / "tbl" / "data")) == dirs_before  # no rewrite
    got = {r["k"]: r["value"] for r in sink.read().collect()}
    assert got == {"a": 1.0, "b": 2.0}
    assert "v" not in sink.read().columns
    # time travel: the pre-rename snapshot reads under its own schema
    assert "v" in sink.read(version=1).columns
    # filters translate through zone maps by the new name; old name raises
    assert {r["k"] for r in sink.read(where_eq={"value": 2.0}).collect()} == {"b"}
    with pytest.raises(ValueError, match="renamed"):
        sink.read(where_eq={"v": 2.0})
    # upserts speak the new name and merge against the old physical rows
    sink.upsert(
        spark.createDataFrame(
            [("b", DAY2, 2, 20.0)], "k string, ts timestamp, ver int, value double"
        )
    )
    got = {r["k"]: r["value"] for r in sink.read().collect()}
    assert got == {"a": 1.0, "b": 20.0}
    # a batch still using the OLD name raises instead of forking a column
    with pytest.raises(ValueError, match="renamed"):
        sink.upsert(spark.createDataFrame([("c", DAY1, 1, 3.0)], SCHEMA))
    # mapping persists across a fresh sink object
    sink2 = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts", order=["ver"]
    )
    assert "value" in sink2.read().columns
    # CDF speaks the destination version's logical schema
    ch = sink2.changes(1)
    assert "value" in ch.columns and "v" not in ch.columns
    # rename collision and identity-table columns are refused
    with pytest.raises(ValueError, match="already exists"):
        sink2.rename_column("value", "ver")
    with pytest.raises(ValueError, match="identity"):
        sink2.rename_column("k", "key")


def test_drop_column_hides_without_rewrite(spark, tmp_path):
    """drop_column hides the physical column from read/CDF without
    rewriting data; re-adding the name raises; time travel still shows
    it; compaction preserves the mapping and the hidden data."""
    sink = make_sink(spark, tmp_path)
    sink.upsert(
        spark.createDataFrame([("a", DAY1, 1, 1.0), ("b", DAY2, 1, 2.0)], SCHEMA)
    )
    sink.rename_column("v", "value")
    v = sink.drop_column("value")
    assert "value" not in sink.read().columns
    assert "v" not in sink.read().columns
    # time travel before the drop (and before the rename) still reads it
    assert {r["k"]: r["v"] for r in sink.read(version=1).collect()} == {
        "a": 1.0, "b": 2.0,
    }
    # writing the dropped PHYSICAL name raises — resurrection guard
    with pytest.raises(ValueError, match="dropped"):
        sink.upsert(spark.createDataFrame([("c", DAY1, 1, 3.0)], SCHEMA))
    # filters raise rather than silently scanning hidden data ('v' is
    # the dropped physical; 'value' no longer names anything)
    with pytest.raises(ValueError, match="dropped"):
        sink.read(where_eq={"v": 1.0})
    # RE-ADDING the renamed-then-dropped LOGICAL name is allowed: it
    # lands in a fresh physical slot and the hidden 'v' data must NOT
    # resurrect under it (Delta's fresh-field-id re-add)
    sink.upsert(
        spark.createDataFrame(
            [("c", DAY1, 2, 3.0)],
            "k string, ts timestamp, ver int, value double",
        )
    )
    got = {r["k"]: r["value"] for r in sink.read().collect()}
    assert got == {"a": None, "b": None, "c": 3.0}
    # compaction rewrites physically and carries the mapping forward:
    # the dropped 'v' stays hidden, the fresh 'value' column survives
    assert sink.compact() == v + 2
    assert "v" not in sink.read().columns
    got = {r["k"]: r["value"] for r in sink.read().collect()}
    assert got == {"a": None, "b": None, "c": 3.0}
    # identity columns refuse to drop
    with pytest.raises(ValueError, match="identity"):
        sink.drop_column("ts")


def test_rename_then_rename_back_clears_mapping(spark, tmp_path):
    """Renaming back to the original physical name leaves no mapping
    entry — the manifest doesn't accrete no-op indirection."""
    from crypto_market_tracker_etl_spark.operators.txn_sink import (
        manifest_load_schema_map,
    )

    sink = make_sink(spark, tmp_path)
    sink.upsert(spark.createDataFrame([("a", DAY1, 1, 1.0)], SCHEMA))
    sink.rename_column("v", "value")
    sink.rename_column("value", "v")
    sm = manifest_load_schema_map(str(tmp_path / "tbl"), sink.current_version())
    assert sm == {"renames": {}, "dropped": []}
    assert {r["k"]: r["v"] for r in sink.read().collect()} == {"a": 1.0}


def test_chained_renames_translate_order_insensitively(spark, tmp_path):
    """rename(v→z) then rename(ver→v): the logical name 'v' now maps to
    physical 'ver' while physical 'v' answers to 'z' — a sequential
    withColumnRenamed would corrupt both directions; the single-select
    translation must keep read and write exact (review r9)."""
    sink = make_sink(spark, tmp_path)
    sink.upsert(spark.createDataFrame([("a", DAY1, 1, 1.0)], SCHEMA))
    sink.rename_column("v", "z")
    sink.rename_column("ver", "v")
    row = sink.read().collect()[0]
    assert row["z"] == 1.0 and row["v"] == 1  # z=old v, v=old ver
    assert "ver" not in sink.read().columns
    # write under the CURRENT logical names round-trips through merge
    sink.upsert(
        spark.createDataFrame(
            [("a", DAY1, 2, 10.0)], "k string, ts timestamp, v int, z double"
        )
    )
    row = sink.read().collect()[0]
    assert row["z"] == 10.0 and row["v"] == 2
    # order-check via the oracle-free invariant: physical files still
    # carry the original names
    phys = sink._scan(sink._load_manifest(sink.current_version())).columns
    assert "ver" in phys and "v" in phys and "z" not in phys


def test_rename_guards(spark, tmp_path):
    """rename to a dropped physical name, to reserved internals, and on
    an all-days-deleted table all raise descriptive errors (review r9:
    the first would vanish both columns; the second would duplicate
    CDF's _op; the third was a bare StopIteration)."""
    sink = make_sink(spark, tmp_path)
    sink.upsert(spark.createDataFrame([("a", DAY1, 1, 1.0)], SCHEMA))
    sink.drop_column("v")
    with pytest.raises(ValueError, match="dropped physical"):
        sink.rename_column("ver", "v")
    with pytest.raises(ValueError, match="identity"):
        sink.rename_column("ver", "_op")
    with pytest.raises(ValueError, match="identity"):
        sink.rename_column("ver", "dt_part")
    sink.delete(
        spark.createDataFrame(
            [("a", DAY1, 9)], "k string, ts timestamp, ver int"
        )
    )
    assert sink._load_manifest(sink.current_version()) == {}
    with pytest.raises(ValueError, match="no partitions"):
        sink.rename_column("ver", "version")
