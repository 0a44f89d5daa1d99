"""Keyed upsert (merge) semantics — the reference's write path, Spark-first.

The reference upserts row-at-a-time into Postgres with ``INSERT ... ON
CONFLICT DO UPDATE`` on (asset_id, ts) / (asset_id, date) keys (reference
``src/db.py:73-117``). The relational meaning is *keep the latest version of
each key* (last-writer-wins), which distributes as:

- ``dedup_keep_latest``: batch-internal dedup — one shuffle on the key.
- ``merge_upsert``: new ∪ old, keep-latest per key, preferring new rows on
  version ties (the ON CONFLICT update).
- ``ParquetUpsertSink``: a date-partitioned parquet table with MERGE
  semantics: only partitions containing incoming keys are read + rewritten,
  so a day's increment touches a day's partitions — not the 100 TB table.
  Writes are staged to a hidden sibling directory and swapped in per
  partition, so the merge never overwrites the same files it is lazily
  reading, and a default-configured session cannot clobber untouched
  partitions. (Delta's MERGE INTO is the managed version of exactly this;
  parquet keeps the repo dependency-free.) Single-writer by design — the
  reference's daily cron (``.github/workflows/etl.yml``) is one writer too.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .cache import materialize
from .latest import latest_per_key


def dedup_keep_latest(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str | Column],
) -> DataFrame:
    """Collapse duplicate keys to their latest version (reference
    ``src/db.py:93-97`` batch semantics, where later executemany rows win)."""
    return latest_per_key(df, keys, order)


def merge_upsert(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    order: Sequence[str | Column] | None = None,
) -> DataFrame:
    """MERGE: rows from ``new`` replace same-key rows in ``old``.

    With no ``order`` (the reference's ON CONFLICT DO UPDATE), a new row
    ALWAYS wins over an old one with the same key. With ``order``, the
    highest version wins and ``__src`` breaks exact version ties in favor
    of new rows. Columns present on only one side (additive schema
    evolution) surface as null on the other — pairs with the sink's
    mergeSchema read.
    """
    tagged = old.withColumn("__src", F.lit(0)).unionByName(
        new.withColumn("__src", F.lit(1)), allowMissingColumns=True
    )
    return dedup_keep_latest(tagged, keys, [*(order or []), "__src"]).drop("__src")


def merge_upsert_partitioned(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    order: Sequence[str | Column] | None = None,
    part_col: str = "dt",
) -> DataFrame:
    """``merge_upsert`` whose output is already hash-partitioned by
    ``part_col`` — ONE exchange instead of two (r13, guide §2.4).

    The plain form shuffles twice per commit: once on ``keys`` for the
    keep-latest window, then again on the partition column for the
    date-partitioned write. When ``part_col`` is one of the merge keys
    (the day-stable-key contract both sinks document), the union can be
    repartitioned by ``part_col`` FIRST and the window then runs without
    its own exchange: hashpartitioning(part_col) satisfies the window's
    ClusteredDistribution(keys) because part_col ∈ keys — every row of a
    key group is already in one partition. Same winner per key (the sort
    inside each partition is unchanged), so results are identical; only
    the exchange count drops. Callers must check ``part_col in keys``:
    with a non-key partition column this would dedup per (day, key) and
    CHANGE semantics for day-straddling keys.

    Parallelism note: the merge work becomes day-parallel (one task per
    touched day) — exactly the parallelism the partitioned write stage
    already had, so the job's widest stage is unchanged at any scale.
    """
    if part_col not in keys:
        raise ValueError(
            f"merge_upsert_partitioned requires {part_col!r} in keys"
        )
    tagged = old.withColumn("__src", F.lit(0)).unionByName(
        new.withColumn("__src", F.lit(1)), allowMissingColumns=True
    )
    return dedup_keep_latest(
        tagged.repartition(part_col), keys, [*(order or []), "__src"]
    ).drop("__src")


def merge_upsert_with_changes(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    order: Sequence[str | Column] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """MERGE plus a change feed: ``(merged, changes)`` where ``changes``
    is one row per batch key that actually changed the table —
    ``action ∈ {insert, update}`` with the winning row's columns. No-op
    re-deliveries (same key, identical non-key values) are filtered out,
    which is what makes a downstream incremental consumer (cache
    invalidation, daily-aggregate refresh, CDC export) idempotent under
    the reference's overlapping re-fetch windows.

    One extra keyed join against ``old`` beyond plain ``merge_upsert`` —
    same key partitioning, null-safe struct comparison for the diff.
    """
    keys = list(keys)
    non_keys = [c for c in new.columns if c not in keys]
    batch = dedup_keep_latest(new, keys, order or [F.lit(0)])
    prev = old.select(*keys, F.struct(*non_keys).alias("__old"))
    diffed = batch.join(prev, keys, "left")
    new_struct = F.struct(*non_keys)
    action = (
        F.when(F.col("__old").isNull(), F.lit("insert"))
        .when(~new_struct.eqNullSafe(F.col("__old")), F.lit("update"))
        .otherwise(F.lit("noop"))
    )
    changes = (
        diffed.withColumn("action", action)
        .filter(F.col("action") != "noop")
        .drop("__old")
    )
    return merge_upsert(old, batch, keys, order), changes


class ParquetUpsertSink:
    """Date-partitioned parquet table with keyed-upsert writes.

    Layout: ``path/dt=YYYY-MM-DD/*.parquet``. ``upsert(batch)`` rewrites only
    the partitions the batch touches (partition pruning on read + dynamic
    partition overwrite on write). Rows with a NULL ``ts_col`` have no day:
    they land under Hive's default-partition dir, and because NULL never
    equi-joins, a later NULL-ts batch replaces that dir WITHOUT merging it
    — same keyed contract as everywhere else: feed date-valid rows (the
    transactional sink rejects NULL-ts batches outright).

    **Concurrency contract — SINGLE WRITER.** The reference's Postgres
    ``INSERT .. ON CONFLICT`` (``src/db.py:87-99``) is transactional:
    concurrent writers serialize, neither loses the other's rows. This sink
    deliberately is not — plain parquet has no commit log to coordinate
    through. What stage-and-swap does and does not give:

    - *Per-partition atomicity for readers*: each ``dt=`` directory is
      swapped with ``os.replace``, so a reader lists either the old or the
      new complete directory, never in-flight files. A reader scanning
      MULTIPLE partitions mid-swap can still observe partition A new +
      partition B old (no cross-partition snapshot).
    - *Last-swap-wins for concurrent writers*: two upserts that both read
      the pre-state and then swap will each install a complete, well-formed
      partition, but the second swap replaces the first — the first
      writer's rows are silently lost (the classic lost-update anomaly;
      ``test_upsert_sink_concurrent_writers_last_swap_wins`` pins this
      down). Run one writer at a time — matching the reference's actual
      topology, a single daily cron (``.github/workflows/etl.yml``).
    - *Wanting true multi-writer MERGE* means a table format with a
      transaction log. ``operators/txn_sink.py::ManifestParquetSink``
      provides exactly that in-repo (immutable data + atomic manifest CAS,
      the Iceberg/Delta design on plain parquet): lost-update-free
      concurrent upserts, cross-partition snapshot reads, time travel.
      Both sinks run the same ``merge_upsert`` logical plan — choosing is
      a write-path decision, not a merge-logic one. Prefer THIS sink when
      there is provably one writer (it is simpler and has no manifest to
      vacuum); prefer the manifest sink whenever writers can overlap.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str],
        ts_col: str,
        order: Sequence[str] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.ts_col = ts_col
        self.order = list(order or [ts_col])

    def _exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            name.startswith("dt=") for name in os.listdir(self.path)
        )

    def read(self) -> DataFrame:
        # mergeSchema: partitions written before a column existed read as
        # null for it — additive schema evolution without any rewrite
        return self.spark.read.option("mergeSchema", "true").parquet(self.path)

    def upsert(self, batch: DataFrame) -> None:
        batch = batch.withColumn("dt", F.to_date(self.ts_col))
        if self._exists():
            # touched partitions only, selected by a broadcast semi-join on
            # the batch's distinct days: no driver collect, and the 1-row-
            # per-day build side triggers dynamic partition pruning so the
            # table scan reads only those dt= directories.
            touched = F.broadcast(batch.select("dt").distinct())
            old = self.read().join(touched, "dt", "left_semi")
            if "dt" in self.keys:
                # single-exchange MERGE (r13, guide §2.4): the union is
                # partitioned by dt once — the window dedup AND the
                # partitioned write both reuse it (see
                # merge_upsert_partitioned; only valid with dt in keys)
                merged = merge_upsert_partitioned(
                    old, batch, self.keys, self.order
                )
                self._stage_and_swap_writer(merged.write)
                return
            merged = merge_upsert(old, batch, self.keys, self.order)
        else:
            if "dt" in self.keys:
                merged = dedup_keep_latest(
                    batch.repartition("dt"), self.keys, self.order
                )
                self._stage_and_swap_writer(merged.write)
                return
            merged = dedup_keep_latest(batch, self.keys, self.order)
        self._stage_and_swap(merged)

    def upsert_with_changes(self, batch: DataFrame) -> DataFrame:
        """``upsert`` that also returns the CDC rows (insert/update per
        key, no-op re-deliveries absent) — the input a downstream
        incremental consumer needs (e.g. ``refresh_daily_metrics`` on
        exactly the days whose data actually changed, instead of every
        day the batch mentions).

        The change feed diffs against the PRE-swap table, so it is
        materialized (eager checkpoint) before the write replaces the
        files its plan reads — the same lazy-read hazard stage-and-swap
        exists to prevent, solved the same way.
        """
        batch = batch.withColumn("dt", F.to_date(self.ts_col))
        if self._exists():
            touched = F.broadcast(batch.select("dt").distinct())
            old = self.read().join(touched, "dt", "left_semi")
            merged, changes = merge_upsert_with_changes(
                old, batch, self.keys, self.order
            )
        else:
            merged = dedup_keep_latest(batch, self.keys, self.order)
            changes = merged.withColumn("action", F.lit("insert"))
        changes = materialize(changes)
        self._stage_and_swap(merged)
        return changes

    def expire(self, before_date: str) -> list[str]:
        """Retention: drop whole partitions strictly older than
        ``before_date`` (ISO day). Partition-dir removal only — no file
        rewrite, no scan of surviving data, which is the entire point of
        date-partitioned retention at 100 TB (deleting a year of history
        is a directory unlink per day, not a table rewrite). Returns the
        removed partition names."""
        removed = []
        if not os.path.isdir(self.path):
            return removed
        for name in sorted(os.listdir(self.path)):
            if not name.startswith("dt="):
                continue
            if name[len("dt="):] < before_date:
                shutil.rmtree(os.path.join(self.path, name))
                removed.append(name)
        return removed

    def drop_days(self, days) -> list[str]:
        """Remove SPECIFIC whole days (ISO strings): one directory unlink
        per day, same layout-native mechanics as ``expire`` but targeted —
        what a feed-driven maintainer uses when an upstream day was fully
        deleted and its derived rows must go too. Returns removed names."""
        removed = []
        want = set(days)
        if not os.path.isdir(self.path):
            return removed
        for name in sorted(os.listdir(self.path)):
            if name.startswith("dt=") and name[len("dt="):] in want:
                shutil.rmtree(os.path.join(self.path, name))
                removed.append(name)
        return removed

    def compact(self, max_records_per_file: int = 1_000_000) -> None:
        """Rewrite the table with one writer task per partition, splitting
        only past ``max_records_per_file`` — the small-file compaction every
        incremental parquet table needs (each upsert batch leaves its own
        files; scan-task count grows with batch count, not data size, until
        compaction folds them). Same stage-and-swap write path as upsert:
        readers never observe a half-compacted partition."""
        compacted = (
            self.read()
            .repartition("dt")
            .write.option("maxRecordsPerFile", max_records_per_file)
        )
        self._stage_and_swap_writer(compacted)

    def _stage_and_swap(self, merged: DataFrame) -> None:
        self._stage_and_swap_writer(merged.repartition("dt").write)

    def _stage_and_swap_writer(self, writer) -> None:
        """Write partitions to a hidden staging dir, then swap each ``dt=``
        directory into the table.

        Two failure modes this removes vs. a direct ``mode("overwrite")``
        of the table path: (a) the plan lazily READS the very partitions
        the write would replace — staging materializes the full result
        before any target file is touched; (b) without
        ``partitionOverwriteMode=dynamic`` on the session, a static
        overwrite would DELETE every untouched partition — the swap only
        ever replaces directories the write produced. The underscore prefix
        keeps Spark's parquet reader from listing in-flight staging files.
        """
        staging = os.path.join(self.path, f"_staging_{uuid.uuid4().hex}")
        try:
            writer.mode("overwrite").partitionBy("dt").parquet(staging)
            for name in os.listdir(staging):
                if not name.startswith("dt="):
                    continue  # _SUCCESS and friends
                target = os.path.join(self.path, name)
                if os.path.isdir(target):
                    shutil.rmtree(target)
                os.replace(os.path.join(staging, name), target)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
