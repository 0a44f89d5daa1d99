"""Keyed upsert (merge) semantics — the reference's write path, Spark-first.

The reference upserts row-at-a-time into Postgres with ``INSERT ... ON
CONFLICT DO UPDATE`` on (asset_id, ts) / (asset_id, date) keys (reference
``src/db.py:73-117``). The relational meaning is *keep the latest version of
each key* (last-writer-wins), which distributes as:

- ``dedup_keep_latest``: batch-internal dedup — one shuffle on the key.
- ``merge_upsert``: new ∪ old, keep-latest per key, preferring new rows on
  version ties (the ON CONFLICT update).
- ``merge_upsert_partitioned``: the same MERGE already hash-partitioned by
  the day column, for tables whose day is a merge key.

These are the merge core of ``operators/txn_sink.py::ManifestParquetSink``,
the one keyed-MERGE table: it reads the touched days of a snapshot, runs
one of these plans against the batch, and commits the result through a
manifest CAS, so concurrent writers serialize like the reference's
transactional ON CONFLICT.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

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
    (the day-stable-key contract the sink documents), the union can be
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
