"""The manifest table's change feed as a registrable Spark STREAMING
source (Python Data Source API, Spark 4):

    register_cdf(spark)
    spark.readStream.format("manifest_cdf")
         .option("path", table_path).option("keys", "k").load()

— the streaming form of ``ManifestParquetSink.changes`` (Delta's
``readChangeFeed`` surface): each micro-batch delivers the keyed I/U/D
diff between two table versions, with the version number as the stream
OFFSET. Offsets are replayable (any (v1, v2) window recomputes
deterministically — manifests and data dirs are immutable), so checkpoint
recovery never duplicates or drops changes, WITHIN VACUUM RETENTION:
replaying an offset whose manifest was vacuumed fails loudly, the same
contract as ``changes_since_checkpoint``.

The reader is a partitioned ``DataSourceStreamReader``. The driver
touches only the two ~KB manifests (``partitions`` plans from manifest +
zone-stats row counts alone); each executor task reads both versions of
ONE day — or, when the day's recorded rows exceed ``maxRowsPerTask``
(default 1 M), one KEY-HASH SLICE of the day, stream-filtered batch by
batch so per-task memory stays bounded by the slice — and emits that
slice's diff (``_diff_select``). Correct because a key's day is stable by
the sink's contract (the partition date derives from an event time that
identifies the key — ``changes()`` documents the same invariant) and the
slice hash is a pure function of the key, so no diff pair ever spans two
tasks. Scale follows the cluster in BOTH dimensions: 365 changed days =
365 parallel tasks, and one re-ingested 500 GB hot day still fans out as
rows/maxRowsPerTask slices instead of one task holding 2× the day in
pandas (SCALE.md §CDF).

Semantics match ``changes()`` exactly: I/U rows carry the NEW values, D
rows the deleted row's PRE-IMAGE; a day whose manifest entry is identical
between versions is never read.

Options: ``path`` (table root), ``keys`` (comma-separated merge keys),
``startingVersion`` (default 0 — the FIRST batch then delivers the whole
current snapshot as inserts, the CDF bootstrap convention; on a large
existing table pass ``startingVersion = current_version`` to start from
new changes only), ``maxRowsPerTask`` (within-day split threshold).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from typing import NamedTuple

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pa_ds
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType

_SPARK_META_KEY = b"org.apache.spark.sql.parquet.row.metadata"

# ONE implementation of the manifest layout, shared with the sink — a
# format change (e.g. manifest sharding) lands in the sink and this reader
# at once
from ..operators.txn_sink import (  # noqa: E402
    manifest_current_version as _current_version,
    manifest_load as _load_manifest,
    manifest_load_dvs as _load_dvs,
    manifest_load_stats as _load_stats,
)


def _table_schema(path: str) -> StructType:
    """The table's Spark schema, reconstructed from the footer metadata
    Spark itself wrote into the live data files — no type-mapping table to
    drift out of sync. Fields are UNIONED across the manifest's distinct
    commits (first-appearance order): under additive schema evolution
    different partitions carry different vintages, and sampling one
    arbitrary file would nondeterministically drop late-added columns
    from the whole feed."""
    # the CURRENT manifest may be empty (deletes emptied the table) while
    # older retained manifests still reference data, so walk retention
    manifest: dict[str, str] = {}
    for v in range(_current_version(path), 0, -1):
        try:
            manifest = _load_manifest(path, v)
        except FileNotFoundError:
            break  # vacuumed past here
        if manifest:
            break
    if not manifest:
        raise ValueError(
            f"{path} has no data-bearing commits within retention; the cdf "
            "stream needs a table schema — start it after the first upsert"
        )
    # one footer read per distinct COMMIT (a commit's partitions share a
    # write schema), unioned by field name
    commits: dict[str, str] = {}
    for rel in manifest.values():
        commits.setdefault(rel.split(os.sep)[1], rel)
    fields: dict[str, object] = {}
    for rel in commits.values():
        meta = pa_ds.dataset(os.path.join(path, rel)).schema.metadata or {}
        if _SPARK_META_KEY not in meta:
            raise ValueError(
                f"{path} data files carry no Spark schema metadata"
            )
        for f in StructType.fromJson(json.loads(meta[_SPARK_META_KEY])):
            prev = fields.get(f.name)
            if prev is None:
                fields[f.name] = f
            elif prev.dataType != f.dataType:
                # same-name field with a DIFFERENT type across commits:
                # keeping the first-appearance type silently would misread
                # the other vintage's files. Numeric widenings resolve to
                # the wider type (safe: the row build emits plain Python
                # ints/floats either way); anything else is a rewrite the
                # additive-evolution contract excludes — loud.
                widened = _widen(prev.dataType, f.dataType)
                if widened is None:
                    raise ValueError(
                        f"{path}: column '{f.name}' changes type across "
                        f"commits ({prev.dataType.typeName()} vs "
                        f"{f.dataType.typeName()}) — only additive or "
                        "numeric-widening schema evolution is supported"
                    )
                fields[f.name] = StructField(f.name, widened, True)
    return StructType(list(fields.values()))


# numeric widening chains: later entries can represent every earlier one
_WIDEN_INT = ["byte", "short", "integer", "long"]
_WIDEN_FLOAT = ["float", "double"]


def _widen(a, b):
    """The wider of two Spark numeric types along the int or float chain,
    or None when the pair is not a pure widening (int→double included:
    crossing chains loses 64-bit int exactness, so it stays loud)."""
    ta, tb = a.typeName(), b.typeName()
    for chain in (_WIDEN_INT, _WIDEN_FLOAT):
        if ta in chain and tb in chain:
            return a if chain.index(ta) >= chain.index(tb) else b
    return None


def _read_days(path: str, manifest: dict[str, str], days) -> pd.DataFrame:
    dirs = [os.path.join(path, manifest[d]) for d in days if d in manifest]
    if not dirs:
        return pd.DataFrame()
    # One dataset per directory, concatenated with PERMISSIVE promotion:
    # a union dataset would refuse mixed physical int widths across
    # commit vintages (int32 vs int64 under widening evolution), while
    # permissive concat widens them. integer_object_nulls keeps int
    # columns exact through pandas — an int64 column absent from one
    # vintage gains nulls, and the default NaN-promotion to float64 would
    # corrupt values past 2^53 (2^60 == 2^60+1), suppressing updates.
    tables = [pa_ds.dataset(p).to_table() for p in dirs]
    merged = (
        tables[0]
        if len(tables) == 1
        else pa.concat_tables(tables, promote_options="permissive")
    )
    return merged.to_pandas(integer_object_nulls=True)


def _key_slice_mask(
    frame: pd.DataFrame, keys: list[str], idx: int, n: int
) -> pd.Series:
    """Boolean mask selecting ``frame`` rows whose KEY belongs to hash
    slice ``idx`` of ``n``. The hash is a pure function of the key
    VALUES (stringified, so physical int width under widening evolution
    cannot split a key across slices) and pandas' fixed-key siphash —
    deterministic across processes, so the old and new side of a day
    always agree on a key's slice, which is what makes the union of
    per-slice diffs equal the whole-day diff."""
    h = pd.util.hash_pandas_object(
        frame[keys].astype("string").fillna("\0"), index=False
    )
    return (h % n) == idx


def _read_days_slice(
    path: str,
    manifest: dict[str, str],
    days,
    keys: list[str],
    idx: int,
    n: int,
) -> pd.DataFrame:
    """``_read_days`` restricted to one key-hash slice, streamed batch by
    batch so a task never materializes more than (its slice + one Arrow
    batch) — the memory bound that lets ONE huge changed day split
    across many tasks instead of loading 2× the day into a single task's
    pandas. Per-dir tables are concatenated with the same permissive
    promotion as ``_read_days``."""
    dirs = [os.path.join(path, manifest[d]) for d in days if d in manifest]
    if not dirs:
        return pd.DataFrame()
    tables = []
    for p in dirs:
        ds = pa_ds.dataset(p)
        kept = [
            filtered
            for batch in ds.to_batches()
            if batch.num_rows
            and (
                filtered := batch.filter(
                    pa.array(
                        _key_slice_mask(
                            # integer_object_nulls: an int key column with
                            # a null in THIS batch would NaN-promote to
                            # float64 and render '5.0' where a null-free
                            # batch renders '5' — same key, different
                            # slice, and the old/new pair of a changed key
                            # splits across tasks (spurious D+I instead of
                            # U). Object-int keeps ints rendering as ints
                            # in every batch. (review r5)
                            batch.select(keys).to_pandas(
                                integer_object_nulls=True
                            ),
                            keys, idx, n,
                        ).to_numpy(dtype=bool)
                    )
                )
            ).num_rows
        ]
        tables.append(
            pa.Table.from_batches(kept, schema=ds.schema)
            if kept
            else ds.schema.empty_table()
        )
    merged = (
        tables[0]
        if len(tables) == 1
        else pa.concat_tables(tables, promote_options="permissive")
    )
    return merged.to_pandas(integer_object_nulls=True)


_INT_TYPES = {"byte", "short", "integer", "long"}


class _CdfConf(NamedTuple):
    """Everything the reader derives from (options, schema), parsed once."""

    path: str
    keys: list[str]
    start_version: int
    cols: list[str]       # data columns, declared order (no _op/_commit_*)
    non_keys: list[str]
    int_cols: list[str]   # integer columns, read as nullable Int64
    rows_per_task: int    # within-day split threshold


def _parse_conf(options: dict, schema: StructType) -> _CdfConf:
    if "path" not in options or "keys" not in options:
        raise ValueError("manifest_cdf requires options 'path' and 'keys'")
    keys = [k.strip() for k in options["keys"].split(",") if k.strip()]
    fields = [
        f for f in schema.fields if f.name not in ("_op", "_commit_version")
    ]
    cols = [f.name for f in fields]
    return _CdfConf(
        path=options["path"],
        keys=keys,
        start_version=int(options.get("startingversion", "0")),
        cols=cols,
        non_keys=[c for c in cols if c not in keys],
        int_cols=[f.name for f in fields if f.dataType.typeName() in _INT_TYPES],
        # split threshold: 1 M rows/day is the measured comfortable
        # single-task size (SCALE.md §CDF: 2.3 s drain, bounded pandas);
        # below it the unsplit path avoids the split's n× day-decode
        # amplification (every slice scans the day's batches and keeps
        # 1/n — memory-bounded, but n× the decode work, SCALE.md §CDF-split)
        rows_per_task=int(options.get("maxrowspertask", "1000000")),
    )


def _normalize(frame: pd.DataFrame, conf: _CdfConf) -> pd.DataFrame:
    """Align a side of the diff to the declared columns. (1) reindex to
    exactly conf.cols: under additive schema evolution one side may
    predate a column — without the reindex, pandas merge suffixes only
    SHARED columns and the per-side lookups KeyError (a poison-pill
    replay). (2) integer columns go to nullable Int64: a plain int64
    column NaN-promotes to float64 the moment any I/D row appears,
    silently corrupting values past 2^53 and making 2^60 == 2^60+1
    compare equal (a suppressed update)."""
    frame = frame.reindex(columns=conf.cols)
    for c in conf.int_cols:
        frame[c] = frame[c].astype("Int64")
    return frame


def _load_window(
    path: str, v1: int, v2: int
) -> tuple[dict, dict, dict, dict]:
    """(old_manifest, new_manifest, old_dvs, new_dvs) of a diff window,
    or a loud resync error if vacuum retention has removed either."""
    try:
        return (
            _load_manifest(path, v1),
            _load_manifest(path, v2),
            _load_dvs(path, v1),
            _load_dvs(path, v2),
        )
    except FileNotFoundError as e:
        raise ValueError(
            f"cdf stream offset references version {v1} or {v2} of "
            f"{path}, which vacuum retention has removed — resync: restart "
            "the stream with a fresh checkpoint (the first batch "
            "re-delivers the current snapshot as inserts)"
        ) from e


def _changed_days(
    old_m: dict, new_m: dict, old_dv: dict, new_dv: dict
) -> list[str]:
    """Days whose data dir OR deletion vector was repointed — a
    delete_fast commit changes only the latter, and its suppressed keys
    must surface as _op='D'."""
    return sorted(
        d
        for d in set(old_m) | set(new_m)
        if old_m.get(d) != new_m.get(d) or old_dv.get(d) != new_dv.get(d)
    )


def _minus_dv_keys(
    frame: pd.DataFrame, dv: pd.DataFrame, keys: list[str]
) -> pd.DataFrame:
    """Apply a deletion vector: drop ``frame`` rows whose key appears in
    ``dv`` (the pandas twin of the sink's _scan_live anti-join)."""
    if frame.empty or dv.empty:
        return frame
    marked = frame.merge(
        dv[keys].drop_duplicates(), on=keys, how="left", indicator=True
    )
    return marked[marked["_merge"] == "left_only"].drop(columns="_merge")


def _diff_select(
    old: pd.DataFrame, new: pd.DataFrame, conf: _CdfConf
) -> pd.DataFrame | None:
    """The diff core: outer-merge two normalized
    snapshots of the same day set and SELECT the (I, U, D) change rows —
    returned as a pandas frame with columns ``conf.cols + ['_op']``
    (I/U carry the NEW values, D the deleted row's PRE-IMAGE).

    Selection is vectorized (one null-safe inequality mask per non-key
    column — a python-loop compare was the round-3 reader's throughput
    ceiling), so only the CHANGE rows flow to the emission step and cost
    scales with the diff size, not the scanned day size."""
    if old.empty and new.empty:
        return None
    merged = old.merge(
        new,
        on=conf.keys,
        how="outer",
        suffixes=("_old", "_new"),
        indicator=True,
    )
    is_ins = (merged["_merge"] == "right_only").to_numpy()
    is_del = (merged["_merge"] == "left_only").to_numpy()
    is_both = ~is_ins & ~is_del
    # null-safe per-column inequality: NA on exactly one side IS a change
    # (the NULL→value flip); bare `==` would yield pd.NA there and
    # bool(pd.NA) raises — the round-3 poison pill. Kleene `&`/`|` over
    # nullable boolean masks resolves it vectorized: fillna(False) applies
    # only after the NA-pattern term has already captured the flip.
    changed = pd.Series(False, index=merged.index)
    for c in conf.non_keys:
        o, n = merged[f"{c}_old"], merged[f"{c}_new"]
        o_na, n_na = o.isna(), n.isna()
        neq_vals = pd.Series(o != n, index=merged.index)
        neq = (o_na != n_na) | (
            ~o_na & ~n_na & neq_vals.fillna(False).astype(bool)
        )
        changed |= neq.fillna(False).astype(bool)
    is_upd = is_both & changed.to_numpy()

    groups: list[pd.DataFrame] = []
    for mask, op, side in (
        (is_ins, "I", "_new"),
        (is_upd, "U", "_new"),
        (is_del, "D", "_old"),  # pre-image, like changes()
    ):
        if not mask.any():
            continue
        sub = merged.loc[mask]
        data = {
            c: (sub[c] if c in conf.keys else sub[f"{c}{side}"]).reset_index(
                drop=True
            )
            for c in conf.cols
        }
        g = pd.DataFrame(data)
        g["_op"] = op
        groups.append(g)
    if not groups:
        return None
    return pd.concat(groups, ignore_index=True)


def _to_record_batch(
    sel: pd.DataFrame, schema: StructType, v2: int
) -> pa.RecordBatch:
    """Change rows as ONE Arrow RecordBatch conforming to the declared
    schema — the reader's emission. Skips the per-value python
    conversion entirely: columns cast arrow→arrow (pandas
    datetime64 naive carries Spark's UTC-normalized parquet instants, and
    an arrow cast naive→timestamp[us, tz=UTC] interprets naive as UTC —
    exactly the INT96 semantics; nullable Int64 / object-int columns cast
    losslessly to int64)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    pa_schema = to_arrow_schema(schema)
    arrays = []
    for field in pa_schema:
        if field.name == "_op":
            arr = pa.array(sel["_op"].tolist(), type=field.type)
        elif field.name == "_commit_version":
            arr = pa.array([v2] * len(sel), type=field.type)
        else:
            arr = pa.Array.from_pandas(sel[field.name])
            if arr.type != field.type:
                arr = arr.cast(field.type)
        arrays.append(arr)
    return pa.RecordBatch.from_arrays(arrays, schema=pa_schema)


class CdfPartition(InputPartition):
    """One KEY-HASH SLICE of one changed day of one version window:
    everything an executor task needs to read its slice of both versions
    of that day and emit the slice's diff. ``slice_n == 1`` (the common
    case: the day's recorded rows fit one task) reads the whole day."""

    def __init__(
        self,
        day: str,
        old_rel: str | None,
        new_rel: str | None,
        v2: int,
        old_dv_rel: str | None = None,
        new_dv_rel: str | None = None,
        slice_idx: int = 0,
        slice_n: int = 1,
    ):
        self.day = day
        self.old_rel = old_rel
        self.new_rel = new_rel
        self.v2 = v2
        self.old_dv_rel = old_dv_rel
        self.new_dv_rel = new_dv_rel
        self.slice_idx = slice_idx
        self.slice_n = slice_n


class ManifestCdfPartitionedReader(DataSourceStreamReader):
    """Executor-side reader: ``partitions`` plans from the two
    ~KB manifests (+ their zone-stats row counts) only — the driver never
    touches data files — and each task diffs ONE changed day, or one
    key-hash slice of it when the day's recorded rows exceed
    ``maxRowsPerTask``. Sound because a key's day is stable (the sink
    contract ``changes()`` documents) and a key's slice is a pure
    function of its value, so no I/U/D pair spans tasks; the union of
    per-slice diffs IS the window diff."""

    def __init__(self, options: dict, schema: StructType):
        self.conf = _parse_conf(options, schema)
        self.schema = schema  # full declared schema incl. _op/_commit_*

    def initialOffset(self) -> dict:
        return {"version": self.conf.start_version}

    def latestOffset(self) -> dict:
        # never regress below the starting offset: a fresh table reports
        # version 0 < startingVersion and the engine would plan a
        # backwards window
        return {
            "version": max(
                _current_version(self.conf.path), self.conf.start_version
            )
        }

    def partitions(self, start: dict, end: dict):
        v1, v2 = start["version"], end["version"]
        if v2 <= v1:
            return []
        old_m, new_m, old_dv, new_dv = _load_window(self.conf.path, v1, v2)
        # within-day split: a changed day whose RECORDED row count (zone
        # stats, still manifest-only planning) exceeds maxRowsPerTask is
        # planned as ceil(rows / maxRowsPerTask) key-hash slices, so a
        # backfill that rewrites one huge hot day drains across many
        # tasks instead of one task holding 2× the day in pandas. Days
        # without stats (pre-stats manifests) conservatively stay one
        # task — correct, just unsplit.
        old_s, new_s = (
            # files=False: the split planner needs only day row counts,
            # so a checkpointed table's sidecar is never touched here
            _load_stats(self.conf.path, v1, files=False),
            _load_stats(self.conf.path, v2, files=False),
        )
        parts: list[CdfPartition] = []
        for d in _changed_days(old_m, new_m, old_dv, new_dv):
            rows = max(
                (old_s.get(d) or {}).get("rows") or 0,
                (new_s.get(d) or {}).get("rows") or 0,
            )
            n = max(1, -(-rows // self.conf.rows_per_task)) if rows else 1
            parts.extend(
                CdfPartition(
                    d, old_m.get(d), new_m.get(d), v2,
                    old_dv.get(d), new_dv.get(d), i, n,
                )
                for i in range(n)
            )
        return parts

    def read(self, partition: CdfPartition) -> Iterator[pa.RecordBatch]:
        conf = self.conf

        def side(rel: str | None, dv_rel: str | None) -> pd.DataFrame:
            days = [partition.day] if rel else []
            if partition.slice_n == 1:
                frame = _read_days(conf.path, {partition.day: rel}, days)
            else:
                # sliced day: stream-filter to this task's key-hash slice
                # (both sides hash the same key values, so the pair of a
                # changed key always lands in the same task)
                frame = _read_days_slice(
                    conf.path, {partition.day: rel}, days,
                    conf.keys, partition.slice_idx, partition.slice_n,
                )
            # the DV is a key list (small) — read whole; the anti-join
            # ignores keys outside this slice
            dv = _read_days(
                conf.path,
                {partition.day: dv_rel},
                [partition.day] if dv_rel else [],
            )
            return _normalize(_minus_dv_keys(frame, dv, conf.keys), conf)

        old = side(partition.old_rel, partition.old_dv_rel)
        new = side(partition.new_rel, partition.new_dv_rel)
        sel = _diff_select(old, new, conf)
        if sel is None or sel.empty:
            return iter([])
        # Arrow emission: the engine forwards RecordBatches as-is (no
        # per-row pickling or type conversion) — the day's change rows
        # move as columnar buffers
        return iter([_to_record_batch(sel, self.schema, partition.v2)])

    def commit(self, end: dict) -> None:
        pass  # manifests/data are immutable; nothing to clean up


class ManifestCdfDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "manifest_cdf"

    def schema(self) -> StructType:
        if "path" not in self.options:
            # schema resolution runs before the reader's own validation,
            # so a forgotten option must fail helpfully HERE
            raise ValueError("manifest_cdf requires options 'path' and 'keys'")
        base = _table_schema(self.options["path"])
        return StructType(
            base.fields
            + [
                StructField("_op", StringType(), False),
                # the version bound of the batch that surfaced the change
                # (Delta's _commit_version analogue). A snapshot diff nets
                # intermediate history, so rows carry the WINDOW's end
                # version, not a per-commit one — still strictly ordered
                # across batches, which is what lets a downstream CDC
                # consumer place a delete AFTER the insert it deletes
                # (the D pre-image's own ts/id predate it).
                StructField("_commit_version", LongType(), False),
            ]
        )

    def streamReader(self, schema: StructType) -> ManifestCdfPartitionedReader:
        return ManifestCdfPartitionedReader(self.options, schema)


def register_cdf(spark) -> None:
    spark.dataSource.register(ManifestCdfDataSource)
