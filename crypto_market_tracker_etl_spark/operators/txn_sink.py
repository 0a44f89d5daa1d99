"""Transactional parquet table: manifest-pointer commits with optimistic
concurrency — the engine's one keyed-MERGE table.

The reference upserts into Postgres (``src/db.py:87-99``), where MVCC gives
concurrent writers serialization and readers a consistent snapshot for
free. Plain parquet has neither: rewriting a day's directory in place
loses one writer's rows when two writers overlap (last swap wins) and lets
a reader see one partition new and the next one old. This module restores
both using the same public design Iceberg and Delta Lake are built on — an
immutable-data / atomic-metadata-pointer log — implemented with nothing but
parquet files and POSIX filesystem atomicity:

- **Immutable data.** Every commit writes its partitions under a fresh
  ``data/<commit-uuid>/`` directory; no data file is ever rewritten or
  deleted by a commit (only ``vacuum`` removes unreferenced dirs).
- **Manifest = the table.** ``_manifests/v{N}.json`` maps each ``dt``
  partition to the commit directory holding its live files. Readers
  resolve the highest version once and scan exactly the listed
  directories — a consistent cross-partition snapshot, immune to
  concurrent commits (their data lands in new dirs the snapshot never
  references).
- **Zone maps / data skipping.** Each commit records per-partition min/max
  for ``stats_cols`` in the manifest (Delta's per-file stats, kept at the
  partition grain this layout rewrites at); ``read(where={col: (lo, hi)})``
  prunes partitions whose ranges cannot match BEFORE any file listing,
  then applies the row filter to the survivors.
- **Atomic CAS commit.** A writer that merged against version N commits by
  ``os.link``-ing its fully-written temp manifest to ``v{N+1}.json``.
  ``link(2)`` fails with EEXIST if any other writer got there first and is
  atomic-with-content (the name appears only once the bytes are durable in
  the source file) — the two properties a commit pointer needs. On
  conflict the writer re-reads the NEW current snapshot, re-merges its
  batch, and retries: optimistic concurrency, no locks, no lost updates.

Scale shape: an upsert reads and rewrites only the partitions its batch
touches (the manifest repoints touched days; untouched days keep
referencing their old commit dirs, zero I/O). The manifest itself is
O(|days|) JSON — thousands of partitions is kilobytes; at
millions-of-partitions scale you shard the manifest exactly as Iceberg
splits manifests per partition range.

**Honest caveat (same one Delta documents):** the commit relies on
``os.link`` EEXCL atomicity, which local/POSIX filesystems and NFSv4+
guarantee but S3-style object stores do not — there you swap this for a
conditional PUT or a CAS service, which is precisely Delta's pluggable
LogStore / Iceberg's catalog. The protocol above is unchanged.
"""

from __future__ import annotations

import copy
import json
import os
import re
import threading
import uuid
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cache import materialize
from .upsert import dedup_keep_latest, merge_upsert, merge_upsert_partitioned

_MANIFEST_RE = re.compile(r"^v(\d+)\.json$")


def manifest_current_version(path: str) -> int:
    """Highest committed version of the manifest table at ``path``
    (0 = empty). Module-level so non-Spark readers — the cdf streaming
    source reads manifests in plain Python — share ONE implementation of
    the layout with the sink."""
    mdir = os.path.join(path, "_manifests")
    if not os.path.isdir(mdir):
        return 0
    versions = [
        int(m.group(1))
        for name in os.listdir(mdir)
        if (m := _MANIFEST_RE.match(name))
    ]
    return max(versions, default=0)


def manifest_commit(path: str, base_version: int, doc: dict) -> bool:
    """CAS: install ``doc`` as ``_manifests/v{base+1}.json`` iff that
    version is still unclaimed; False when another writer got there
    first. The temp manifest is fsync'd BEFORE the link and the manifest
    dir after it: link(2) is metadata-only, so without the fsync a crash
    could surface a committed v{N}.json with empty/partial bytes
    (delayed allocation) — a bricked table. Module-level so every
    manifest-committed store (the keyed-MERGE sink and the curation
    stores) shares ONE commit protocol."""
    mdir = os.path.join(path, "_manifests")
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump(doc, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, os.path.join(mdir, f"v{base_version + 1}.json"))
        dir_fd = os.open(mdir, os.O_RDONLY)
        try:
            os.fsync(dir_fd)
        finally:
            os.close(dir_fd)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


_DOC_CACHE: dict[tuple, dict] = {}
_DOC_CACHE_MAX = 8
# guards eviction in both module caches — a streaming planning thread and
# a concurrent snapshot read share them on one driver
_CACHE_LOCK = threading.Lock()


def _manifest_doc(path: str, version: int) -> dict:
    """Parsed manifest document, cached by (path, version, mtime, size).
    A snapshot read resolves partitions + dvs + stats; without the cache
    that is THREE parses of the same JSON, which the manifest probe
    measures at ~4 s each at 100 MB/1 M files (SCALE.md §manifest) — the
    planning cost tripled for nothing. Manifests are immutable per
    version, and the mtime/size key keeps a rewritten file (tests strip
    sections in place; vacuum deletes) from serving stale."""
    p = os.path.join(path, "_manifests", f"v{version}.json")
    st = os.stat(p)  # raises FileNotFoundError like open() did — same
    # loud signal for vacuumed/absent versions
    key = (os.path.abspath(p), version, st.st_mtime_ns, st.st_size)
    doc = _DOC_CACHE.get(key)
    if doc is None:
        with open(p) as f:
            doc = json.load(f)
        # under _CACHE_LOCK: two threads (streaming planning + a
        # concurrent snapshot read) evicting simultaneously could both
        # select the same oldest key and the second unconditional pop
        # would raise KeyError (review r5, low); pop(key, None) keeps
        # even a future lock-free path from crashing a good read
        with _CACHE_LOCK:
            if len(_DOC_CACHE) >= _DOC_CACHE_MAX:
                _DOC_CACHE.pop(next(iter(_DOC_CACHE), None), None)
            _DOC_CACHE[key] = doc
    return doc


def manifest_load(path: str, version: int) -> dict[str, str]:
    """{iso_day: commit-relative data dir} for ``version`` (empty at 0)."""
    if version == 0:
        return {}
    # copy: callers pop/assign days, and a mutation reaching the cached
    # doc would poison every later load (values are plain strings, so a
    # top-level copy IS a deep copy here)
    return dict(_manifest_doc(path, version)["partitions"])


def manifest_load_dvs(path: str, version: int) -> dict[str, str]:
    """{iso_day: commit-relative DELETION-VECTOR dir} for ``version`` —
    the per-day key sets ``delete_fast`` suppressed without rewriting the
    day's data. Empty for version 0 and for manifests written before DVs
    existed (old tables read unchanged)."""
    if version == 0:
        return {}
    return dict(_manifest_doc(path, version).get("dvs", {}))


def manifest_load_schema_map(path: str, version: int) -> dict:
    """The snapshot's column mapping (r9 — Delta's column-mapping 'name
    mode' essence): ``{"renames": {logical: physical}, "dropped":
    [physical, ...]}``. Physical names are frozen at first write and
    live in the files forever; renames and drops are metadata-only
    commits that re-label / hide them at the read-write boundary. Empty
    for version 0 and for manifests written before the feature existed
    (old tables read unchanged)."""
    if version == 0:
        return {"renames": {}, "dropped": []}
    doc = _manifest_doc(path, version).get("schema_map") or {}
    return {
        "renames": dict(doc.get("renames", {})),
        "dropped": list(doc.get("dropped", [])),
    }


def manifest_load_stats(
    path: str, version: int, files: bool = True
) -> dict[str, dict]:
    """Per-partition zone-map stats for ``version``:
    {iso_day: {"rows": n, "cols": {...}, "files": {...}}} — {} at version 0
    and for pre-stats manifests. Module-level for the same reason as
    ``manifest_load``: the cdf streaming source sizes its per-day split
    from the recorded row counts without a sink instance.

    ``files=False`` skips the file-grain section — for day-level
    consumers (stats_rows, zone-level pruning, the cdf split planner)
    this avoids resolving the parquet files-checkpoint entirely on big
    tables; ``files=True`` returns the full structure regardless of
    whether the file grain lives inline (small tables) or in the
    checkpoint sidecar."""
    if version == 0:
        return {}
    doc = _manifest_doc(path, version)
    # deep copy, not {d: dict(e)}: the nested objects (e["cols"], inline
    # e["files"] entries) would otherwise stay shared with the cached
    # doc, so a caller mutating below the day level would silently
    # poison every later load for this (path, version) (review r5, low)
    stats = {d: copy.deepcopy(e) for d, e in doc.get("stats", {}).items()}
    if not files:
        for e in stats.values():
            e.pop("files", None)
    elif doc.get("files_checkpoint"):
        for d, fmap in manifest_load_file_stats(path, version).items():
            stats.setdefault(d, {})["files"] = fmap
    return stats


def manifest_load_file_stats(
    path: str, version: int, days: "Sequence[str] | None" = None
) -> dict[str, dict]:
    """File-grain zone stats {iso_day: {filename: {"rows": n, "cols":
    {...}}}} for ``version``, from wherever they live: inline in the JSON
    manifest (tables under the checkpoint threshold) or in the parquet
    files-checkpoint sidecar (beyond it — the Delta-checkpoint design:
    the JSON stays ~KB while per-file stats ride a columnar file that
    loads in a fraction of the JSON parse time, SCALE.md §manifest).
    ``days`` restricts the checkpoint read to those days (predicate
    pushdown on the day column), which is what keeps point-lookup
    planning O(candidate days), not O(table files)."""
    if version == 0:
        return {}
    doc = _manifest_doc(path, version)
    name = doc.get("files_checkpoint")
    if name is None:
        want = None if days is None else set(days)
        # deep copy — the per-file entry dicts (and their "cols") live in
        # the cached doc; see manifest_load_stats
        return {
            d: copy.deepcopy(e["files"])
            for d, e in doc.get("stats", {}).items()
            if "files" in e and (want is None or d in want)
        }
    import pyarrow.parquet as pq

    p = os.path.join(path, "_manifests", name)
    if days is None:
        # full resolve (commit carry-forward, pruned_files): cache it —
        # the sidecar is immutable per version and the per-row
        # json.loads is the expensive part (same rationale as
        # _DOC_CACHE; a DV commit on a 1M-file table would otherwise
        # re-parse the whole sidecar per call)
        st = os.stat(p)
        key = (os.path.abspath(p), st.st_mtime_ns, st.st_size)
        cached = _FILES_CACHE.get(key)
        if cached is not None:
            # deep copy — {d: dict(f)} would share the per-file entry
            # dicts with the cache, so a caller mutating one would
            # poison every later full resolve (review r5, low)
            return copy.deepcopy(cached)
        t = pq.read_table(p)
    else:
        # day-filtered fetch (the read() planning path): real predicate
        # pushdown — the sidecar is written day-sorted with bounded row
        # groups, so the filter prunes row groups before decode and the
        # fetch is O(candidate days), not O(table files)
        t = pq.read_table(p, filters=[("day", "in", list(days))])
    out: dict[str, dict] = {}
    for d, f, payload in zip(
        t["day"].to_pylist(), t["file"].to_pylist(), t["payload"].to_pylist()
    ):
        out.setdefault(d, {})[f] = json.loads(payload)
    if days is None:
        with _CACHE_LOCK:
            if len(_FILES_CACHE) >= _DOC_CACHE_MAX:
                _FILES_CACHE.pop(next(iter(_FILES_CACHE), None), None)
            # deep copy into the cache: `out` is returned to the caller,
            # and the per-file entry dicts must not be shared with it
            _FILES_CACHE[key] = copy.deepcopy(out)
    return out


_FILES_CACHE: dict[tuple, dict] = {}


def files_checkpoint_table(stats: dict[str, dict]):
    """The files-checkpoint sidecar as an Arrow table — day-SORTED
    (with bounded row groups at write time this is what makes the
    day-filtered read prune row groups) with the file entry as a JSON
    payload so stat-value types never constrain the parquet schema.
    Module-level single source of the layout: the writer and the
    manifest probe both build rows here."""
    import pyarrow as pa

    rows = sorted(
        (d, f, json.dumps(entry))
        for d, e in stats.items()
        for f, entry in (e.get("files") or {}).items()
    )
    return pa.table(
        {
            "day": pa.array([r[0] for r in rows], type=pa.string()),
            "file": pa.array([r[1] for r in rows], type=pa.string()),
            "payload": pa.array([r[2] for r in rows], type=pa.string()),
        }
    )


def _stat_val(v):
    """JSON-encodable zone-map bound. Numbers/bools pass through and
    Decimal becomes float (numeric compare at prune time — str-serializing
    a Decimal would make '100.0' < '20.0' lexicographically and wrongly
    prune matching partitions); everything else — timestamps, dates,
    strings — serializes via str(), whose ISO forms order
    lexicographically the same as chronologically, which is what makes
    string-compare pruning sound."""
    import decimal

    if v is None or isinstance(v, (int, float, bool)):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    return str(v)


def _zone_overlaps(entry: dict | None, where: dict[str, tuple]) -> bool:
    """Can a partition with zone map ``entry`` contain rows matching every
    (lo, hi) range in ``where``? Missing entry/column ⇒ True (no stats, no
    pruning). NULL-only columns record [None, None] and are never pruned
    on that column (a NULL matches no range predicate, but other columns
    may still prune the partition)."""
    if not entry:
        return True
    cols = entry.get("cols", {})
    for c, (lo, hi) in where.items():
        if c not in cols:
            continue
        mn, mx = cols[c]
        if mn is None or mx is None:
            continue
        if lo is not None and _stat_lt(mx, lo):
            return False  # everything in the partition is below the range
        if hi is not None and _stat_lt(hi, mn):
            return False  # everything in the partition is above the range
    return True


def _stat_lt(a, b) -> bool:
    """a < b in the zone-map domain, decided by the VALUES' types, not by
    parseability: numeric when EITHER side is a genuine number (the other
    side is then float-coerced — covers Decimal bounds and numeric strings
    from pre-fix manifests, where a lexicographic '100.0' < '20.0' would
    wrongly prune), else string compare (sound for ISO timestamps/dates,
    whose lexicographic order is chronological). Two STRING sides never
    compare numerically even when both parse as float: for a string column
    the row-level filter (F.col >= lit) is lexicographic, and pruning by a
    different order than the scan filters by silently drops matching rows
    (zip codes: stored min='10'/max='30', where=('2','5') matches '20' and
    '30' lexicographically but numerically 5 < 10 would prune the whole
    partition). "Genuine number" means numbers.Number minus bool, so
    Decimal and numpy-scalar caller bounds stay numeric against
    string-stored stats from pre-fix manifests, like plain int/float.
    Bounds must live in the column's domain — a numeric bound
    against a timestamp column is a caller error no fallback can repair."""
    import numbers

    a_num = isinstance(a, numbers.Number) and not isinstance(a, bool)
    b_num = isinstance(b, numbers.Number) and not isinstance(b, bool)
    if a_num or b_num:
        try:
            return float(a) < float(b)
        except (TypeError, ValueError):
            pass  # number vs non-numeric string: out-of-domain caller bound
    return str(a) < str(b)


_U64 = (1 << 64) - 1  # stored words are signed longs; mask before bit tests


def _as_value_lists(
    where_eq: dict | None, where_in: dict | None
) -> dict[str, list]:
    """Merge the point-lookup specs into {col: [values]}. A column may
    appear in only ONE of the two (eq is sugar for a 1-element in-list;
    letting both name a column would silently intersect)."""
    out = {c: [v] for c, v in (where_eq or {}).items()}
    for c, vals in (where_in or {}).items():
        if c in out:
            raise ValueError(
                f"column {c!r} appears in both where_eq and where_in"
            )
        vals = list(vals)
        if not vals:
            raise ValueError(f"where_in[{c!r}] is empty — no row can match")
        out[c] = vals
    return out


def _bloom_positions(value, m: int, k: int):
    """k bloom bit positions in [0, m) for a value — double-hashed from
    two xxhash64 lanes (h_j = (a + j·b) mod m, the classic Kirsch-
    Mitzenmacher construction). The value is hashed through CAST AS
    STRING so the probe literal's integer width can't matter (int 5 and
    long 5 both hash as '5'; callers must still match the column's
    rendered form for floats/decimals). Both lanes are pmod-bounded
    BEFORE the mix so ANSI mode can't overflow the multiply. NULLs hash
    like any value (xxhash64(NULL) yields its seed) — harmless: equality
    probes are never for NULL."""
    s = value.cast("string")
    a = F.pmod(F.xxhash64(s), F.lit(m))
    b = F.pmod(F.xxhash64(F.lit("bloom-lane2"), s), F.lit(m))
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda j: F.pmod(a + j.cast("long") * b, F.lit(m)),
    )


def _zorder_key(cols: Sequence[str]):
    """Morton (Z-order) sort key over numeric columns: each column scales
    to a 16-bit rank within its partition-day's min/max (a window over
    dt_part — co-partitioned with the compaction layout, no extra
    shuffle, no driver anchors), and the ranks' bits interleave into one
    long. Sorting by it makes consecutive rows — and therefore the files
    maxRecordsPerFile splits off — cover small hyper-rectangles of the
    value space, tightening EVERY z-ordered column's per-file zone map
    instead of only the leading one."""
    from pyspark.sql import Window

    w = Window.partitionBy("dt_part")
    n = len(cols)
    if not 1 <= n <= 3:
        # 16 bits/column: 4 columns would place a bit on the long's sign
        # (inverting sort order between the curve's halves) and 5+ wrap
        # mod 64 in Spark's shiftleft, silently corrupting the key. Three
        # dimensions is also where Z-order stops paying (Delta's own
        # guidance); reject loudly instead of degrading silently.
        raise ValueError(f"zorder_by supports 1-3 columns, got {n}")
    ranks = []
    for c in cols:
        col = F.col(c).cast("double")
        mn = F.min(col).over(w)
        span = F.max(col).over(w) - mn
        r = (
            F.when(
                span > 0,
                F.least(
                    F.floor((col - mn) / span * 65536), F.lit(65535)
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
        )
        ranks.append(r)
    z = F.lit(0).cast("long")
    for bit in range(16):
        for ci, r in enumerate(ranks):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(r, bit).bitwiseAND(F.lit(1)), bit * n + ci
                )
            )
    return z


class CommitConflictError(RuntimeError):
    """Raised when a writer exhausts its optimistic-concurrency retries."""


class ManifestParquetSink:
    """Date-partitioned parquet table with snapshot reads and lost-update-free
    concurrent upserts (see module docstring for the protocol).

    Layout::

        path/
          _manifests/v1.json ... v{N}.json   # atomic commit pointers
          _manifests/files-<uuid>.parquet    # per-file stats checkpoint
                                             # (only beyond the threshold)
          data/<commit-uuid>/dt_part=YYYY-MM-DD/*.parquet

    ``dt`` is carried as a REGULAR column in the data files (the physical
    partition dir uses a shadow ``dt_part`` key), so readers scan the
    manifest's directories with a plain ``spark.read.parquet(*dirs)`` — no
    basePath reconstruction, and partition pruning happens at the manifest
    level (``read(days=...)``) before Spark ever lists a file.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str],
        ts_col: str,
        order: Sequence[str] | None = None,
        stats_cols: Sequence[str] | None = None,
        bloom_cols: Sequence[str] | None = None,
        bloom_bits: int = 1 << 16,
        bloom_hashes: int = 7,
        checkpoint_files_threshold: int = 10_000,
    ):
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.ts_col = ts_col
        self.order = list(order or [ts_col])
        # zone-map columns: per-partition min/max recorded in the manifest
        # at commit time (Delta's dataSkippingNumIndexedCols analogue)
        self.stats_cols = list(stats_cols) if stats_cols is not None else [ts_col]
        # bloom-indexed columns: per-FILE bloom filters for point lookups
        # on high-cardinality columns where min/max ranges can't
        # discriminate (Delta's bloom filter index analogue). Sized for
        # ~1% FPR at bloom_bits/10 distinct values per file (65536 bits /
        # 7 hashes ≈ 6.5k values; raise bloom_bits for bigger files).
        self.bloom_cols = list(bloom_cols or [])
        self.bloom_bits = int(bloom_bits)
        self.bloom_hashes = int(bloom_hashes)
        # beyond this many file-grain stat entries the per-file section
        # moves to a parquet files-checkpoint sidecar and the JSON
        # manifest stays ~KB (the Delta-checkpoint design; measured JSON
        # ceiling in SCALE.md §manifest: 100 MB / 4 s cold parse at 1 M
        # inline file entries)
        self.checkpoint_files_threshold = int(checkpoint_files_threshold)
        self._manifest_dir = os.path.join(path, "_manifests")
        self._data_dir = os.path.join(path, "data")
        os.makedirs(self._manifest_dir, exist_ok=True)
        os.makedirs(self._data_dir, exist_ok=True)

    # ------------------------------------------------------------ manifests

    def current_version(self) -> int:
        """Highest committed version (0 = empty table). Any listed manifest
        is complete: names only appear via the atomic ``os.link``."""
        return manifest_current_version(self.path)

    def _load_manifest(self, version: int) -> dict[str, str]:
        """{iso_day: commit-relative data dir} for ``version`` (empty at 0)."""
        return manifest_load(self.path, version)

    def _load_dvs(self, version: int) -> dict[str, str]:
        """{iso_day: deletion-vector dir} for ``version`` (see
        ``delete_fast``); {} before DVs existed."""
        return manifest_load_dvs(self.path, version)

    def _load_stats(self, version: int, files: bool = True) -> dict[str, dict]:
        """Per-partition zone maps for ``version``:
        {iso_day: {"rows": n, "cols": {col: [min, max]}}}. Manifests written
        before stats existed (or whose writer used ``stats_cols=[]``) return
        {} / partial maps — a partition without stats is simply never
        pruned, so old tables stay readable and correct. ``files=False``
        skips resolving the file-grain section (checkpointed tables:
        avoids the sidecar read for day-level consumers)."""
        return manifest_load_stats(self.path, version, files=files)

    def _load_file_stats(
        self, version: int, days: Sequence[str] | None = None
    ) -> dict[str, dict]:
        """File-grain stats, optionally day-filtered (see
        ``manifest_load_file_stats``)."""
        return manifest_load_file_stats(self.path, version, days=days)

    def _files_checkpoint_name(self, version: int) -> str | None:
        """The version's files-checkpoint sidecar name, or None when its
        file grain (if any) lives inline."""
        if version == 0:
            return None
        return _manifest_doc(self.path, version).get("files_checkpoint")

    def _try_commit(
        self,
        base_version: int,
        partitions: dict[str, str],
        stats: dict[str, dict] | None = None,
        op: str = "commit",
        dvs: dict[str, str] | None = None,
        files_checkpoint: str | None = None,
        schema_map: dict | None = None,
    ) -> bool:
        """CAS: install ``partitions`` as v{base+1} iff still unclaimed
        (``manifest_commit``; False = another writer committed base+1
        first — retry).

        The column mapping (``schema_map``) is carried forward from the
        base manifest AUTOMATICALLY unless the caller passes an explicit
        replacement (rename_column/drop_column) — every data commit
        preserves the current logical schema without threading it."""
        import time

        doc = {
            "version": base_version + 1,
            "partitions": partitions,
            "op": op,
            "committed_at": time.time(),
        }
        if schema_map is None and base_version > 0:
            schema_map = manifest_load_schema_map(self.path, base_version)
        if schema_map and (
            schema_map.get("renames") or schema_map.get("dropped")
        ):
            doc["schema_map"] = schema_map
        if files_checkpoint is not None:
            # metadata-only commit (delete_fast) on a checkpointed table:
            # the file grain is UNCHANGED, so the new manifest re-points
            # at the existing immutable sidecar instead of resolving and
            # rewriting O(table files) rows — vacuum's live-checkpoint
            # set already handles one sidecar serving many versions
            doc["files_checkpoint"] = files_checkpoint
        if stats:
            n_files = sum(len(e.get("files") or {}) for e in stats.values())
            if files_checkpoint is None and n_files > self.checkpoint_files_threshold:
                # files-checkpoint: per-file stats move to a parquet
                # sidecar (complete snapshot per commit, Delta-checkpoint
                # style); the JSON keeps only the day-level section. The
                # sidecar is written + fsync'd BEFORE the CAS link — a
                # lost race orphans it for vacuum, never the reverse.
                name = f"files-{uuid.uuid4().hex}.parquet"
                self._write_files_checkpoint(name, stats)
                stats = {
                    d: {k: v for k, v in e.items() if k != "files"}
                    for d, e in stats.items()
                }
                doc["files_checkpoint"] = name
            doc["stats"] = stats
        if dvs:
            doc["dvs"] = dvs
        return manifest_commit(self.path, base_version, doc)

    def _write_files_checkpoint(
        self, name: str, stats: dict[str, dict]
    ) -> None:
        """Write the file-grain sections of ``stats`` as the parquet
        sidecar ``_manifests/<name>`` — day-sorted with bounded row
        groups, so the read side's ``day IN (...)`` filter prunes row
        groups via their statistics before decoding anything (the
        O(candidate days) fetch the planning path relies on) — fsync'd
        like the manifest itself."""
        import pyarrow.parquet as pq

        p = os.path.join(self._manifest_dir, name)
        pq.write_table(
            files_checkpoint_table(stats), p, row_group_size=10_000
        )
        fd = os.open(p, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)

    # ------------------------------------------------------------ zone maps

    def _collect_stats(self, commit_dir: str) -> dict[str, dict]:
        """Read back the just-written commit dir and compute zone maps at
        BOTH grains: per-partition min/max for ``stats_cols`` (+ row
        counts), and per-FILE min/max nested under ``files`` — the grain
        that makes skipping effective once ``compact(cluster_by=...)`` has
        made file ranges disjoint. One bounded Spark job over the commit's
        OWN data (touched days only, column-pruned to the stat columns) —
        the write-side cost of data skipping. Reading the bytes on disk
        (rather than re-running the merge plan) guarantees the zone maps
        describe exactly what readers will scan."""
        if not self.stats_cols:
            return {}
        if not any(
            name.startswith("dt_part=") for name in os.listdir(commit_dir)
        ):
            return {}  # zero-row commit (e.g. a delete emptied every
            # touched day): nothing to describe, and an empty dir has no
            # schema to infer
        df = self.spark.read.parquet(commit_dir)
        present = [c for c in self.stats_cols if c in df.columns]
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in present:
            aggs.append(F.min(c).alias(f"__min_{c}"))
            aggs.append(F.max(c).alias(f"__max_{c}"))
        per_file = (
            df.withColumn("__file", F.input_file_name())
            .groupBy("dt_part", "__file")
            .agg(*aggs)
            .collect()
        )
        out: dict[str, dict] = {}
        for r in per_file:
            cols = {
                c: [_stat_val(r[f"__min_{c}"]), _stat_val(r[f"__max_{c}"])]
                for c in present
            }
            day = out.setdefault(
                str(r["dt_part"]),
                {"rows": 0, "cols": {c: [None, None] for c in present}, "files": {}},
            )
            fname = os.path.basename(r["__file"])
            day["files"][fname] = {"rows": r["__rows"], "cols": cols}
            day["rows"] += r["__rows"]
            for c in present:  # partition rollup = union of its file ranges
                mn, mx = day["cols"][c]
                fmn, fmx = cols[c]
                if fmn is not None and (mn is None or _stat_lt(fmn, mn)):
                    mn = fmn
                if fmx is not None and (mx is None or _stat_lt(mx, fmx)):
                    mx = fmx
                day["cols"][c] = [mn, mx]
        return out

    # ----------------------------------------------------------- bloom index

    def _bloom_dir(self, rel: str) -> str:
        """data/<commit>/dt_part=<d> → data/<commit>/_bloom/dt_part=<d>.
        The sidecar lives INSIDE the commit dir (underscore-prefixed, so
        Hadoop's hidden-file filter keeps it out of every data scan):
        it is immutable with the commit, inherited by untouched days
        exactly like the data it describes, and vacuum reclaims it with
        the commit dir for free."""
        head, leaf = os.path.split(rel)
        return os.path.join(self.path, head, "_bloom", leaf)

    def _write_blooms(self, commit_dir: str) -> None:
        """Per-FILE bloom filters for ``bloom_cols`` over the just-written
        commit, stored as parquet word rows (file, col, w, word) — the
        bitmap never materializes anywhere: executors bit_or 64-bit words
        in a partial-aggregated groupBy and write them straight out, so
        the build is one bounded Spark job regardless of file count. A
        marker row (w = -1) per (file, col) records the file INVENTORY, so
        a probe learns both "which files exist" and "which words are
        non-zero" from one word-filtered (pushdown-friendly) read."""
        if not self.bloom_cols:
            return
        if not any(
            n.startswith("dt_part=") for n in os.listdir(commit_dir)
        ):
            return  # zero-row commit
        df = self.spark.read.parquet(commit_dir)
        present = [c for c in self.bloom_cols if c in df.columns]
        if not present:
            return
        m, k = self.bloom_bits, self.bloom_hashes
        src = df.withColumn(
            "file", F.element_at(F.split(F.input_file_name(), "/"), -1)
        )
        parts = [
            src.select(
                "dt_part",
                F.col("dt_part").cast("string").alias("day"),
                "file",
                F.lit(c).alias("col"),
                F.explode(_bloom_positions(F.col(c), m, k)).alias("pos"),
            )
            for c in present
        ]
        allpos = reduce(lambda a, b: a.unionByName(b), parts)
        words = allpos.groupBy(
            "dt_part", "day", "file", "col", F.expr("pos div 64").alias("w")
        ).agg(
            F.bit_or(
                F.expr("shiftleft(1L, cast(pos % 64 as int))")
            ).alias("word")
        )
        inventory = (
            allpos.select("dt_part", "day", "file", "col")
            .distinct()
            .withColumn("w", F.lit(-1).cast("long"))
            .withColumn("word", F.lit(0).cast("long"))
        )
        # repartition by day (NOT coalesce(1)): the sidecar write
        # parallelizes with the commit size — one task per day, one file
        # per day dir — instead of funnelling files × bloom_cols words
        # through a single task (review r4, low).
        words.unionByName(inventory).repartition("dt_part").write.partitionBy(
            "dt_part"
        ).parquet(os.path.join(commit_dir, "_bloom"))
        # persist the sizing the words were computed under: a probe MUST
        # use the writer's (m, k) — a reader configured differently would
        # compute positions against the wrong modulus and silently prune
        # files that contain the value (review r4, medium).
        with open(
            os.path.join(commit_dir, "_bloom", "_params.json"), "w"
        ) as fh:
            json.dump({"bloom_bits": m, "bloom_hashes": k}, fh)

    def _bloom_params(self, rel: str) -> tuple[int, int]:
        """(bloom_bits, bloom_hashes) the commit owning ``rel`` was
        written with — read from the sidecar's _params.json so probes are
        computed under the WRITER's sizing regardless of how this
        instance was constructed. ONLY a missing file means "legacy
        sidecar, fall back to constructor values"; any other I/O failure
        (EACCES, EIO, a network-FS hiccup) propagates — falling back
        there could substitute a DIFFERENT (m, k) than the writer's and
        silently prune files that contain matching rows, exactly the
        row loss this method exists to prevent. A present-but-corrupt
        params file raises for the same reason (fail loud)."""
        head, _ = os.path.split(rel)
        p = os.path.join(self.path, head, "_bloom", "_params.json")
        try:
            with open(p) as fh:
                doc = json.load(fh)
        except FileNotFoundError:
            return self.bloom_bits, self.bloom_hashes
        return int(doc["bloom_bits"]), int(doc["bloom_hashes"])

    def _bloom_probe_many(
        self, values: Sequence, dtype=None, m: int | None = None,
        k: int | None = None,
    ) -> list[list[tuple[int, int]]]:
        """(word_idx, bit) pairs per probe value — ALL values of a column
        in ONE 1-row Spark job, so write and probe use the engine's own
        xxhash64, bit-identical by construction (no python
        re-implementation to drift). ``dtype`` is the COLUMN's Spark
        type: each literal routes through it before the string-cast so
        its rendering matches the write side's (int 5 probed against a
        double column must hash '5.0', not '5' — the raw literal would
        silently bloom-prune every file while the row filter matches
        rows). ``m``/``k`` override the sizing (probes must use the
        sizing the sidecar was WRITTEN with — see _bloom_params)."""
        m = self.bloom_bits if m is None else m
        k = self.bloom_hashes if k is None else k
        cols = []
        for i, v in enumerate(values):
            lit = F.lit(v)
            if dtype is not None:
                lit = lit.cast(dtype)
            cols.append(_bloom_positions(lit, m, k).alias(f"p{i}"))
        row = self.spark.range(1).select(*cols).head()
        return [
            [(p // 64, p % 64) for p in row[f"p{i}"]]
            for i in range(len(values))
        ]

    def bloom_file_candidates(
        self,
        where_eq: dict | None = None,
        version: int | None = None,
        where_in: dict | None = None,
    ) -> dict[str, "set[str] | None"]:
        """Observability hook: {day: surviving file basenames, or None
        when that day has no bloom information for the probed columns
        (conservatively scanned in full)}. Filter keys are LOGICAL names
        (translated like every other filter surface — the sidecars are
        keyed by the physical names in the files)."""
        v = self.current_version() if version is None else version
        sm = manifest_load_schema_map(self.path, v)
        return {
            d: keep
            for d, (keep, _) in self._bloom_keep_files(
                self._load_manifest(v),
                _as_value_lists(
                    self._filters_to_physical(sm, where_eq),
                    self._filters_to_physical(sm, where_in),
                ),
            ).items()
        }

    def _bloom_keep_files(
        self, candidates: dict[str, str], eq_lists: dict[str, list]
    ) -> dict[str, "tuple[set[str] | None, int]"]:
        """For each candidate day: (keep, inventory_total) where ``keep``
        is the set of file basenames whose bloom filters pass EVERY
        probed column — a column with several values (where_in) passes
        when ANY of them matches — or None when the day's commit carries
        no bloom sidecar for any probed column (no info, never wrongly
        pruned). ``inventory_total`` is the day's known file count (lets
        the caller detect a no-skip outcome and keep the cheaper
        directory scan). ONE 1-row hash job per column covers all its
        values, and ONE word-filtered Spark read covers all days (collect
        is bounded by days × files × cols × |values| × (k+1) rows)."""
        result: dict[str, tuple[set[str] | None, int]] = {
            d: (None, 0) for d in candidates
        }
        dirs = {
            d: p
            for d, rel in candidates.items()
            if os.path.isdir(p := self._bloom_dir(rel))
        }
        if not dirs or not eq_lists:
            return result
        # probe literals route through the COLUMN type (resolved from one
        # candidate partition's footer — lazy, no job) so their string
        # rendering matches what the write side hashed. A column whose
        # type cannot be resolved (schema read failure, or the sampled day
        # predates the column under additive evolution) is NOT probed: an
        # uncast literal can hash a different rendering ('5' vs '5.0')
        # and would wrongly prune every file — no-info is the only sound
        # fallback (review r4, medium).
        try:
            some_day = next(iter(dirs))
            schema = self._scan({some_day: candidates[some_day]}).schema
            types = {f.name: f.dataType for f in schema.fields}
        except Exception:
            types = {}
        typed_lists = {c: v for c, v in eq_lists.items() if c in types}
        if not typed_lists:
            return result
        # each day's probe positions are computed under the (m, k) its
        # sidecar was WRITTEN with (stored per commit); distinct sizings
        # get their own probe set, still one 1-row job per (column, sizing).
        # The params file is per COMMIT, so resolve once per commit head —
        # a compacted multi-year table shares one head across thousands of
        # days, and re-opening the same few-byte file per day would be a
        # network round trip each on object storage (review r5)
        heads = {d: os.path.split(candidates[d])[0] for d in dirs}
        params_by_head: dict[str, tuple[int, int]] = {}
        for d, h in heads.items():
            if h not in params_by_head:
                params_by_head[h] = self._bloom_params(candidates[d])
        day_params = {d: params_by_head[heads[d]] for d in dirs}
        probes_by_mk = {
            mk: {
                c: self._bloom_probe_many(vals, types[c], *mk)
                for c, vals in typed_lists.items()
            }
            for mk in set(day_params.values())
        }
        want_words = sorted(
            {
                w
                for per_col in probes_by_mk.values()
                for pss in per_col.values()
                for ps in pss
                for (w, _) in ps
            }
            | {-1}
        )
        rows = (
            self.spark.read.parquet(*dirs.values())
            .filter(
                F.col("col").isin(list(typed_lists))
                & F.col("w").isin(want_words)
            )
            .collect()
        )
        inv: dict[tuple, set] = {}
        words: dict[tuple, dict] = {}
        for r in rows:
            if r["w"] == -1:
                inv.setdefault((r["day"], r["col"]), set()).add(r["file"])
            else:
                words.setdefault((r["day"], r["col"]), {}).setdefault(
                    r["file"], {}
                )[r["w"]] = r["word"]
        for d in dirs:
            keep: set[str] | None = None
            known: set[str] = set()
            for c, pss in probes_by_mk[day_params[d]].items():
                files = inv.get((d, c))
                if files is None:
                    continue  # this commit never indexed c: no info for c
                known |= files
                wmap = words.get((d, c), {})
                ok = {
                    f
                    for f in files
                    if any(  # OR across the column's probe values
                        all(
                            (wmap.get(f, {}).get(w, 0) & _U64) & (1 << b)
                            for (w, b) in ps
                        )
                        for ps in pss
                    )
                }
                keep = ok if keep is None else (keep & ok)
            result[d] = (keep, len(known))
        return result

    # ----------------------------------------------------------------- read

    def read(
        self,
        days: Sequence[str] | None = None,
        version: int | None = None,
        where: dict[str, tuple] | None = None,
        where_eq: dict | None = None,
        where_in: dict | None = None,
    ) -> DataFrame:
        """Snapshot read: resolve the manifest ONCE, scan its directories.
        ``days`` prunes partitions before Spark lists a single file;
        ``version`` time-travels to an older snapshot (until vacuumed).

        ``where`` maps column → (lo, hi) inclusive range bounds (either may
        be None for one-sided). Partitions whose recorded zone map cannot
        intersect every range are skipped at the MANIFEST level — file
        skipping before any listing, the Delta/Iceberg data-skipping
        design — and the row-level filter is then applied to the surviving
        scan, so the result is exactly the matching rows either way.
        Partitions without stats (older manifests, unindexed columns) are
        conservatively scanned, never wrongly pruned.

        ``where_eq`` maps column → exact value (point lookup). It prunes
        through BOTH indexes: the value participates in zone-map pruning
        as a degenerate (v, v) range, and — for ``bloom_cols`` — each
        surviving day's per-file bloom filters drop every file whose
        filter excludes the value, which is what discriminates on
        high-cardinality columns (uuid keys) where min/max ranges cannot.
        Days/commits without bloom sidecars are conservatively scanned;
        the exact ``=`` row filter always applies after the scan.

        ``where_in`` maps column → iterable of exact values (multi-key
        lookup — "fetch these 100 users"): zone maps prune with the
        values' (min, max) envelope, blooms keep a file when ANY value
        matches (all of a column's values hash in one 1-row job), and the
        row filter is ``isin``. A column may appear in where_eq OR
        where_in, not both.

        Under column mapping (rename_column/drop_column) every filter
        takes the CURRENT logical names (translated to physical before
        pruning — zone maps and blooms are keyed by the physical names
        in the files) and the returned frame carries logical columns;
        ``version`` time travel applies THAT snapshot's mapping, so an
        old version reads under its own names."""
        v = self.current_version() if version is None else version
        sm = manifest_load_schema_map(self.path, v)
        where = self._filters_to_physical(sm, where)
        where_eq = self._filters_to_physical(sm, where_eq)
        where_in = self._filters_to_physical(sm, where_in)
        manifest = self._load_manifest(v)
        if days is not None:
            manifest = {d: p for d, p in manifest.items() if d in set(days)}
        if not manifest:
            raise ValueError(f"no partitions to read at {self.path}")
        eq = dict(where_eq or {})
        eq_lists = _as_value_lists(where_eq, where_in)
        zone_where = dict(where or {})
        for c, vals in eq_lists.items():
            try:
                zone_where.setdefault(c, (min(vals), max(vals)))
            except TypeError:
                pass  # mixed-type in-list: no zone range, bloom still works
        dvs = self._load_dvs(v)
        if not zone_where and not eq_lists:
            return self._apply_logical(self._scan_live(manifest, dvs), sm)
        # three-level prune: partitions (zone maps, day-level JSON only),
        # then files by range (effective once compact(cluster_by=...)
        # made per-file ranges disjoint; file grain fetched ONLY for the
        # surviving candidate days — on a checkpointed table this is a
        # day-filtered sidecar read, O(candidate days) not O(table
        # files)), then files by bloom for the point-lookup columns
        stats = self._load_stats(v, files=False)
        cand = {
            d: rel
            for d, rel in manifest.items()
            if _zone_overlaps(stats.get(d), zone_where)
        }
        file_stats = self._load_file_stats(v, days=list(cand)) if cand else {}
        bloom_keep = (
            self._bloom_keep_files(cand, eq_lists)
            if eq_lists and self.bloom_cols
            else {d: (None, 0) for d in cand}
        )
        paths: list[str] = []
        for d, rel in cand.items():
            files = file_stats.get(d)
            kept: set[str] | None = (
                {f for f, fst in files.items() if _zone_overlaps(fst, zone_where)}
                if files
                else None
            )
            bk, inv_total = bloom_keep.get(d, (None, 0))
            if bk is not None:
                kept = bk if kept is None else (kept & bk)
            if (
                kept is None
                or (files and len(kept) == len(files))
                # bloom kept every known file and range stats recorded no
                # file grain: nothing skipped — keep the cheaper dir scan
                or (files is None and inv_total and len(kept) == inv_total)
            ):
                # no file grain recorded, or nothing to skip: scan the
                # partition DIR — explicit leaf-file paths carry per-file
                # driver listing overhead (measured ~2× on a 210-file
                # no-skip read, SCALE.md), so only enumerate files when
                # pruning actually drops some
                paths.append(os.path.join(self.path, rel))
            elif kept:
                paths.extend(
                    os.path.join(self.path, rel, f) for f in sorted(kept)
                )
            # else: every file pruned — the day contributes nothing
        if paths:
            df = self._scan_paths(paths)
            # deletion vectors apply to the pruned scan the same way they
            # apply to the full one (global key anti-join — sound per the
            # day-stability contract, see _scan_live)
            applicable = {d: r for d, r in dvs.items() if d in cand}
            if applicable:
                dv_keys = self._scan(applicable).select(*self.keys).distinct()
                df = df.join(dv_keys, self.keys, "left_anti")
        else:
            # fully pruned: empty result from ONE partition's schema, zero
            # data read. Under schema evolution that partition may predate
            # a where-column — skipping the row filter for it is sound
            # (zero rows either way) where F.col() would raise.
            df = self._scan(dict([next(iter(manifest.items()))])).filter(
                F.lit(False)
            )
        for c, (lo, hi) in (where or {}).items():
            if c not in df.columns:
                # the scanned subset predates the column entirely: every
                # row is NULL for c, and NULL matches no range — empty,
                # where F.col(c) would raise UNRESOLVED_COLUMN
                df = df.filter(F.lit(False))
                continue
            if lo is not None:
                df = df.filter(F.col(c) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(c) <= F.lit(hi))
        for c, val in eq.items():
            if c not in df.columns:
                df = df.filter(F.lit(False))
                continue
            df = df.filter(F.col(c) == F.lit(val))
        for c, vals in (where_in or {}).items():
            if c not in df.columns:
                df = df.filter(F.lit(False))
                continue
            df = df.filter(F.col(c).isin(list(vals)))
        return self._apply_logical(df, sm)

    def stats_rows(
        self, days: Sequence[str] | None = None, version: int | None = None
    ) -> int | None:
        """COUNT(*) served from manifest metadata alone — zero data files
        opened or listed (Delta's compute-from-log fast path; on a 3650-day
        100 TB table this is a JSON read, not a scan). Returns None when
        any requested day lacks a recorded row count (writer predates zone
        maps or used ``stats_cols=[]``) — callers fall back to
        ``read(...).count()``; a wrong number is never returned."""
        v = self.current_version() if version is None else version
        manifest = self._load_manifest(v)
        if days is not None:
            manifest = {d: r for d, r in manifest.items() if d in set(days)}
        if not manifest:
            # mirror read(): a day filter matching nothing (typo'd date)
            # must not come back as a confident 0
            raise ValueError(f"no partitions to count at {self.path}")
        stats = self._load_stats(v, files=False)  # day counts only
        dvs = self._load_dvs(v)
        total = 0
        for d in manifest:
            entry = stats.get(d)
            if not entry or "rows" not in entry or d in dvs:
                # a deletion-vectored day's recorded count is a stale
                # upper bound — unknown without a scan, so fall back
                return None
            total += entry["rows"]
        return total

    def pruned_partitions(
        self, where: dict[str, tuple], version: int | None = None
    ) -> tuple[list[str], list[str]]:
        """(scanned_days, skipped_days) for a ``where`` — the observability
        hook the pruning tests assert against."""
        v = self.current_version() if version is None else version
        where = self._filters_to_physical(
            manifest_load_schema_map(self.path, v), where
        )
        manifest = self._load_manifest(v)
        stats = self._load_stats(v, files=False)  # day-level question
        scanned, skipped = [], []
        for d in sorted(manifest):
            (scanned if _zone_overlaps(stats.get(d), where) else skipped).append(d)
        return scanned, skipped

    def pruned_files(
        self, where: dict[str, tuple], version: int | None = None
    ) -> tuple[list[str], list[str]]:
        """(scanned, skipped) as ``day/filename`` entries — the file-grain
        counterpart of ``pruned_partitions``. A file in a skipped PARTITION
        counts as skipped; a partition without file stats contributes its
        files as scanned (conservative)."""
        v = self.current_version() if version is None else version
        where = self._filters_to_physical(
            manifest_load_schema_map(self.path, v), where
        )
        manifest = self._load_manifest(v)
        stats = self._load_stats(v)
        scanned, skipped = [], []
        for d in sorted(manifest):
            entry = stats.get(d)
            files = sorted(((entry or {}).get("files") or {}).items())
            day_ok = _zone_overlaps(entry, where)
            for f, fst in files:
                ok = day_ok and _zone_overlaps(fst, where)
                (scanned if ok else skipped).append(f"{d}/{f}")
        return scanned, skipped

    def _scan_paths(self, paths: Sequence[str]) -> DataFrame:
        """Like ``_scan`` but over explicit file/dir paths (the file-pruned
        read), still one multi-path scan per referenced commit."""
        groups: dict[str, list[str]] = {}
        for p in paths:
            rel = os.path.relpath(p, self.path)
            groups.setdefault(rel.split(os.sep)[1], []).append(p)
        scans = [
            self.spark.read.option("mergeSchema", "true").parquet(*ps)
            for ps in groups.values()
        ]
        return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), scans)

    def _scan_live(
        self, part: dict[str, str], dvs: dict[str, str]
    ) -> DataFrame:
        """``_scan`` minus the deletion-vector keys applicable to the
        scanned days. One GLOBAL key anti-join is correct because a key's
        day is stable (the sink contract ``changes`` documents): a key
        suppressed in day X cannot legitimately exist in day Y, so
        restricting the anti-join per-day would change nothing."""
        df = self._scan(part)
        applicable = {d: r for d, r in dvs.items() if d in part}
        if applicable:
            dv_keys = self._scan(applicable).select(*self.keys).distinct()
            df = df.join(dv_keys, self.keys, "left_anti")
        return df

    def _scan(self, manifest: dict[str, str]) -> DataFrame:
        """One multi-path parquet scan per referenced COMMIT (not per day:
        a 30-day table in one commit is one scan, and the union width is
        bounded by live-commit count, which compaction folds to 1 —
        measured 3× on compact when this was a per-day union)."""
        groups: dict[str, list[str]] = {}
        for rel in manifest.values():
            commit = rel.split(os.sep)[1]
            groups.setdefault(commit, []).append(os.path.join(self.path, rel))
        scans = [
            self.spark.read.option("mergeSchema", "true").parquet(*dirs)
            for dirs in groups.values()
        ]
        return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), scans)

    # --------------------------------------------------------------- upsert

    def _prep_batch(self, batch: DataFrame, what: str) -> tuple[DataFrame, list]:
        """Derive the day column, pin the batch, and list its days.

        The eager checkpoint keeps the job count deterministic across CAS
        retries: the (small) batch materializes once and each retry
        re-joins it against a fresh snapshot. NULL days are rejected
        loudly: a date-partitioned MERGE needs a date per row — a NULL day
        would land under Hive's default-partition name while the
        touched-days lookup keys by None, silently repointing the existing
        NULL partition without merging it (a lost update)."""
        batch = batch.withColumn("dt", F.to_date(self.ts_col).cast("string"))
        batch = materialize(batch)
        days = [r["dt"] for r in batch.select("dt").distinct().collect()]
        if None in days:
            raise ValueError(
                f"{what} batch contains NULL {self.ts_col} rows; a NULL day "
                "cannot locate a partition — filter or repair them upstream"
            )
        return batch, days

    def _commit_rewrite(
        self, base: int, manifest: dict[str, str], merged: DataFrame,
        drop_days, op: str, pre_partitioned: bool = False,
    ) -> bool:
        """Write ``merged`` as a fresh immutable commit and CAS it in as
        v{base+1}. Manifest AND zone-map entries for ``drop_days`` ∪ the
        written days are removed first, then the written days repoint to
        the new dir and fresh stats are collected — so a stale entry can
        never describe pre-rewrite data or name file-grain files under a
        superseded commit dir (even for writers with stats_cols=[]).
        Shared by upsert and delete: one place keeps the commit protocol
        and the stats lifecycle in lockstep.

        ``pre_partitioned=True`` (r13, guide §2.4): the caller's plan is
        already hash-partitioned by ``dt`` (merge_upsert_partitioned), so
        the pre-write repartition — whose only job is one-writer-task-
        per-day file sizing — would be a redundant second exchange of
        the whole commit; skip it."""
        commit_id = uuid.uuid4().hex
        commit_dir = os.path.join(self._data_dir, commit_id)
        staged = merged.withColumn("dt_part", F.col("dt"))
        if not pre_partitioned:
            staged = staged.repartition("dt_part")
        staged.write.partitionBy("dt_part").parquet(commit_dir)
        written = [
            name[len("dt_part="):]
            for name in os.listdir(commit_dir)
            if name.startswith("dt_part=")
        ]
        new_manifest = dict(manifest)
        new_stats = dict(self._load_stats(base))
        # a rewritten (or dropped) day's deletion vector is MATERIALIZED by
        # the rewrite: the merged frame was read DV-applied, so the fresh
        # dir holds no suppressed rows and the DV entry must go — keeping
        # it would re-suppress a key the rewrite legitimately re-inserted
        new_dvs = dict(self._load_dvs(base))
        for d in set(drop_days) | set(written):
            new_manifest.pop(d, None)
            new_stats.pop(d, None)
            new_dvs.pop(d, None)
        for d in written:
            new_manifest[d] = os.path.join("data", commit_id, f"dt_part={d}")
        new_stats.update(self._collect_stats(commit_dir))
        self._write_blooms(commit_dir)
        # on a lost race the new dir is simply orphaned (vacuum reclaims),
        # bloom sidecar included — it lives inside the commit dir
        return self._try_commit(
            base, new_manifest, new_stats, op=op, dvs=new_dvs
        )

    def upsert(self, batch: DataFrame, max_retries: int = 8) -> int:
        """Keyed MERGE of ``batch``; returns the committed version.

        Optimistic concurrency: merge against the current snapshot, write
        immutable data, CAS the manifest; on conflict re-merge against the
        winner's snapshot and retry. Retries re-run only the TOUCHED-day
        merge (bounded by the batch, not the table). Batches carry the
        CURRENT logical column names, translated to physical INSIDE the
        CAS loop against each attempt's base — a concurrent drop_column
        committed between attempts must re-trip the resurrection guard,
        not slip a hidden column's data past it (review r9)."""
        batch, days = self._prep_batch(batch, "upsert")
        for _ in range(max_retries + 1):
            base = self.current_version()
            pbatch = self._batch_to_physical(
                batch, manifest_load_schema_map(self.path, base)
            )
            manifest = self._load_manifest(base)
            touched = {d: manifest[d] for d in days if d in manifest}
            # single-exchange MERGE when dt is a merge key (r13, guide
            # §2.4): the union is partitioned by dt once and the window
            # dedup + partitioned write both reuse it (the day-stable-key
            # contract this sink already documents)
            day_keyed = "dt" in self.keys
            if touched:
                # no dt filter needed: each manifest entry is one day's
                # leaf dir, so the scan reads exactly these days.
                # DV-applied (_scan_live): merging against suppressed rows
                # would resurrect them into the rewritten day
                old = self._scan_live(touched, self._load_dvs(base))
                merged = (
                    merge_upsert_partitioned(old, pbatch, self.keys, self.order)
                    if day_keyed
                    else merge_upsert(old, pbatch, self.keys, self.order)
                )
            else:
                merged = dedup_keep_latest(
                    pbatch.repartition("dt") if day_keyed else pbatch,
                    self.keys, self.order,
                )
            if self._commit_rewrite(
                base, manifest, merged, drop_days=(), op="upsert",
                pre_partitioned=day_keyed,
            ):
                return base + 1
        raise CommitConflictError(
            f"upsert lost the manifest CAS {max_retries + 1} times at {self.path}"
        )

    def partition_days(self, version: int | None = None) -> list[str]:
        """The snapshot's partition days (sorted) — lets callers decide
        which of a set of days still exist without touching any data."""
        return sorted(
            self._load_manifest(
                self.current_version() if version is None else version
            )
        )

    def drop_days(self, days: Sequence[str], max_retries: int = 8) -> int:
        """Remove whole days from the table: a pure METADATA commit — the
        new manifest simply omits those days' entries (and their stats);
        no data is read or written, vacuum reclaims the unreferenced dirs
        later. Returns the committed version (unchanged if none of the
        days exist). The day-grain complement of the keyed ``delete``."""
        want = set(days)
        for _ in range(max_retries + 1):
            base = self.current_version()
            manifest = self._load_manifest(base)
            hit = want & set(manifest)
            if not hit:
                return base
            new_manifest = {d: p for d, p in manifest.items() if d not in hit}
            new_stats = {
                d: s
                for d, s in self._load_stats(base).items()
                if d not in hit
            }
            if self._try_commit(base, new_manifest, new_stats, op="drop_days"):
                return base + 1
        raise CommitConflictError(
            f"drop_days lost the manifest CAS {max_retries + 1} times at "
            f"{self.path}"
        )

    # -------------------------------------------------------------- history

    def history(self) -> list[dict]:
        """Commit log, newest first (the DESCRIBE HISTORY surface): one
        entry per retained manifest with the operation that produced it,
        its wall-clock commit time, and size summaries (row counts where
        zone maps were recorded). Bounded by vacuum retention, exactly
        like Delta's history."""
        out = []
        for v in range(self.current_version(), 0, -1):
            p = os.path.join(self._manifest_dir, f"v{v}.json")
            if not os.path.exists(p):
                break  # vacuumed past here
            with open(p) as f:
                doc = json.load(f)
            stats = doc.get("stats", {})
            out.append(
                {
                    "version": v,
                    "op": doc.get("op", "commit"),
                    "committed_at": doc.get("committed_at"),
                    "n_partitions": len(doc.get("partitions", {})),
                    "n_rows": sum(e.get("rows", 0) for e in stats.values())
                    if stats
                    else None,
                }
            )
        return out

    # --------------------------------------------------------------- delete

    def delete(self, batch: DataFrame, max_retries: int = 8) -> int:
        """Keyed MERGE DELETE: remove ``batch``'s keys from the table;
        returns the committed version (unchanged if no key was present).
        The batch must carry ``ts_col`` — the key's day locates which
        partitions to rewrite (same partition-local contract as upsert:
        only touched days are read and rewritten). A day whose every key
        is deleted drops out of the manifest entirely. With ``changes``
        this completes the I/U/D surface: deletes appear as _op='D'."""
        batch, days = self._prep_batch(batch, "delete")
        for _ in range(max_retries + 1):
            base = self.current_version()
            # translate+validate per attempt (the upsert rationale); the
            # merge keys themselves are rename-protected
            keys_df = self._batch_to_physical(
                batch, manifest_load_schema_map(self.path, base)
            ).select(*self.keys).distinct()
            manifest = self._load_manifest(base)
            touched = {d: manifest[d] for d in days if d in manifest}
            if not touched:
                return base  # none of the keys' days exist: nothing to do
            old = self._scan_live(touched, self._load_dvs(base))
            if not old.join(keys_df, self.keys, "left_semi").take(1):
                # no key actually present: the documented no-op — no
                # commit, no day rewrite, and changes() consumers see no
                # repointed partitions
                return base
            remaining = old.join(keys_df, self.keys, "left_anti")
            # drop_days=touched: a day whose every key was deleted writes
            # no dt_part dir and so vanishes from manifest AND stats
            if self._commit_rewrite(base, manifest, remaining, drop_days=touched, op="delete"):
                return base + 1
        raise CommitConflictError(
            f"delete lost the manifest CAS {max_retries + 1} times at {self.path}"
        )

    def delete_fast(self, batch: DataFrame, max_retries: int = 8) -> int:
        """Deletion-vector delete (Delta's deletion vectors, keyed instead
        of positional): suppress ``batch``'s keys by writing per-day KEY
        sidecars and repointing only the manifest's ``dvs`` section — the
        day's DATA is not read or rewritten. On a 100 TB table, deleting
        scattered keys (GDPR erasure) costs O(|keys|) instead of
        rewriting every touched day; readers anti-join the (tiny) DV.

        Semantics: every read surface applies DVs — ``read`` (all prune
        paths), the merge reads of ``upsert``/``delete``, ``changes`` and
        the streaming cdf source (a delete_fast surfaces as _op='D' with
        the pre-image, exactly like a rewrite delete). A later rewrite of
        the day (upsert/delete/compact) MATERIALIZES the DV — the rewrite
        scans DV-applied data, so the fresh dir omits the suppressed rows
        and the DV entry is dropped; re-upserting a suppressed key
        therefore resurrects it, matching ``delete``'s semantics.

        Keyed (not positional) DVs lean on the same day-stability
        contract as ``changes``: a key identifies one day, so a global
        anti-join equals per-file position maps. Trade-offs vs
        ``delete``: a fully-suppressed day still lists (empty scan, not a
        manifest drop) until the next rewrite, ``stats_rows`` returns
        None for DV'd days (counts unknown without a scan), and zone maps
        / blooms describe a superset (sound for pruning, never wrong).

        Suppression is by KEY, unconditionally — keys absent from the day
        are recorded and harmless (the anti-join matches nothing). Like
        ``delete``, days absent from the manifest are ignored."""
        batch, days = self._prep_batch(batch, "delete_fast")
        for _ in range(max_retries + 1):
            base = self.current_version()
            # translate+validate per attempt (the upsert rationale)
            keyed = self._batch_to_physical(
                batch, manifest_load_schema_map(self.path, base)
            ).select("dt", *self.keys).distinct()
            manifest = self._load_manifest(base)
            dvs = self._load_dvs(base)
            touched = [d for d in days if d in manifest]
            if not touched:
                return base  # none of the keys' days exist: nothing to do
            commit_id = uuid.uuid4().hex
            commit_dir = os.path.join(self._data_dir, commit_id)
            new_keys = keyed.filter(F.col("dt").isin(touched))
            old_rels = {d: dvs[d] for d in touched if d in dvs}
            dv_df = new_keys
            if old_rels:
                # cumulative: a day's DV is the union of all its
                # delete_fast calls since the last rewrite
                dv_df = dv_df.unionByName(
                    self._scan(old_rels).select("dt", *self.keys)
                ).distinct()
            (
                dv_df.withColumn("dt_part", F.col("dt"))
                .repartition("dt_part")
                .write.partitionBy("dt_part")
                .parquet(commit_dir)
            )
            written = [
                name[len("dt_part="):]
                for name in os.listdir(commit_dir)
                if name.startswith("dt_part=")
            ]
            new_dvs = dict(dvs)
            for d in written:
                new_dvs[d] = os.path.join("data", commit_id, f"dt_part={d}")
            # partitions and stats are untouched — that's the point. On a
            # checkpointed base the sidecar is re-pointed, not resolved +
            # rewritten (a 1M-file table's DV commit stays metadata-sized)
            ckpt = self._files_checkpoint_name(base)
            if self._try_commit(
                base, manifest,
                self._load_stats(base, files=ckpt is None) or None,
                op="delete_fast", dvs=new_dvs, files_checkpoint=ckpt,
            ):
                return base + 1
        raise CommitConflictError(
            f"delete_fast lost the manifest CAS {max_retries + 1} times "
            f"at {self.path}"
        )

    # ------------------------------------------------------- column mapping
    # r9: rename/drop columns WITHOUT rewriting a byte of data — Delta's
    # column-mapping "name mode" essence on the manifest. Physical names
    # are frozen at first write; the manifest's schema_map re-labels them
    # (renames: {logical: physical}) and hides them (dropped: [physical])
    # at the public boundary. Internals (merge, stats, blooms, zone maps,
    # DVs, compaction) stay 100% physical; read()/changes() translate on
    # the way out, and every batch entering upsert/delete/delete_fast
    # translates on the way in. Time travel reads each version under ITS
    # OWN mapping. Deliberately unsupported: re-using a dropped PHYSICAL
    # name (raises — the old data would resurrect silently otherwise)
    # and renaming/dropping the merge keys, the ts column, or 'dt' (the
    # partition machinery's own columns). A renamed-then-dropped LOGICAL
    # name may be re-added: the fresh column gets its own physical slot
    # and the hidden data stays hidden — Delta's fresh-field-id re-add.

    def schema_map(self, version: int | None = None) -> dict:
        """The snapshot's column mapping (see manifest_load_schema_map)."""
        v = self.current_version() if version is None else version
        return manifest_load_schema_map(self.path, v)

    @staticmethod
    def _resolve_name(sm: dict, name: str, what: str) -> str:
        """THE logical→physical resolution (single implementation for
        filters, batches, and DDL — review r9): returns the physical
        name, loud on dropped / renamed-away logical names (a silent
        identity pass-through for a stale old name would address the
        renamed column under stale semantics, and a dropped physical
        would resurrect)."""
        ren, dropped = sm["renames"], set(sm["dropped"])
        p = ren.get(name, name)
        if p in dropped:
            raise ValueError(f"cannot {what} column {name!r}: it was dropped")
        if name not in ren and name in set(ren.values()):
            raise ValueError(
                f"cannot {what} column {name!r}: it was renamed — use its "
                "current name"
            )
        return p

    def _filters_to_physical(self, sm: dict, d: dict | None) -> dict | None:
        """Translate a filter dict's LOGICAL column keys to physical."""
        if not d or not (sm["renames"] or sm["dropped"]):
            return d
        return {self._resolve_name(sm, k, "filter by"): v for k, v in d.items()}

    def _names_to_physical(
        self, sm: dict, names: Sequence[str] | None
    ) -> list[str] | None:
        if names is None:
            return None
        return [self._resolve_name(sm, n, "address") for n in names]

    @staticmethod
    def _apply_logical(df: DataFrame, sm: dict) -> DataFrame:
        """Physical frame → logical view: re-label renames, hide drops.
        ONE select with per-column aliases — sequential
        withColumnRenamed is order-sensitive when a mapping's logical
        name equals another mapping's physical name and corrupts both
        (review r9)."""
        if not (sm["renames"] or sm["dropped"]):
            return df
        inv = {p: lg for lg, p in sm["renames"].items()}
        dropped = set(sm["dropped"])
        return df.select(
            *[
                F.col(c).alias(inv.get(c, c))
                for c in df.columns
                if c not in dropped
            ]
        )

    def _batch_to_physical(self, batch: DataFrame, sm: dict) -> DataFrame:
        """Logical batch → physical columns for the write path (one
        order-insensitive select; loud on dropped / stale names via
        _resolve_name)."""
        if not (sm["renames"] or sm["dropped"]):
            return batch
        return batch.select(
            *[
                F.col(c).alias(self._resolve_name(sm, c, "write"))
                for c in batch.columns
            ]
        )

    def _physical_columns(self, base: int) -> set[str]:
        """The FULL physical column set, from every partition's parquet
        footers via the mergeSchema scan (schema only — no data read).
        One partition's schema is NOT enough: under additive evolution a
        later day may carry columns an earlier day predates, and a DDL
        validated against the wrong sample would reject real columns or
        admit colliding renames (review r9)."""
        manifest = self._load_manifest(base)
        if not manifest:
            raise ValueError(
                f"no partitions at {self.path} v{base}: nothing to "
                "rename or drop"
            )
        return {c for c in self._scan(manifest).columns if c != "dt"}

    def _commit_schema_map(
        self, base: int, new_sm: dict, op: str
    ) -> bool:
        """Metadata-only commit carrying partitions/stats/DVs/checkpoint
        from ``base`` unchanged — the delete_fast re-point pattern."""
        ckpt = self._files_checkpoint_name(base)
        return self._try_commit(
            base,
            self._load_manifest(base),
            self._load_stats(base, files=ckpt is None) or None,
            op=op,
            dvs=self._load_dvs(base) or None,
            files_checkpoint=ckpt,
            schema_map=new_sm,
        )

    # internal column names the mapping must never collide with: the
    # partition machinery's own ('dt', 'dt_part') and CDF's op marker
    _RESERVED_NAMES = frozenset({"dt", "dt_part", "_op", "__z"})

    def _resolve_logical(self, sm: dict, name: str, base: int) -> str:
        """Logical name → physical for DDL, validating existence against
        the full physical column set."""
        p = self._resolve_name(sm, name, "alter")
        if name not in sm["renames"] and p not in self._physical_columns(base):
            raise ValueError(f"no such column {name!r} at {self.path}")
        return p

    def rename_column(
        self, old: str, new: str, max_retries: int = 8
    ) -> int:
        """Rename ``old`` → ``new`` as a METADATA-ONLY commit (no data
        rewritten; on a 100 TB table this is a JSON write). Reads,
        filters, batches, and CDF all speak ``new`` from the committed
        version on; time travel before it still shows ``old``."""
        protected = {*self.keys, self.ts_col} | self._RESERVED_NAMES
        if old in protected or new in protected:
            raise ValueError(
                f"cannot rename {old!r} → {new!r}: merge keys, "
                f"{self.ts_col!r} and the internal columns "
                "('dt', 'dt_part', '_op') are the table's identity"
            )
        for _ in range(max_retries + 1):
            base = self.current_version()
            if base == 0:
                raise ValueError(f"empty table at {self.path}")
            sm = manifest_load_schema_map(self.path, base)
            phys = self._resolve_logical(sm, old, base)
            ren = dict(sm["renames"])
            dropped = set(sm["dropped"])
            if new in dropped:
                # _apply_logical would alias the renamed physical to a
                # name it is simultaneously hiding — both columns vanish
                raise ValueError(
                    f"cannot rename to {new!r}: a dropped physical column "
                    "holds that name"
                )
            inv = {p: l for l, p in ren.items()}
            logical_now = {
                inv.get(c, c)
                for c in self._physical_columns(base)
                if c not in dropped
            }
            if new in logical_now - {old}:
                raise ValueError(f"column {new!r} already exists")
            ren.pop(old, None)
            if new != phys:  # renaming back to the physical name clears
                ren[new] = phys
            if self._commit_schema_map(
                base, {"renames": ren, "dropped": sm["dropped"]},
                op="rename_column",
            ):
                return base + 1
        raise CommitConflictError(
            f"rename_column lost the manifest CAS {max_retries + 1} "
            f"times at {self.path}"
        )

    def drop_column(self, name: str, max_retries: int = 8) -> int:
        """Hide ``name`` as a METADATA-ONLY commit: the physical data
        stays (time travel before the drop still reads it) but every
        later read/CDF omits it, and writes naming its PHYSICAL column
        raise (resurrection guard). A previously-RENAMED column's
        logical name may be written again afterwards — it lands in a
        fresh physical slot, the hidden data stays hidden. Dropping the
        merge keys / ts column is refused — they are the table's
        identity."""
        if name in {*self.keys, self.ts_col} | self._RESERVED_NAMES:
            raise ValueError(
                f"cannot drop {name!r}: merge keys, {self.ts_col!r} and "
                "the internal columns are the table's identity"
            )
        for _ in range(max_retries + 1):
            base = self.current_version()
            if base == 0:
                raise ValueError(f"empty table at {self.path}")
            sm = manifest_load_schema_map(self.path, base)
            phys = self._resolve_logical(sm, name, base)
            ren = dict(sm["renames"])
            ren.pop(name, None)
            dropped = list(sm["dropped"])
            if phys not in dropped:
                dropped.append(phys)
            if self._commit_schema_map(
                base, {"renames": ren, "dropped": dropped}, op="drop_column"
            ):
                return base + 1
        raise CommitConflictError(
            f"drop_column lost the manifest CAS {max_retries + 1} times "
            f"at {self.path}"
        )

    # -------------------------------------------------------------- changes

    def changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """CDF-style keyed diff between two snapshots (Delta's Change Data
        Feed read surface, derived instead of logged): one row per key
        whose state differs, with ``_op`` ∈ I/U/D; I/U rows carry the NEW
        column values, D rows the DELETED row's values (the pre-image,
        Delta-CDF style). Feed it to ``operators/cdc.py`` consumers or a
        downstream MERGE; test_changes_roundtrip pins the defining
        property — applying changes(v1, v2) onto snapshot v1 reproduces
        snapshot v2 exactly.

        Cost is bounded by the MANIFEST DIFF, not the table: a day whose
        manifest entry is identical in both versions points at the same
        immutable data dir, hence is bit-identical and never read; only
        repointed/added/removed days are scanned on either side. A daily
        upsert into a 10-year table diffs one day, not 3 650.

        Contract: a key's day must be stable — the partition date derives
        from an event time that identifies the key (the reference's
        (asset, day) shape), not from a mutable attribute. A key whose day
        changed would be duplicated by the partition-local MERGE itself;
        ``changes`` would then see it twice.
        """
        to_version = self.current_version() if to_version is None else to_version
        old_m = self._load_manifest(from_version)
        new_m = self._load_manifest(to_version)
        if not old_m and not new_m:
            raise ValueError(f"both versions are empty at {self.path}")
        old_dvs = self._load_dvs(from_version)
        new_dvs = self._load_dvs(to_version)
        # a day counts as changed when its data dir OR its deletion
        # vector was repointed — a delete_fast commit changes only the
        # latter, and its suppressed keys must surface as _op='D'
        changed = sorted(
            d
            for d in set(old_m) | set(new_m)
            if old_m.get(d) != new_m.get(d)
            or old_dvs.get(d) != new_dvs.get(d)
        )
        old_part = {d: old_m[d] for d in changed if d in old_m}
        new_part = {d: new_m[d] for d in changed if d in new_m}
        if not new_part and not old_part:
            # no day repointed (the common nothing-changed poll): an empty
            # diff whose schema comes from ONE partition — scanning the
            # whole table for a zero-row result would break the
            # cost-bounded-by-manifest-diff contract on a 3650-day table.
            # Caveat: under schema evolution that partition may predate
            # the newest columns; an empty frame makes that harmless.
            src = new_m or old_m
            base = self._scan(dict([next(iter(src.items()))])).filter(
                F.lit(False)
            )
            return self._apply_logical(
                base.withColumn("_op", F.lit(None).cast("string")),
                manifest_load_schema_map(self.path, to_version),
            )
        some = self._scan(new_part or old_part)
        cols = [c for c in some.columns if c not in self.keys]
        empty = some.filter(F.lit(False))
        # each side applies ITS version's deletion vectors: a key
        # suppressed between the versions diffs as present→absent = D
        old_df = self._scan_live(old_part, old_dvs) if old_part else empty
        new_df = self._scan_live(new_part, new_dvs) if new_part else empty
        o = old_df.select(*self.keys, F.struct(*cols).alias("_old"))
        n = new_df.select(*self.keys, F.struct(*cols).alias("_new"))
        diff = o.join(n, self.keys, "full_outer").filter(
            # I: key only in new; D: only in old; U: value struct changed.
            # eqNullSafe keeps NULL-field flips (a column set to NULL) as
            # a real update instead of comparing NULL = NULL → unknown.
            F.col("_new").isNull()
            | F.col("_old").isNull()
            | ~F.col("_old").eqNullSafe(F.col("_new"))
        )
        op = (
            F.when(F.col("_old").isNull(), "I")
            .when(F.col("_new").isNull(), "D")
            .otherwise("U")
        )
        # I/U rows carry the NEW values; D rows carry the DELETED row's
        # values (the pre-image, Delta-CDF style) — a delete with NULL
        # payload would strand consumers that need the key's attributes,
        # e.g. deriving which DAY to re-aggregate (maintain_daily_from_feed)
        out = diff.select(
            *self.keys,
            *[
                F.when(
                    F.col("_new").isNull(), F.col(f"_old.{c}")
                ).otherwise(F.col(f"_new.{c}")).alias(c)
                for c in cols
            ],
            op.alias("_op"),
        )
        # the feed speaks the DESTINATION version's logical schema (keys
        # and ts_col are rename-protected, so consumer join keys hold)
        return self._apply_logical(
            out, manifest_load_schema_map(self.path, to_version)
        )

    def changes_since_checkpoint(
        self, checkpoint_path: str
    ) -> tuple[DataFrame, int, "Callable[[], None]"]:
        """Incremental change-feed consumption with at-least-once
        semantics: returns ``(changes_df, to_version, ack)`` where
        ``changes_df`` is ``changes(last_acked, to_version)`` — or None
        when there is nothing to process (no commits yet, or no commit
        since the last ack; poll again later) — and calling
        ``ack()`` AFTER durably processing it advances the checkpoint —
        crash before ack and the next call replays the same diff (pair
        with an idempotent consumer: MERGE, cdc_compact, …). The
        checkpoint is a version number in a file, written with the
        fsync'd-tmp + atomic-rename + dir-fsync discipline the manifests
        use.

        A checkpoint that predates vacuum retention (its base manifest is
        gone) raises a descriptive ValueError: the consumer's only sound
        recovery is a full resync (process ``read()`` as one snapshot,
        then ack from the current version) — silently diffing against the
        wrong base would under-deliver changes.

        This is the polling form of a streaming source over the table
        (Delta's ``readChangeFeed`` startingVersion flow); wire it into a
        scheduler or a foreachBatch loop."""
        ck_file = os.path.join(checkpoint_path, "version.json")
        last = 0
        if os.path.exists(ck_file):
            with open(ck_file) as f:
                last = json.load(f)["version"]
        to_version = self.current_version()

        def ack() -> None:
            os.makedirs(checkpoint_path, exist_ok=True)
            tmp = os.path.join(checkpoint_path, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                json.dump({"version": to_version}, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, ck_file)
            dir_fd = os.open(checkpoint_path, os.O_RDONLY)
            try:
                os.fsync(dir_fd)  # make the rename itself durable
            finally:
                os.close(dir_fd)

        if to_version == 0 or to_version == last:
            # nothing committed yet, or nothing since the last ack — the
            # uniform nothing-to-process signal. (Also the only sound
            # answer when deletes emptied the whole table: an empty
            # manifest has no schema to build an empty diff from.)
            return None, to_version, ack
        try:
            df = self.changes(last, to_version)
        except FileNotFoundError as e:
            raise ValueError(
                f"checkpoint at {checkpoint_path} references version "
                f"{last}, which vacuum retention has removed — resync: "
                "process read() as one snapshot, then ack from the "
                "current version"
            ) from e
        return df, to_version, ack

    # -------------------------------------------------------------- compact

    def compact(
        self,
        max_records_per_file: int = 1_000_000,
        max_retries: int = 2,
        cluster_by: Sequence[str] | None = None,
        zorder_by: Sequence[str] | None = None,
    ) -> int | None:
        """Fold every partition's accumulated small files into one fresh
        commit (each upsert leaves its own files; scan-task count grows
        with commit count until compaction). Just another CAS commit: if a
        concurrent upsert wins the race, retry against its snapshot; the
        table is never wrong in the meantime, merely un-compacted, so
        exhausting retries returns None instead of raising — callers
        re-run compaction off-peak. Returns the committed version.

        ``cluster_by`` sorts rows within each partition by the given
        columns before writing — with ``max_records_per_file`` splitting
        the output, consecutive files then hold DISJOINT ranges of the
        cluster columns, which is what turns the per-file zone maps into
        an effective index. Lexicographic, so it only tightens the zone
        maps of the LEADING column.

        ``zorder_by`` (mutually exclusive) is the multi-column version:
        each column is scaled to a 16-bit rank within its partition-day's
        min/max and the ranks' bits are interleaved into one sort key
        (Morton order) — files then cover small HYPER-RECTANGLES of the
        value space, so range reads on ANY of the z-ordered columns skip
        files, not just the first (Delta's OPTIMIZE ZORDER BY). 1-3
        NUMERIC columns (validated); the rank anchors are per-day min/max
        windows over dt_part — co-partitioned with the layout, no extra
        shuffle, no driver collects.

        Zone maps are recomputed from the rewritten bytes, never carried
        over: file-grain stats name physical files, and compaction just
        replaced all of them — stale names would point reads at files that
        no longer exist. (The recompute is one column-pruned scan of data
        this job already rewrote.)"""
        if cluster_by and zorder_by:
            raise ValueError("cluster_by and zorder_by are mutually exclusive")
        for _ in range(max_retries + 1):
            base = self.current_version()
            if base == 0 or not self._load_manifest(base):
                # never committed, or every day was deleted since: nothing
                # to fold (read(version=base) would raise on the empty
                # manifest — found by the DV script property test)
                return None
            commit_id = uuid.uuid4().hex
            commit_dir = os.path.join(self._data_dir, commit_id)
            # PHYSICAL scan, not read(): under column mapping read()
            # returns logical names, and rewriting those would bake the
            # logical schema into fresh files while the mapping still
            # re-labels them — double-renaming every mapped column
            sm = manifest_load_schema_map(self.path, base)
            cluster_by_p = self._names_to_physical(sm, cluster_by)
            zorder_by_p = self._names_to_physical(sm, zorder_by)
            staged = (
                self._scan_live(
                    self._load_manifest(base), self._load_dvs(base)
                )
                .withColumn("dt_part", F.col("dt"))
                .repartition("dt_part")
            )
            if cluster_by:
                staged = staged.sortWithinPartitions("dt_part", *cluster_by_p)
            elif zorder_by:
                from pyspark.sql.types import NumericType

                for c in zorder_by_p:
                    if not isinstance(staged.schema[c].dataType, NumericType):
                        # cast('double') on a non-numeric column yields
                        # NULL → rank 0 everywhere → the column silently
                        # contributes nothing to the key
                        raise ValueError(
                            f"zorder_by column {c!r} is "
                            f"{staged.schema[c].dataType.simpleString()}; "
                            "z-ordering needs numeric columns"
                        )
                staged = (
                    staged.withColumn("__z", _zorder_key(zorder_by_p))
                    .sortWithinPartitions("dt_part", "__z")
                    .drop("__z")
                )
            (
                staged.write.option("maxRecordsPerFile", max_records_per_file)
                .partitionBy("dt_part")
                .parquet(commit_dir)
            )
            new_manifest = {
                name[len("dt_part="):]: os.path.join("data", commit_id, name)
                for name in os.listdir(commit_dir)
                if name.startswith("dt_part=")
            }
            stats = self._collect_stats(commit_dir)
            self._write_blooms(commit_dir)  # recomputed with the rewrite,
            # like the zone maps: file-grain blooms name physical files
            if self._try_commit(base, new_manifest, stats, op="compact"):
                return base + 1
        return None

    # --------------------------------------------------------------- vacuum

    def vacuum(
        self, keep_versions: int = 1, min_age_seconds: float = 3600.0
    ) -> list[str]:
        """Drop manifests older than the newest ``keep_versions`` and every
        data dir no surviving manifest references (orphans from lost CAS
        races included). Never touches the current snapshot.

        ``min_age_seconds`` is the in-flight-writer guard (the same reason
        Delta's VACUUM has a retention threshold): a concurrent upsert
        writes its data dir BEFORE its CAS, so an unreferenced dir younger
        than the threshold may belong to a writer about to commit —
        deleting it would corrupt the table the moment that commit lands.
        Only dirs older than the threshold are reclaimed; keep it above
        the longest plausible write+commit duration. Returns the removed
        names: data-dir commit ids plus any reclaimed files-checkpoint
        sidecar file names (``files-*.parquet``)."""
        import shutil
        import time

        if keep_versions < 1:
            # keep_versions=0 would unlink the CURRENT manifest and then
            # reclaim every data dir — the whole table
            raise ValueError(f"keep_versions must be >= 1, got {keep_versions}")
        current = self.current_version()
        cutoff = max(current - keep_versions + 1, 1)
        for name in os.listdir(self._manifest_dir):
            if (m := _MANIFEST_RE.match(name)) and int(m.group(1)) < cutoff:
                os.unlink(os.path.join(self._manifest_dir, name))
        live: set[str] = set()
        live_ckpts: set[str] = set()
        for v in range(cutoff, current + 1):
            for rel in self._load_manifest(v).values():
                live.add(rel.split(os.sep)[1])  # data/<commit-id>/…
            for rel in self._load_dvs(v).values():
                live.add(rel.split(os.sep)[1])  # DV commits are live too
            ckpt = _manifest_doc(self.path, v).get("files_checkpoint")
            if ckpt:
                live_ckpts.add(ckpt)
        removed = []
        now = time.time()
        for name in os.listdir(self._data_dir):
            full = os.path.join(self._data_dir, name)
            if name not in live and now - os.path.getmtime(full) >= min_age_seconds:
                shutil.rmtree(full)
                removed.append(name)
        # files-checkpoint sidecars: reclaim those no surviving manifest
        # references (vacuumed versions' checkpoints + lost-CAS orphans),
        # under the same in-flight-writer age guard as data dirs — a
        # younger unreferenced sidecar may belong to a commit in flight
        for name in os.listdir(self._manifest_dir):
            if not (name.startswith("files-") and name.endswith(".parquet")):
                continue
            full = os.path.join(self._manifest_dir, name)
            if (
                name not in live_ckpts
                and now - os.path.getmtime(full) >= min_age_seconds
            ):
                os.unlink(full)
                removed.append(name)
        return removed
