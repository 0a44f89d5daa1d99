"""One versioned manifest over a directory of append-only parquet stores.

Layout::

    path/
      _manifests/v1.json ... v{N}.json   # atomic commit pointers
      data/<uuid>/*.parquet              # immutable store directories

``v{N}.json`` lists, per named store (the curation corpus, vhash, pairs
and signature stores; the ANN index's lists and tombstones), the data
directories that make it up, plus the small metadata its owners keep
beside them (the curation funnel ledger, the index's quantizers). A
store may lay its directories out by a partition column
(``data/<uuid>/list_id=<cid>/``). ``read``'s single scan is for
unpartitioned stores: Spark refuses one scan over two partitioned
roots, so a partitioned store's owner reads ``dirs`` one scan each.
Every mutation writes only fresh ``data/<uuid>`` directories and then
makes exactly ONE commit through the CAS the keyed-MERGE sink uses
(``txn_sink.manifest_commit``), so all stores move together:

- a crash before the commit leaves only directories no manifest
  references — readers never list them;
- a crash after the commit leaves only the superseded directories and
  manifest — garbage;
- ``sweep`` removes both. It runs after every commit and whenever a
  store is opened.

Single writer: a lost CAS raises ``CommitConflictError`` and is never
retried — a second writer on the same directory is a contract breach,
not a conflict to merge.
"""

from __future__ import annotations

import contextlib
import copy
import json
import os
import shutil
import time
import uuid
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from .txn_sink import (
    _MANIFEST_RE,
    CommitConflictError,
    manifest_commit,
    manifest_current_version,
)


class StoreManifest:
    """The committed (or, inside ``transaction``, pending) set of data
    directories of every store under ``path``."""

    def __init__(self, path: str):
        self.path = path
        self._data_dir = os.path.join(path, "data")
        self._open = False
        self.version = manifest_current_version(path)
        if self.version:
            p = os.path.join(path, "_manifests", f"v{self.version}.json")
            with open(p) as f:
                self.doc = json.load(f)
        else:
            self.doc = {"stores": {}}
        self.sweep()

    def dirs(self, store: str) -> list[str]:
        """Absolute paths of ``store``'s live data directories."""
        return [
            os.path.join(self._data_dir, d)
            for d in self.doc["stores"].get(store, [])
        ]

    def read(self, spark: SparkSession, store: str) -> DataFrame | None:
        """One scan over ``store``'s live directories; None while it has
        none."""
        dirs = self.dirs(store)
        return spark.read.parquet(*dirs) if dirs else None

    def append(
        self, store: str, df: DataFrame, partition_by: str | None = None
    ) -> str | None:
        """Write ``df`` to a fresh directory and add it to ``store``;
        returns the directory, or None when a partitioned write produced
        no partition (see ``_write``). Commits by itself outside a
        transaction."""
        with self.transaction(f"append {store}"):
            d = self._write(df, partition_by)
            if d is not None:
                self.doc["stores"].setdefault(store, []).append(d)
        return d and os.path.join(self._data_dir, d)

    def replace(
        self,
        store: str,
        df: DataFrame,
        old: list[str] | None = None,
        partition_by: str | None = None,
    ) -> None:
        """Write ``df`` to a fresh directory that takes the place of the
        directories ``old`` (absolute, as ``dirs`` returns them; default:
        all of ``store``'s)."""
        with self.transaction(f"replace {store}"):
            d = self._write(df, partition_by)
            keep = []
            if old is not None:
                gone = {os.path.basename(p) for p in old}
                keep = [x for x in self.doc["stores"][store] if x not in gone]
            self.doc["stores"][store] = keep + ([d] if d else [])

    def _write(self, df: DataFrame, partition_by: str | None) -> str | None:
        """``partition_by`` lays the directory out as ``<col>=<v>/``
        children. An empty frame written that way leaves no child and no
        schema to read back, so it is removed and None returned."""
        name = uuid.uuid4().hex
        path = os.path.join(self._data_dir, name)
        w = df.write.mode("errorifexists")
        if partition_by is not None:
            w = w.partitionBy(partition_by)
        w.parquet(path)
        if partition_by is None or any(
            n.startswith(partition_by + "=") for n in os.listdir(path)
        ):
            return name
        shutil.rmtree(path)
        return None

    @contextlib.contextmanager
    def transaction(self, op: str) -> Iterator[None]:
        """Group every store write inside the block into ONE commit. A
        block nested in an open transaction joins it. If the block or
        the commit raises, the pending state is dropped and its
        directories are left for the next sweep."""
        if self._open:
            yield
            return
        base = copy.deepcopy(self.doc)
        self._open = True
        try:
            yield
            if self.doc == base:
                return
            doc = dict(
                self.doc,
                version=self.version + 1,
                op=op,
                committed_at=time.time(),
            )
            if not manifest_commit(self.path, self.version, doc):
                raise CommitConflictError(
                    f"{op} lost the manifest CAS at {self.path} "
                    f"v{self.version + 1}: these stores allow one writer"
                )
        except BaseException:
            self.doc = base
            raise
        finally:
            self._open = False
        self.doc, self.version = doc, self.version + 1
        self.sweep()

    def sweep(self) -> None:
        """Remove every data directory and manifest the current version
        does not reference (a crashed write's output, the directories a
        commit superseded, older manifests)."""
        live = {d for ds in self.doc["stores"].values() for d in ds}
        if os.path.isdir(self._data_dir):
            for name in os.listdir(self._data_dir):
                if name not in live:
                    shutil.rmtree(os.path.join(self._data_dir, name))
        mdir = os.path.join(self.path, "_manifests")
        if os.path.isdir(mdir):
            for name in os.listdir(mdir):
                m = _MANIFEST_RE.match(name)
                if (m and int(m.group(1)) < self.version) or name.startswith(
                    ".tmp-"
                ):
                    os.unlink(os.path.join(mdir, name))
