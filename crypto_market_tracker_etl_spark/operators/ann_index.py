"""Persistent IVF-PQ index: the inverted file as a parquet TABLE.

``ivf.py``/``pq.py`` score ad-hoc — every probe re-encodes the corpus. At
deployment scale you index once and probe many: this module materializes
the inverted file as parquet directories partitioned by ``list_id``,
committed through one ``StoreManifest`` (operators/store_manifest.py)::

    path/
      _manifests/vN.json                         # quantizers + live dirs
      data/<uuid>/list_id=<cid>/*.parquet        # vec_id, embedding, codes
      data/<uuid>/*.parquet                      # tombstoned ids

The manifest document holds the frozen quantizers (centroids, codebooks,
residual, id/vector columns, the drift baseline) beside two stores:
``lists``, the encoded rows, and ``deletes``, the tombstones. Every
mutation writes fresh directories and makes ONE commit, so a crash
leaves the previous version whole and the next open sweeps the debris.
Because opening sweeps, the manifest's single-writer contract covers
openers too: open the index nowhere else while a write is in flight.

**Partition pruning IS the index lookup**: a probe reads only the union
of the queries' ``nprobe`` lists — the physical scan skips every other
list's files before Spark lists them (asserted via PartitionFilters in the
plan test). ``lists`` is read as one scan per directory joined by
``unionByName``: Spark refuses a single scan over two partitioned roots
(CONFLICTING_DIRECTORY_STRUCTURES), and each scan keeps its own partition
filter. Stored codes mean probing never re-encodes; the raw vectors ride
along in the same partitions so the exact re-rank's point lookups stay
within the pruned scan.

Maintenance is append-only: ``append(batch)`` encodes new vectors with the
FROZEN quantizers (a production index never re-derives its quantizers
from a batch — that would silently re-map every previously written code)
and commits them as one more ``lists`` directory. The same call is the
streaming maintainer: ``foreachBatch(lambda b, _: index.append(b))`` keeps
the index current from a stream (test_stream_maintains_ann_index). Each
append adds a directory with one file per touched list — the standard
small-file accretion, folded back to one directory by ``compact()``.

Reference parity note: the reference repo has no vector search; this is
LLM-pipeline extension surface (SURVEY.md §2.11), the "write once, probe
many" tier promised in operators/ivf.py's module docstring.
"""

from __future__ import annotations

import functools
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ivf import seed_centroids
from .pq import (
    _coded_corpus_udf,
    _collect_query_arrays,
    _exact_rerank,
    _np_matrix,
    _QueryTables,
    _topk,
    codebooks_from_seeds,
    residual_codebooks_from_seeds,
)
from .store_manifest import StoreManifest
from .txn_sink import manifest_current_version

LISTS, DELETES = "lists", "deletes"


def _meta(key: str) -> property:
    """A frozen-quantizer field of the (pending, inside a transaction)
    manifest document, so a rolled-back commit rolls it back too."""
    return property(lambda self: self.manifest.doc["index"][key])


class IvfPqIndex:
    """A built index at ``path``. Construct via ``build`` (new) or the
    plain constructor (existing)."""

    centroids = _meta("centroids")
    codebooks = _meta("codebooks")
    residual = _meta("residual")
    id_col = _meta("id_col")
    vec_col = _meta("vec_col")

    def __init__(self, spark: SparkSession, path: str):
        # checked before the manifest opens: opening sweeps data/
        if not manifest_current_version(path):
            raise FileNotFoundError(f"{path} holds no index")
        self.spark = spark
        self.path = path
        self.manifest = StoreManifest(path)

    # ------------------------------------------------------------ lifecycle

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        path: str,
        corpus: DataFrame,
        k_lists: int = 8,
        ks: int = 16,
        m: int = 8,
        residual: bool = False,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IvfPqIndex":
        """Derive the quantizers from ``corpus`` (md5-seeded — deterministic),
        and commit them, the encoded corpus and the drift baseline as the
        index's first version.

        Refuses a non-empty path, before anything opens it (opening
        sweeps its ``data/``): an in-place rebuild would mix codes from
        different quantizers. Build into a fresh path, or call
        ``maintain``."""
        if os.path.isdir(path) and os.listdir(path):
            raise ValueError(
                f"{path} is not empty; build into a fresh path "
                "(in-place rebuild would mix codes from different quantizers)"
            )
        idx = cls.__new__(cls)
        idx.spark, idx.path, idx.manifest = spark, path, StoreManifest(path)
        idx._index(corpus, k_lists, ks, m, residual, id_col, vec_col, "build")
        return idx

    def _index(
        self,
        corpus: DataFrame,
        k_lists: int,
        ks: int,
        m: int,
        residual: bool,
        id_col: str,
        vec_col: str,
        op: str,
    ) -> None:
        """Derive fresh quantizers from ``corpus`` and commit them with
        ``corpus`` encoded as the only ``lists`` directory, no tombstones
        and the drift baseline measured on the pending state.

        ONE bounded seed collect serves both quantizers: the coarse
        centroids are the md5-order prefix, the codebook seeds the rows
        after it (residual) or the same prefix (raw — matching
        ``seed_codebooks``' definition so `build` ≡ the ad-hoc scorers)."""
        seeds = seed_centroids(
            corpus, k_lists + ks, id_col=id_col, vec_col=vec_col
        )
        centroids = seeds[:k_lists]
        if residual:
            codebooks = residual_codebooks_from_seeds(
                seeds[k_lists : k_lists + ks], centroids, m
            )
        else:
            codebooks = codebooks_from_seeds(seeds[:ks], m)
        with self.manifest.transaction(op):
            self.manifest.doc["index"] = {
                "centroids": centroids,
                "codebooks": codebooks,
                "residual": residual,
                "id_col": id_col,
                "vec_col": vec_col,
            }
            self.manifest.replace(
                LISTS, self._encode(corpus), partition_by="list_id"
            )
            self.manifest.doc["stores"].pop(DELETES, None)
            # the drift baseline is the training distribution itself:
            # drift() compares every later state against what the
            # quantizers were derived from
            self.manifest.doc["index"]["baseline_mse"] = (
                self.reconstruction_mse()
            )

    def _encode(self, batch: DataFrame) -> DataFrame:
        reserved = {"codes", "list_id", "__e"}
        clash = reserved & set(batch.columns)
        if clash:
            raise ValueError(
                f"batch columns {sorted(clash)} collide with index-internal "
                "columns; rename them before appending"
            )
        passthrough = [
            c for c in batch.columns if c not in (self.id_col, self.vec_col)
        ]
        return batch.withColumn(
            "__e",
            _coded_corpus_udf(
                self.codebooks,
                self.centroids,
                residual=self.residual,
            )(F.col(self.vec_col)),
        ).select(
            F.col(self.id_col),
            F.col(self.vec_col),
            F.col("__e.codes").alias("codes"),
            F.col("__e.list_id").alias("list_id"),
            *passthrough,
        )

    def append(self, batch: DataFrame) -> None:
        """Encode ``batch`` with the frozen quantizers and commit it as one
        more ``lists`` directory (an empty batch commits nothing). Also the
        foreachBatch streaming maintainer. Residual indexes store residual
        codes (the probe's per-list tables expect exactly that).

        Any OTHER batch column rides along as stored metadata — that is
        what ``probe(where=...)`` filters on. Keep the passthrough schema
        stable across appends (the directories are unioned by name, with
        no schema merge)."""
        self.manifest.append(LISTS, self._encode(batch), partition_by="list_id")

    def delete(self, ids) -> None:
        """Tombstone vectors by id (the FAISS remove_ids analogue, GDPR
        erasure included): the ids commit as one ``deletes`` directory and
        every probe anti-joins them out — no data file is touched until
        ``compact()``, which physically drops tombstoned rows and clears
        the tombstones. Contract: tombstones suppress the id
        unconditionally, so re-inserting a deleted id requires a compact
        first (sequencing appends against deletes would need a version
        column the layout deliberately doesn't have)."""
        if isinstance(ids, DataFrame):
            df = ids.select(self.id_col).distinct()
        else:
            # the meta imposes no id type — build the tombstone frame with
            # the STORED corpus's actual id type (hardcoding long would
            # crash string ids and type-mismatch the probe's anti-join)
            from pyspark.sql.types import StructField as _SF, StructType as _ST

            if not self.manifest.dirs(LISTS):
                raise ValueError(
                    f"{self.path} has no stored vectors yet, so the id "
                    "type for a plain-iterable delete is unknown — pass "
                    "a DataFrame of ids, or append first"
                )
            id_field = self.read().schema[self.id_col]
            df = self.spark.createDataFrame(
                [(v.item() if hasattr(v, "item") else v,) for v in ids],
                _ST([_SF(self.id_col, id_field.dataType)]),
            )
        self.manifest.append(DELETES, df)

    def _drop_deleted(self, rows: DataFrame) -> DataFrame:
        tomb = self.manifest.read(self.spark, DELETES)
        if tomb is None:
            return rows
        # tombstone set ≪ corpus (compact() folds it to zero), so the
        # anti-join broadcasts
        return rows.join(F.broadcast(tomb), self.id_col, "left_anti")

    def read(self) -> DataFrame:
        """Raw stored rows, tombstones included — the maintenance view.
        ``probe`` is the serving surface and excludes tombstoned ids."""
        dirs = self.manifest.dirs(LISTS)
        if not dirs:
            raise ValueError(f"{self.path} has no stored vectors yet")
        return functools.reduce(
            DataFrame.unionByName, (self.spark.read.parquet(d) for d in dirs)
        )

    def compact(self) -> None:
        """Fold the ``lists`` directories into one, one sorted file per
        list, without the tombstoned rows — the physical erasure point
        (GDPR erasure completes here, not at delete) — and clear the
        tombstones, in one commit.

        Refuses when every vector is tombstoned: an index with no stored
        rows has no schema to probe, and clearing the tombstones would
        lose the only record of the deletes. Deleting the whole corpus
        means decommissioning the index — the caller does that
        explicitly."""
        live = self._drop_deleted(self.read())
        with self.manifest.transaction("compact"):
            self.manifest.replace(
                LISTS,
                live.repartition("list_id").sortWithinPartitions(self.id_col),
                partition_by="list_id",
            )
            if not self.manifest.dirs(LISTS):
                raise ValueError(
                    f"compaction would empty the index at {self.path} "
                    "(every vector is tombstoned); delete the index "
                    "directory instead"
                )
            self.manifest.doc["stores"].pop(DELETES, None)

    # ------------------------------------------------------- maintenance

    def reconstruction_mse(self) -> float:
        """Mean squared PQ reconstruction error over the LIVE rows
        (tombstones excluded): decode every stored code back through the
        frozen codebooks (+ its list centroid for residual indexes) and
        average ||v − v̂||². THE quantizer-health signal: codes are only
        as good as the training distribution the quantizers froze on, so
        as appends drift away from it this number rises — and with it
        ADC ranking error, silently degrading recall while every probe
        keeps 'working'. One Arrow pass over the stored table; no
        re-encode, no pair relation."""
        codebooks, centroids, residual = (
            self.codebooks,
            self.centroids,
            self.residual,
        )
        CB = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
        C = np.asarray(centroids, dtype=np.float64)

        @F.pandas_udf("double")
        def sqerr(emb, codes, lid):
            import pandas as pd

            V = _np_matrix(emb)
            if V.shape[0] == 0:
                return pd.Series([], dtype=float)
            K = np.stack(codes.to_numpy()).astype(np.int64)
            rec = np.concatenate(
                [CB[s][K[:, s]] for s in range(len(CB))], axis=1
            )
            if residual:
                rec = rec + C[lid.to_numpy()]
            return pd.Series(((V - rec) ** 2).sum(axis=1))

        row = self._drop_deleted(self.read()).select(
            sqerr(F.col(self.vec_col), F.col("codes"), F.col("list_id")).alias(
                "e"
            )
        ).agg(F.avg("e").alias("mse")).collect()[0]
        return float(row["mse"]) if row["mse"] is not None else 0.0

    def drift(self) -> dict:
        """Quantizer-drift report: current reconstruction MSE vs the
        baseline frozen at ``build`` time. ``ratio`` ≫ 1 (rule of thumb:
        > ~2 on real embedding drift) means the frozen quantizers no
        longer describe the stored distribution — ``maintain`` re-derives
        them. An index whose manifest records no baseline reports ratio
        None until ``rebaseline()`` records one."""
        mse = self.reconstruction_mse()
        base = self.manifest.doc["index"].get("baseline_mse")
        # None means "no baseline recorded" ONLY. A legitimately-zero
        # baseline (degenerate perfect-reconstruction build) that later
        # drifts must still trip the >2 alarm, so it maps to inf.
        if base is None:
            ratio = None
        elif base == 0.0:
            ratio = float("inf") if mse > 0.0 else 1.0
        else:
            ratio = mse / base
        return {"mse": mse, "baseline_mse": base, "ratio": ratio}

    def rebaseline(self) -> float:
        """Commit the CURRENT reconstruction MSE as the drift baseline —
        ``build`` and ``maintain`` record one themselves; call this only
        after deliberately accepting a new distribution without
        re-deriving the quantizers."""
        mse = self.reconstruction_mse()
        with self.manifest.transaction("rebaseline"):
            self.manifest.doc["index"]["baseline_mse"] = mse
        return mse

    def maintain(self, threshold: float = 2.0) -> dict:
        """The auto-recluster hook closing the detect→repair loop: run
        ``drift()`` and, when the ratio exceeds ``threshold`` (the
        documented >2 rule of thumb), derive FRESH quantizers from the
        live rows (tombstones resolved) under the same configuration
        (k_lists, ks, m, residual) and re-encode every live row with
        them. The new quantizers, the new ``lists`` directory, the
        cleared tombstones and the new baseline are ONE commit: a crash
        anywhere before it leaves the index as it was. Returns the drift
        report plus ``rebuilt`` and, when rebuilt, ``mse_after`` (the
        fresh baseline — ratio is 1.0 by construction afterwards).

        Full rebuild (not per-list re-train) is deliberate: re-training
        only drifted lists would keep untouched lists' codes
        byte-stable, but coarse centroids and codebooks are GLOBAL
        quantizers here — patching a subset would leave the ADC tables
        internally inconsistent across lists. Idle cost: one drift()
        pass; a scheduler can call this after every N appends."""
        report = self.drift()
        report["rebuilt"] = False
        ratio = report["ratio"]
        if ratio is None or ratio <= threshold:
            return report
        self._index(
            self._drop_deleted(self.read()).drop("codes", "list_id"),
            k_lists=len(self.centroids),
            ks=len(self.codebooks[0]),
            m=len(self.codebooks),
            residual=self.residual,
            id_col=self.id_col,
            vec_col=self.vec_col,
            op="maintain",
        )
        report["rebuilt"] = True
        report["mse_after"] = self.manifest.doc["index"]["baseline_mse"]
        return report

    # ---------------------------------------------------------------- probe

    def probe(
        self,
        queries: DataFrame,
        k: int = 3,
        nprobe: int = 2,
        rerank: int = 50,
        where=None,
    ) -> DataFrame:
        """Top-k per query from the stored index: prune to the union of
        probed lists (partition pruning — the scan never lists other
        lists' files), ADC over STORED codes (no re-encode), exact re-rank
        of the shortlist against the stored vectors. Same output contract
        and bit-identical results to ``ivf_pq_topk`` over the same data
        and quantizers (pytest-pinned).

        ``where`` (a Column or SQL string over the stored metadata
        columns) enables FILTERED search: the predicate applies inside the
        pruned scan, BEFORE ADC scoring — pre-filtering, so every scored
        candidate already satisfies it (no post-hoc k shrinkage) and the
        filter composes with partition pruning and parquet row-group
        pushdown. The probed lists are still chosen by vector geometry
        alone: a filter selective enough to empty a probed list behaves
        like any under-filled list (fewer than k results)."""
        qids, Qv = _collect_query_arrays(queries, self.id_col, self.vec_col)
        if qids.size == 0:
            return self.spark.createDataFrame(
                [], "query_id long, neighbor_id long, sqdist long, rank int"
            )
        qt = _QueryTables(
            qids, Qv, self.codebooks, self.centroids, nprobe, self.residual
        )
        probed_lists = sorted({int(x) for x in qt.probes.ravel()})
        pruned = self.read().filter(F.col("list_id").isin(probed_lists))
        if where is not None:
            pruned = pruned.filter(where)
        # covers ADC scoring AND the re-rank, which both read `pruned`
        pruned = self._drop_deleted(pruned)
        id_col = self.id_col

        def gen(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                codes = np.stack(pdf["codes"].to_numpy()).astype(np.int32)
                nid = pdf[id_col].to_numpy()
                lid = pdf["list_id"].to_numpy()
                out = qt.score_batch(codes, nid, lid, rerank)
                if out is not None:
                    yield out

        scored = pruned.select(id_col, "codes", "list_id").mapInPandas(
            gen, "query_id long, neighbor_id long, adc long"
        )
        cand = _topk(scored, "adc", rerank).select("query_id", "neighbor_id")
        return _exact_rerank(
            cand, pruned, queries, k, self.id_col, self.vec_col
        )
