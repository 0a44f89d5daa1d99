"""Persistent IVF-PQ index: the inverted file as a parquet TABLE.

``ivf.py``/``pq.py`` score ad-hoc — every probe re-encodes the corpus. At
deployment scale you index once and probe many: this module materializes
the inverted file as a parquet table partitioned by ``list_id``::

    path/
      _index_meta.json                  # centroids + codebooks + config
      data/list_id=<cid>/*.parquet      # vec_id, embedding, codes

so **partition pruning IS the index lookup**: a probe reads only the union
of the queries' ``nprobe`` lists — the physical scan skips every other
list's files before Spark lists them (asserted via PartitionFilters in the
plan test). Stored codes mean probing never re-encodes; the raw vectors
ride along in the same partitions so the exact re-rank's point lookups
stay within the pruned scan.

Maintenance is append-only: ``append(batch)`` encodes new vectors with the
FROZEN quantizers from ``_index_meta.json`` (a production index never
re-derives its quantizers from a batch — that would silently re-map every
previously written code) and appends into the ``list_id=`` layout. The
same call is the streaming maintainer: ``foreachBatch(lambda b, _:
index.append(b))`` keeps the index current from a stream
(test_stream_maintains_ann_index). Appends create one file per touched
list per batch — the standard small-file accretion, folded back by
``compact()`` through the same partitioned write.

Reference parity note: the reference repo has no vector search; this is
LLM-pipeline extension surface (SURVEY.md §2.11), the "write once, probe
many" tier promised in operators/ivf.py's module docstring.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ivf import seed_centroids
from .pq import (
    Codebooks,
    _coded_corpus_udf,
    _collect_query_arrays,
    _exact_rerank,
    _QueryTables,
    _topk,
    codebooks_from_seeds,
    residual_codebooks_from_seeds,
)

_META = "_index_meta.json"


class IvfPqIndex:
    """A built index at ``path``. Construct via ``build`` (new) or the
    plain constructor (existing)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._recover_index_swap(path)
        with open(os.path.join(path, _META)) as f:
            meta = json.load(f)
        self.centroids: list[list[float]] = meta["centroids"]
        self.codebooks: Codebooks = meta["codebooks"]
        self.residual: bool = meta["residual"]
        self.id_col: str = meta["id_col"]
        self.vec_col: str = meta["vec_col"]
        self._data = os.path.join(path, "data")
        self._dels = os.path.join(path, "_deletes")
        self._recover()

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
        freeze them in ``_index_meta.json``, and index the corpus.

        ONE bounded seed collect serves both quantizers: the coarse
        centroids are the md5-order prefix, the codebook seeds the rows
        after it (residual) or the same prefix (raw — matching
        ``seed_codebooks``' definition so `build` ≡ the ad-hoc scorers).

        Refuses a path that already holds an index: rebuilding in place
        would overwrite the meta with NEWLY derived quantizers while
        ``append`` keeps adding to data files encoded with the OLD ones —
        silently wrong probes. Rebuild into a fresh path and swap."""
        if os.path.exists(os.path.join(path, _META)) or (
            os.path.isdir(os.path.join(path, "data"))
            and os.listdir(os.path.join(path, "data"))
        ):
            raise ValueError(
                f"{path} already holds an index; build into a fresh path "
                "(in-place rebuild would mix codes from different quantizers)"
            )
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
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, _META), "w") as f:
            json.dump(
                {
                    "centroids": centroids,
                    "codebooks": codebooks,
                    "residual": residual,
                    "id_col": id_col,
                    "vec_col": vec_col,
                },
                f,
            )
        idx = cls(spark, path)
        idx.append(corpus)
        # freeze the drift baseline on the training distribution itself:
        # drift() compares every future state against what the quantizers
        # were actually derived from
        idx.rebaseline()
        return idx

    def append(self, batch: DataFrame) -> None:
        """Encode ``batch`` with the frozen quantizers and append into the
        ``list_id=`` partition layout. Also the foreachBatch streaming
        maintainer. Residual indexes store residual codes (the probe's
        per-list tables expect exactly that).

        Any OTHER batch column rides along as stored metadata — that is
        what ``probe(where=...)`` filters on. Keep the passthrough schema
        stable across appends (plain parquet append, no schema merge)."""
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
        enc = batch.withColumn(
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
        enc.write.partitionBy("list_id").mode("append").parquet(self._data)

    def delete(self, ids) -> None:
        """Tombstone vectors by id (the FAISS remove_ids analogue, GDPR
        erasure included): ids append to ``_deletes/`` and every probe
        anti-joins them out — no data file is touched until ``compact()``,
        which physically drops tombstoned rows and clears the tombstones.
        Contract: tombstones suppress the id unconditionally, so
        re-inserting a deleted id requires a compact first (sequencing
        appends against deletes would need a version column the layout
        deliberately doesn't have)."""
        if isinstance(ids, DataFrame):
            df = ids.select(self.id_col).distinct()
        else:
            # the meta imposes no id type — build the tombstone frame with
            # the STORED corpus's actual id type (hardcoding long would
            # crash string ids and type-mismatch the probe's anti-join)
            from pyspark.sql.types import StructField as _SF, StructType as _ST

            if not any(
                n.endswith(".parquet")
                for _, _, fs in os.walk(self._data)
                for n in fs
            ):
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
        df.write.mode("append").parquet(self._dels)

    def _tombstones(self) -> DataFrame | None:
        if not os.path.isdir(self._dels) or not any(
            n.endswith(".parquet") for n in os.listdir(self._dels)
        ):
            return None
        return self.spark.read.parquet(self._dels)

    def read(self) -> DataFrame:
        """Raw stored rows, tombstones included — the maintenance view.
        ``probe`` is the serving surface and excludes tombstoned ids."""
        return self.spark.read.parquet(self._data)

    def compact(self) -> None:
        """Fold per-batch small files: rewrite each partition's accumulated
        files into one sorted file via a staged swap.

        Single-writer contract (document, don't pretend): the swap is two
        renames, so a crash in between leaves ``data`` missing with the
        complete pre-compact copy parked under a unique ``data.old-*``
        name; ``_recover()`` (run on every construction and read) renames
        it back, so the index self-heals on next open instead of requiring
        manual surgery. Leftover ``.old`` dirs from runs that crashed AFTER
        the swap are reclaimed here."""
        import shutil
        import uuid

        self._recover()
        for name in os.listdir(self.path):
            if name.startswith("data.old-"):
                shutil.rmtree(os.path.join(self.path, name))
        staged = self._data + ".staging"
        if os.path.isdir(staged):
            shutil.rmtree(staged)
        live = self.read()
        tomb = self._tombstones()
        if tomb is not None:
            # physical erasure point: tombstoned rows don't reach the
            # rewritten files (GDPR erasure completes here, not at delete)
            live = live.join(F.broadcast(tomb), self.id_col, "left_anti")
        (
            live
            .repartition("list_id")
            .sortWithinPartitions(self.id_col)
            .write.partitionBy("list_id")
            .mode("overwrite")
            .parquet(staged)
        )
        if not any(n.startswith("list_id=") for n in os.listdir(staged)):
            # every vector was tombstoned: swapping in a file-less dir
            # would brick read()/probe() (no schema to infer) and clearing
            # the tombstones would then lose the only record of the
            # deletes. Deleting the whole corpus means decommissioning
            # the index — make the caller do that explicitly.
            shutil.rmtree(staged)
            raise ValueError(
                f"compaction would empty the index at {self.path} (every "
                "vector is tombstoned); delete the index directory instead"
            )
        old = self._data + f".old-{uuid.uuid4().hex}"
        os.rename(self._data, old)
        try:
            os.rename(staged, self._data)
        except BaseException:
            os.rename(old, self._data)  # roll back; staged left for debug
            raise
        shutil.rmtree(old)
        if tomb is not None:
            # only after the swap landed: a crash before this point leaves
            # the tombstones in place (suppression keeps working); clearing
            # first would resurrect deleted ids on a pre-swap crash
            shutil.rmtree(self._dels, ignore_errors=True)

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
        import numpy as np

        from .pq import _np_matrix

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

        live = self.read()
        tomb = self._tombstones()
        if tomb is not None:
            live = live.join(F.broadcast(tomb), self.id_col, "left_anti")
        row = live.select(
            sqerr(F.col(self.vec_col), F.col("codes"), F.col("list_id")).alias(
                "e"
            )
        ).agg(F.avg("e").alias("mse")).collect()[0]
        return float(row["mse"]) if row["mse"] is not None else 0.0

    def drift(self) -> dict:
        """Quantizer-drift report: current reconstruction MSE vs the
        baseline frozen at ``build`` time. ``ratio`` ≫ 1 (rule of thumb:
        > ~2 on real embedding drift) means the frozen quantizers no
        longer describe the stored distribution — rebuild into a fresh
        path and swap (the documented maintenance move; ``build``
        refuses in-place rebuilds for exactly this moment). Indexes
        built before the baseline existed report ratio None until
        ``rebaseline()`` records one."""
        mse = self.reconstruction_mse()
        base = self._meta_get("baseline_mse")
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
        """Record the CURRENT reconstruction MSE as the drift baseline —
        done automatically by ``build``; call explicitly only on an
        index predating the baseline, or after deliberately accepting a
        new distribution without rebuilding."""
        mse = self.reconstruction_mse()
        self._meta_set("baseline_mse", mse)
        return mse

    def maintain(self, threshold: float = 2.0) -> dict:
        """The auto-recluster hook closing the detect→repair loop (r8
        verdict "What's missing" #3): run ``drift()`` and, when the
        ratio exceeds ``threshold`` (the documented >2 rule of thumb),
        execute the rebuild-and-swap that was previously a manual
        runbook step. The rebuild derives FRESH quantizers from the
        live rows (tombstones resolved — they die with the old path's
        ``_deletes``), under the same configuration (k_lists, ks, m,
        residual) read back from the frozen meta, into ``<path>.
        rebuilding``, then swaps directories. Returns the drift report
        plus ``rebuilt`` and, when rebuilt, ``mse_after`` (the fresh
        baseline — ratio is 1.0 by construction afterwards).

        Crash safety (same discipline as compact, one level up): the
        original index stays untouched until the new one is COMPLETE
        (build + append + baseline all returned); the swap is two
        renames with the original parked at ``<path>.old-*``. Recovery
        (``_recover_index_swap``, run by every construction) rolls BACK
        to the parked original whenever the live path lacks a meta —
        the original is the only state guaranteed complete — and
        reclaims leftovers otherwise; a rolled-back maintain simply
        re-runs. Full rebuild (not per-list re-train) is deliberate:
        re-training only drifted lists would keep untouched lists'
        codes byte-stable, but coarse centroids and codebooks are
        GLOBAL quantizers here — patching a subset would leave the ADC
        tables internally inconsistent across lists. Idle cost: one
        drift() pass; a scheduler can call this after every N appends."""
        report = self.drift()
        report["rebuilt"] = False
        ratio = report["ratio"]
        if ratio is None or ratio <= threshold:
            return report
        import shutil
        import uuid

        staging = self.path + ".rebuilding"
        if os.path.isdir(staging):
            shutil.rmtree(staging)
        live = self.read()
        tomb = self._tombstones()
        if tomb is not None:
            live = live.join(F.broadcast(tomb), self.id_col, "left_anti")
        corpus = live.drop("codes", "list_id")
        IvfPqIndex.build(
            self.spark,
            staging,
            corpus,
            k_lists=len(self.centroids),
            ks=len(self.codebooks[0]),
            m=len(self.codebooks),
            residual=self.residual,
            id_col=self.id_col,
            vec_col=self.vec_col,
        )
        old = self.path + f".old-{uuid.uuid4().hex}"
        os.rename(self.path, old)
        try:
            os.rename(staging, self.path)
        except BaseException:
            os.rename(old, self.path)  # roll back; staging left for debug
            raise
        shutil.rmtree(old)
        self.__init__(self.spark, self.path)  # reload the fresh quantizers
        report["rebuilt"] = True
        report["mse_after"] = self._meta_get("baseline_mse")
        return report

    @staticmethod
    def _recover_index_swap(path: str) -> None:
        """Heal an interrupted ``maintain`` swap. Invariant: a live path
        WITH a meta is authoritative (reclaim any parked ``.old-*`` /
        leftover ``.rebuilding``); a live path WITHOUT one means the
        swap died mid-flight — roll back to the parked original, which
        is the only state guaranteed complete (the staging dir gets a
        meta long before its data and baseline finish)."""
        import shutil

        parent, base = os.path.split(os.path.abspath(path))
        if not os.path.isdir(parent):
            return
        olds = sorted(
            n for n in os.listdir(parent) if n.startswith(base + ".old-")
        )
        staging = path + ".rebuilding"
        if not olds:
            # a maintain() killed mid-BUILD leaves only the staging copy:
            # the live index is untouched and authoritative — reclaim the
            # orphan here, because maintain's own staging cleanup runs
            # only when drift still exceeds the threshold, so a
            # post-crash rebaseline()/delete would otherwise pin a
            # full-size index copy forever (review r9). A staging dir
            # NEXT TO a meta-less live path with no parked original is
            # left for debugging — deleting the only other copy of
            # anything is never recovery.
            if os.path.isdir(staging) and os.path.exists(
                os.path.join(path, _META)
            ):
                shutil.rmtree(staging, ignore_errors=True)
            return
        if os.path.exists(os.path.join(path, _META)):
            for n in olds:
                shutil.rmtree(os.path.join(parent, n), ignore_errors=True)
        else:
            if os.path.isdir(path):
                shutil.rmtree(path)
            os.rename(os.path.join(parent, olds[0]), path)
            for n in olds[1:]:
                shutil.rmtree(os.path.join(parent, n), ignore_errors=True)
            if os.path.isdir(staging):
                shutil.rmtree(staging, ignore_errors=True)

    def _meta_get(self, key: str):
        with open(os.path.join(self.path, _META)) as f:
            return json.load(f).get(key)

    def _meta_set(self, key: str, value) -> None:
        meta_path = os.path.join(self.path, _META)
        with open(meta_path) as f:
            meta = json.load(f)
        meta[key] = value
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, meta_path)

    def _recover(self) -> None:
        """If a compact crashed between its two renames, ``data`` is gone
        but the complete pre-compact copy exists as ``data.old-*`` —
        restore it."""
        if os.path.isdir(self._data):
            return
        olds = sorted(
            n for n in os.listdir(self.path) if n.startswith("data.old-")
        )
        if olds:
            os.rename(os.path.join(self.path, olds[0]), self._data)

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
        tomb = self._tombstones()
        if tomb is not None:
            # tombstone set ≪ corpus (compact() folds it to zero), so the
            # anti-join broadcasts; covers ADC scoring AND the re-rank,
            # which both read `pruned`
            pruned = pruned.join(F.broadcast(tomb), self.id_col, "left_anti")
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
