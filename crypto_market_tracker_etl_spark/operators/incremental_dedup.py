"""Incremental MinHash signature maintenance.

``lsh_candidate_pairs`` recomputes every signature on every run — fine for
one-shot curation, wrong for a pipeline ingesting batches into a 100 TB
corpus. This module persists signatures once and makes each batch pay only
for what changed:

- **Sign new/changed docs only**: the batch is anti-joined against the
  store on (doc_id, content_fp), so an unchanged re-delivered document
  costs one hash + one join probe, not a re-shingling.
- **Append-only batches, merge-on-read** (the LSM shape): each batch lands
  in its own directory, listed by the store's ``StoreManifest``
  (operators/store_manifest.py) and stamped with a ``batch`` column —
  nothing is rewritten at write time, regardless of corpus size.
  ``read()`` collapses to the latest signature per doc (one keyed window
  over ``batch``); ``compact()`` folds the batches into one when their
  count grows — the small-file trade every incremental table makes
  (``ManifestParquetSink.compact``), invariance pinned by test. Every
  mutation (append, erasure rewrite, fold) is one manifest commit, so a
  crash leaves either the old or the new batch set, never a torn one.
- **Incremental pair search**: new-batch band keys (small side, broadcast)
  equi-join the accumulated band index — emitted pairs are exactly those
  touching a new doc. Old×old pairs were emitted by earlier runs, so the
  running union of per-batch outputs equals the from-scratch pair set
  (asserted in tests). Per-batch cost is O(|batch| + collisions), never
  O(corpus).

Signature rows stay lean on purpose: (doc_id, content_fp, minhash, bands,
batch) — no shingle arrays. The Jaccard verify stage re-shingles only the
candidate docs by joining back to the corpus, which at real duplicate
rates is orders of magnitude smaller than storing every doc's shingles.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textstats import normalize_ws
from .dedup import lsh_band_keys, minhash_signatures
from .latest import latest_per_key
from .store_manifest import StoreManifest


def id_frame(spark: SparkSession, ids, col: str = "doc_id") -> DataFrame:
    """``ids`` — a driver-side iterable, or a DataFrame whose first
    column holds them — as a one-column long frame named ``col``: the
    one shape every erasure path anti-joins against."""
    if isinstance(ids, DataFrame):
        return ids.select(F.col(ids.columns[0]).cast("long").alias(col))
    return spark.createDataFrame([(int(i),) for i in ids], f"{col} long")


class MinHashSignatureStore:
    """Persisted (doc_id, content_fp, minhash, bands, batch) table with
    batch-incremental maintenance and incremental banded pair search.

    ``store`` is the ``StoreManifest`` the batches commit through — a
    caller keeping other stores beside this one (CurationStream) passes
    its own, so one commit moves them all — or a directory to open one
    over."""

    STORE = "sigs"

    def __init__(
        self,
        spark: SparkSession,
        store: str | StoreManifest,
        num_hashes: int = 12,
        band_size: int = 4,
        shingle_words: int = 3,
        portable: bool = True,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        self.spark = spark
        self.manifest = (
            store if isinstance(store, StoreManifest) else StoreManifest(store)
        )
        self.num_hashes = num_hashes
        self.band_size = band_size
        self.shingle_words = shingle_words
        self.portable = portable
        self.id_col = id_col
        self.text_col = text_col

    # ------------------------------------------------------------- storage

    def delete_docs(self, ids) -> int:
        """PHYSICALLY erase the signature rows of ``ids`` (GDPR-class
        erasure — signatures are content-derived, so tombstone filtering
        alone would retain derived personal data). ``ids`` is a
        driver-side iterable or a DataFrame whose first column is the
        ids. One job finds the batch directories holding a victim (a
        left_semi over one scan of the store, each row tagged with its
        file); only those are rewritten (left_anti), as one manifest
        commit (or joining the caller's open transaction). A DataFrame
        caller should hold it: the probe and every rewrite read it.
        Returns the number of directories rewritten."""
        idc = self.id_col
        vid = id_frame(self.spark, ids, idc)
        rows = self.manifest.read(self.spark, self.STORE)
        if rows is None:
            return 0
        hit = {
            r[0].rsplit("/", 2)[-2]
            for r in rows.select(idc, F.col("_metadata.file_path").alias("f"))
            .join(vid, idc, "left_semi")
            .select("f")
            .distinct()
            .collect()
        }
        dirs = [
            d
            for d in self.manifest.dirs(self.STORE)
            if os.path.basename(d) in hit
        ]
        with self.manifest.transaction("delete_docs"):
            for d in dirs:
                self.manifest.replace(
                    self.STORE,
                    self.spark.read.parquet(d).join(vid, idc, "left_anti"),
                    old=[d],
                )
        return len(dirs)

    def read(self) -> DataFrame:
        """Latest signature per doc across all batches (later batch wins —
        a changed document's re-signed row shadows its old one). Batch
        order rides in the rows' ``batch`` column."""
        df = self.manifest.read(self.spark, self.STORE)
        if df is None:
            raise FileNotFoundError(
                f"no signature batches under {self.manifest.path}"
            )
        return latest_per_key(df, [self.id_col], [F.col("batch")])

    def read_or_none(self) -> DataFrame | None:
        """``read()`` or None for a store with no committed batch yet —
        the shape a caller wanting ONE shared store scan per batch needs
        (r12 opt round: process_batch feeds the same pre-append view to
        ``upsert_batch(known=...)`` and ``incremental_pairs(base=...)``,
        halving the per-batch store scans; persist the result across
        those two consumers)."""
        return self.read() if self.manifest.dirs(self.STORE) else None

    # ------------------------------------------------------------- signing

    def _fingerprinted(self, docs: DataFrame) -> DataFrame:
        # reuse a caller-supplied fingerprint column (CurationStream's
        # per-batch stats already md5'd the normalized text — recomputing
        # here was one full md5 pass per batch, r12 opt round); the
        # column is definitionally the same expression either way
        if "content_fp" in docs.columns:
            return docs
        return docs.withColumn(
            "content_fp", F.md5(normalize_ws(F.col(self.text_col)))
        )

    def _sign(self, docs: DataFrame) -> DataFrame:
        sigs = minhash_signatures(
            docs,
            text_col=self.text_col,
            num_hashes=self.num_hashes,
            shingle_words=self.shingle_words,
            portable=self.portable,
        )
        bands = F.array(*lsh_band_keys(self.num_hashes, self.band_size))
        return sigs.select(
            F.col(self.id_col),
            "content_fp",
            "minhash",
            bands.alias("bands"),
        )

    def upsert_batch(self, docs: DataFrame, known: DataFrame | None = None) -> DataFrame:
        """Sign the batch's new/changed docs, commit them as the next
        batch directory, and return the newly signed rows (the input to
        ``incremental_pairs``). Unchanged docs cost one anti-join probe.
        Each row's ``batch`` is the manifest version that commits it, so
        later batches sort later; inside a caller's open transaction the
        write joins that commit.

        ``known`` (optional): a pre-read latest-per-doc store view (from
        ``read_or_none``) to anti-join against instead of re-scanning the
        store — pass it when the caller also needs the same view for
        ``incremental_pairs`` (one scan, two consumers). CONTRACTS
        (ADVICE r12): ``known`` must be the latest-per-doc view of ALL
        committed batches as of this call — a stale view silently
        re-signs unchanged docs or skips changed ones; and if ``docs``
        already carries a ``content_fp`` column it MUST equal
        ``md5(normalize_ws(text_col))`` — ``_fingerprinted`` trusts a
        caller-supplied column (the one-md5-pass-per-batch optimization)
        and a differently derived fingerprint would corrupt change
        detection with no error."""
        todo = self._fingerprinted(docs)
        if known is None:
            known = self.read_or_none()
        if known is not None:
            todo = todo.join(
                known.select(self.id_col, "content_fp"),
                [self.id_col, "content_fp"],
                "left_anti",
            )
        # the manifest version this batch commits in (alone, or as part
        # of the caller's open transaction): later batches sort later
        signed = self._sign(todo).withColumn(
            "batch", F.lit(self.manifest.version + 1).cast("long")
        )
        return self.spark.read.parquet(self.manifest.append(self.STORE, signed))

    def compact(self) -> int:
        """Fold every batch directory into one latest-per-doc directory
        (the LSM compaction the module docstring promises): read()
        collapses N directories through a keyed window on every call, so
        a long-running stream pays O(total appended rows) per read until
        someone folds. The folded rows keep their ``batch``, and the fold
        replaces the batches in one manifest commit — readers see the
        old batches or the fold, never a mix. Returns the number of
        directories folded. Invariants pinned by test: read() is
        row-identical before/after, and incremental_pairs over a
        post-compaction upsert equals the uncompacted run.

        SINGLE-WRITER REQUIREMENT: one writer process at a time
        (upsert_batch, delete_docs or compact) — the same contract as a
        Delta/Iceberg table without a locking catalog; a second writer
        loses the manifest CAS with ``CommitConflictError``."""
        n = len(self.manifest.dirs(self.STORE))
        if n <= 1:
            return 0
        self.manifest.replace(self.STORE, self.read())
        return n

    # ------------------------------------------------------ pair search

    def incremental_pairs(
        self, new_sigs: DataFrame, base: DataFrame | None = None
    ) -> DataFrame:
        """Candidate pairs (id_a < id_b) that involve ≥1 doc from
        ``new_sigs``, via band-key equi-join of the (broadcast) new side
        against the accumulated band index. The union of this output over
        all batches equals the from-scratch ``lsh_candidate_pairs`` of the
        full corpus.

        ``base`` (optional): the PRE-append latest-per-doc view (from
        ``read_or_none`` taken before ``upsert_batch``). When given, the
        post-append store view is reconstructed as
        ``new_sigs ∪ (base minus new doc ids)`` — identical to a fresh
        ``read()``, because a batch shadows exactly its own doc ids —
        avoiding a second full store scan + window collapse per batch
        (r12 opt round). FRESHNESS CONTRACT (ADVICE r12): ``base`` must
        cover every batch committed before ``new_sigs``' own — i.e. be
        taken immediately before the ``upsert_batch`` that produced
        ``new_sigs``, in the same single-writer sequence (process_batch's
        usage). A stale base silently drops candidate pairs against the
        batches it is missing."""
        idc = self.id_col
        if base is not None:
            latest = new_sigs.select(idc, "bands").unionByName(
                base.select(idc, "bands").join(
                    new_sigs.select(idc), idc, "left_anti"
                )
            )
        else:
            latest = self.read()
        store = latest.select(
            F.col(idc).alias("id_b"), F.explode("bands").alias("band_key")
        )
        new = new_sigs.select(
            F.col(idc).alias("id_a"), F.explode("bands").alias("band_key")
        )
        return (
            store.join(F.broadcast(new), "band_key")
            .filter(F.col("id_a") != F.col("id_b"))
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
            .distinct()
        )
