"""Incremental MinHash signature maintenance.

``lsh_candidate_pairs`` recomputes every signature on every run — fine for
one-shot curation, wrong for a pipeline ingesting batches into a 100 TB
corpus. This module persists signatures once and makes each batch pay only
for what changed:

- **Sign new/changed docs only**: the batch is anti-joined against the
  store on (doc_id, content_fp), so an unchanged re-delivered document
  costs one hash + one join probe, not a re-shingling.
- **Append-only batches, merge-on-read** (the LSM shape): each batch lands
  in its own ``batch=N`` partition — nothing is rewritten at write time,
  regardless of corpus size. ``read()`` collapses to the latest signature
  per doc (one keyed window); ``compact()`` folds old batches into one
  when the partition count grows — the small-file trade every
  incremental table makes (``ManifestParquetSink.compact``), invariance
  pinned by test.
- **Incremental pair search**: new-batch band keys (small side, broadcast)
  equi-join the accumulated band index — emitted pairs are exactly those
  touching a new doc. Old×old pairs were emitted by earlier runs, so the
  running union of per-batch outputs equals the from-scratch pair set
  (asserted in tests). Per-batch cost is O(|batch| + collisions), never
  O(corpus).

Signature rows stay lean on purpose: (doc_id, content_fp, minhash, bands)
— no shingle arrays. The Jaccard verify stage re-shingles only the
candidate docs by joining back to the corpus, which at real duplicate
rates is orders of magnitude smaller than storing every doc's shingles.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textstats import normalize_ws
from .dedup import lsh_band_keys, minhash_signatures
from .latest import latest_per_key


class MinHashSignatureStore:
    """Persisted (doc_id, content_fp, minhash, bands) table with
    batch-incremental maintenance and incremental banded pair search."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        num_hashes: int = 12,
        band_size: int = 4,
        shingle_words: int = 3,
        portable: bool = True,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        self.spark = spark
        self.path = path
        self.num_hashes = num_hashes
        self.band_size = band_size
        self.shingle_words = shingle_words
        self.portable = portable
        self.id_col = id_col
        self.text_col = text_col

    # ------------------------------------------------------------- storage

    def _batch_dirs(self, committed_only: bool) -> list[int]:
        if not os.path.isdir(self.path):
            return []
        self._recover_batch_swaps()
        return sorted(
            int(m.group(1))
            for name in os.listdir(self.path)
            if (m := re.fullmatch(r"batch=(\d+)", name))
            and (
                not committed_only
                or os.path.exists(os.path.join(self.path, name, "_SUCCESS"))
            )
        )

    def _recover_batch_swaps(self) -> None:
        """Finish any interrupted delete_docs per-batch swap (protocol:
        write ``batch=N.compacting`` → rename batch=N → ``batch=N.old``
        → rename .compacting → batch=N → rmtree .old). Same rules as the
        curation stores' _recover_swap, run by every directory listing:
        live missing → promote the completed stage (_SUCCESS) or restore
        the set-aside original; leftovers beside a live dir are garbage.
        Steady-state cost: the listdir the caller was doing anyway."""
        import shutil

        from .storeutil import OLD_SUFFIX, STAGED_SUFFIX

        # suffixes from storeutil so recovery (incl. the leftover regex)
        # can never drift from the writer's staged_swap (review r9)
        suffix_alt = f"{STAGED_SUFFIX[1:]}|{OLD_SUFFIX[1:]}"
        for name in os.listdir(self.path):
            m = re.fullmatch(rf"(batch=\d+)\.({suffix_alt})", name)
            if not m:
                continue
            live = os.path.join(self.path, m.group(1))
            staged, old = live + STAGED_SUFFIX, live + OLD_SUFFIX
            if not os.path.isdir(live):
                if os.path.isdir(staged) and os.path.exists(
                    os.path.join(staged, "_SUCCESS")
                ):
                    os.rename(staged, live)
                elif os.path.isdir(old):
                    os.rename(old, live)
            if os.path.isdir(live):
                for leftover in (staged, old):
                    if os.path.isdir(leftover):
                        shutil.rmtree(leftover, ignore_errors=True)

    def delete_docs(self, ids) -> int:
        """PHYSICALLY erase the signature rows of ``ids`` (GDPR-class
        erasure — signatures are content-derived, so tombstone filtering
        alone would retain derived personal data). ``ids`` is either a
        bounded driver-side list (operational erasure requests; isin()
        compiles them into the scan filter) or a DataFrame whose first
        column is the ids (r12 — scan-derived victim sets stay
        distributed: containment probe via left_semi, purge via
        left_anti, no driver materialization).

        Per-batch staged swap: only partitions containing a deleted id
        are rewritten, and BATCH IDENTITY IS PRESERVED — a caller keying
        per-batch side effects by batch number (CurationStream's
        pair-completeness markers) stays consistent with no re-marking.
        Crash anywhere mid-swap is healed by _recover_batch_swaps (every
        listing runs it); the caller's durable delete intent
        (CurationStream._apply_deletes) replays the whole operation, so
        a crash BETWEEN batch rewrites also converges. Same
        single-writer contract as upsert_batch/compact. Returns the
        number of partitions rewritten."""
        from pyspark.sql import DataFrame

        from .storeutil import staged_swap

        if isinstance(ids, DataFrame):
            vid = ids.select(
                F.col(ids.columns[0]).cast("long").alias(self.id_col)
            ).distinct()
            if vid.isEmpty():
                return 0
            rewritten = 0
            for b in self._batches():
                rows = self.batch_rows(b)
                if rows.join(vid, self.id_col, "left_semi").isEmpty():
                    continue
                live = os.path.join(self.path, f"batch={b}")
                kept = rows.join(vid, self.id_col, "left_anti")
                staged_swap(
                    live,
                    lambda staged, kept=kept: kept.write.mode(
                        "overwrite"
                    ).parquet(staged),
                )
                rewritten += 1
            return rewritten
        ids = sorted({int(i) for i in ids})
        if not ids:
            return 0
        rewritten = 0
        for b in self._batches():
            rows = self.batch_rows(b)
            if rows.filter(F.col(self.id_col).isin(ids)).isEmpty():
                continue
            live = os.path.join(self.path, f"batch={b}")
            kept = rows.filter(~F.col(self.id_col).isin(ids))
            staged_swap(
                live,
                lambda staged, kept=kept: kept.write.mode("overwrite").parquet(
                    staged
                ),
            )
            rewritten += 1
        return rewritten

    def _batches(self) -> list[int]:
        """COMMITTED batch partitions only (_SUCCESS present): a write
        that died mid-flight leaves a partial dir that must stay
        invisible to readers — otherwise one crashed compact()/upsert
        wedges every subsequent read with a schema-inference error."""
        return self._batch_dirs(committed_only=True)

    def _next_seq(self) -> int:
        """Next batch number, counting PARTIAL dirs too: numbering past a
        crashed write's leftover keeps errorifexists from colliding."""
        dirs = self._batch_dirs(committed_only=False)
        return (dirs[-1] + 1) if dirs else 0

    def read(self) -> DataFrame:
        """Latest signature per doc across all batches (later batch wins —
        a changed document's re-signed row shadows its old one)."""
        batches = self._batches()
        if not batches:
            raise FileNotFoundError(f"no signature batches under {self.path}")
        df = self.spark.read.option("basePath", self.path).parquet(
            *[os.path.join(self.path, f"batch={b}") for b in batches]
        )
        return latest_per_key(df, [self.id_col], [F.col("batch")])

    def read_or_none(self) -> DataFrame | None:
        """``read()`` or None for a store with no committed batch yet —
        the shape a caller wanting ONE shared store scan per batch needs
        (r12 opt round: process_batch feeds the same pre-append view to
        ``upsert_batch(known=...)`` and ``incremental_pairs(base=...)``,
        halving the per-batch store scans; persist the result across
        those two consumers)."""
        return self.read() if self._batches() else None

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
        """Sign the batch's new/changed docs, append them as the next
        ``batch=N`` partition, and return the newly signed rows (the input
        to ``incremental_pairs``). Unchanged docs cost one anti-join probe.
        The committed partition number is left on ``self.last_seq`` so a
        caller tracking per-batch pair completeness (CurationStream) can
        key its marker by the same id.

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
        incoming = self._fingerprinted(docs)
        if known is not None:
            todo = incoming.join(
                known.select(self.id_col, "content_fp"),
                [self.id_col, "content_fp"],
                "left_anti",
            )
        elif self._batches():
            known_read = self.read().select(self.id_col, "content_fp")
            todo = incoming.join(
                known_read, [self.id_col, "content_fp"], "left_anti"
            )
        else:
            todo = incoming
        seq = self._next_seq()
        signed = self._sign(todo)
        signed.write.mode("errorifexists").parquet(
            os.path.join(self.path, f"batch={seq}")
        )
        self.last_seq = seq
        return self.batch_rows(seq)

    def committed_batches(self) -> list[int]:
        """Public view of the committed partition numbers (for callers
        reconciling per-batch side effects, e.g. pair-completeness)."""
        return self._batches()

    def batch_rows(self, seq: int) -> DataFrame:
        """The signature rows of one committed ``batch=N`` partition —
        the replay input for re-deriving that batch's candidate pairs."""
        return self.spark.read.parquet(os.path.join(self.path, f"batch={seq}"))

    def compact(self, force_sweep: bool = False) -> int:
        """Fold every batch partition into one latest-per-doc batch (the
        LSM compaction the module docstring promises): read() collapses
        N partitions through a keyed window on every call, so a
        long-running stream pays O(total appended rows) per read until
        someone folds. Compaction writes the collapsed view as the NEXT
        batch number (readers always see a complete store — the fold is
        an append like any other), then unlinks the old partitions;
        read()'s latest-per-key keeps working mid-compaction because the
        new batch shadows everything older, and a compact() that DIES
        mid-write leaves only an uncommitted dir (no _SUCCESS) that
        _batches() ignores and the next compact()/upsert numbers past —
        the store never wedges. Leftover partials are swept here.
        Returns the number of partitions folded. Invariants pinned by
        test: read() is row-identical before/after, and incremental_pairs
        over a post-compaction upsert equals the uncompacted run.

        SINGLE-WRITER REQUIREMENT: the store assumes one writer process
        at a time (upsert_batch or compact, never concurrently from two
        processes) — the same contract as a Delta/Iceberg table without a
        locking catalog. The partial-dir sweep below is additionally
        restricted to dirs numbered BELOW the max committed batch: an
        in-flight upsert always writes at _next_seq (past every existing
        dir), so even a contract-violating concurrent writer's dir is
        never deleted mid-write — only leftovers that a later successful
        commit has already numbered past.

        ``force_sweep=True`` is the caller's EXPLICIT exclusivity
        assertion ("no upsert is in flight anywhere"): it additionally
        reclaims uncommitted dirs numbered >= the max committed batch
        (and dirs in a store with no committed batch at all) — the
        leftovers of a crashed write that would otherwise pin disk and
        _next_seq forever in a store receiving no further commits. Unsafe
        under a concurrent writer, hence never the default."""
        import shutil

        batches = self._batches()
        # sweep uncommitted leftovers from crashed writes (invisible to
        # readers, but they hold disk and pin _next_seq forward)
        high_water = -1 if force_sweep else (batches[-1] if batches else None)
        if high_water is not None:
            for b in self._batch_dirs(committed_only=False):
                if b not in batches and (high_water < 0 or b < high_water):
                    shutil.rmtree(os.path.join(self.path, f"batch={b}"))
        if len(batches) <= 1:
            return 0
        folded = self.read()
        seq = self._next_seq()
        folded.drop("batch").write.mode("errorifexists").parquet(
            os.path.join(self.path, f"batch={seq}")
        )
        for b in batches:
            shutil.rmtree(os.path.join(self.path, f"batch={b}"))
        return len(batches)

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
