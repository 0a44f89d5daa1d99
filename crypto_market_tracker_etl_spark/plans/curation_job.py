"""End-to-end training-data curation pipeline — the curation tier's
analogue of ``etl_job.py``: one composed plan from raw documents to packed
training sequences, built entirely from the already-attested operators.

Stages (each independently oracle/pytest-verified elsewhere; this module
adds the COMPOSITION):

1. **stats** — quality score, language id, token count per document
   (functions/textstats.py — pure built-ins).
2. **quality gate** — drop documents below ``quality_min``.
3. **exact dedup** — keep the lowest-id row per normalized content
   (operators/dedup.py::exact_dedup; one md5-groupBy shuffle).
4. **near-dup keep-best** — MinHash → banded LSH candidates (source-
   blocked) → shingle-Jaccard verify → connected components → keep the
   LONGEST member per cluster (tie: lowest id). The signature table is
   held in a ``cache_scope`` across its two consumers and released once
   the (small) loser set is materialized.
5. **split** — deterministic 80/10/10 train/valid/test by seeded md5 key
   (same constants as the attested ``hash_split`` query), so reruns and
   backfills never migrate documents between splits.
6. **pack** — fixed-capacity sequence packing per (split, source) in
   deterministic doc_id order (same discipline as ``sequence_packing``).

Scale posture: the corpus passes through ONE quality/dedup funnel of
narrow scans + the documented shuffles (md5 groupBy, band-key join, one
window per packing stratum); every small side (cluster labels, losers,
schedule) broadcasts; no driver collects beyond the loser materialization
(bounded by duplicate count). At 100 TB each stage is the same plan over
partitioned inputs.

Reference parity note: the reference repo has no curation pipeline; this
is the LLM-data-pipeline extension surface composed end-to-end
(SURVEY.md §2.11) — what a user would actually RUN nightly.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from ..functions.textstats import lang_id, n_tokens, normalize_ws, quality_score
from ..operators.cache import cache_scope, materialize
from ..operators.dedup import (
    connected_components,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard,
)


def keep_best_losers(pairs: DataFrame, lens: DataFrame) -> DataFrame:
    """Cluster the near-dup pair graph (connected components) and return
    the LOSER doc ids: every cluster member except the longest (tie:
    lowest id). ``lens``: (node, len). Shared by the batch funnel and
    the streaming twin (plans/curation_stream.py) so the keep-best rule
    can never silently diverge between them — the stream≡batch equality
    test leans on this being ONE implementation."""
    comps = connected_components(pairs)
    best = (
        comps.join(lens, "node")
        .groupBy("component")
        .agg(
            F.max_by(
                F.col("node"),
                F.struct(F.col("len"), (-F.col("node")).alias("nn")),
            ).alias("keep")
        )
    )
    return (
        comps.join(F.broadcast(best), "component")
        .filter(F.col("node") != F.col("keep"))
        .select(F.col("node").alias("doc_id"))
    )


@dataclass
class CurationResult:
    """Stage outputs (lazy DataFrames) + an eager funnel of stage counts."""

    stats: DataFrame  # doc_id, source, text, quality, lang, n_tok
    clean: DataFrame  # post quality gate + exact dedup + near-dup keep-best
    splits: DataFrame  # clean + split
    packs: DataFrame  # (split, source, pack_id, n_docs, tokens, utilization)

    def funnel(self) -> dict[str, int]:
        return dict(self._funnel)

    _funnel: list[tuple[str, int]] = None  # set by run_curation


def run_curation(
    spark: SparkSession,
    docs: DataFrame,
    quality_min: float = 0.0,
    jaccard_threshold: float = 0.5,
    num_hashes: int = 12,
    band_size: int = 4,
    capacity: int = 512,
    portable: bool = True,
    boilerplate_min_docs: int | None = None,
) -> CurationResult:
    """Run the full curation funnel over ``docs`` (doc_id, source, text).

    ``portable=True`` keeps every hash md5-based (cross-engine
    reproducible); production deployments set ``portable=False`` for the
    xxhash64 fast path (same plans — the measured md5 tax is in
    BENCH_BASELINE.md).

    ``boilerplate_min_docs`` enables stage 0: cross-corpus boilerplate
    stripping (operators/boilerplate.py, the attested boilerplate_strip
    semantics) BEFORE quality scoring — boilerplate inflates length and
    stopword signals, so real pipelines strip first and score what
    remains. Documents stripped to nothing fall out at the quality gate."""
    if boilerplate_min_docs is not None:
        from ..operators.boilerplate import boilerplate_table

        normed = docs.select(
            "doc_id", "source", normalize_ws(F.col("text")).alias("text")
        )
        docs = normed.drop("text").join(
            boilerplate_table(normed, min_docs=boilerplate_min_docs).select(
                "doc_id", F.col("clean_text").alias("text")
            ),
            "doc_id",
        )
        # lazy checkpoint: the stripped corpus feeds the four eager funnel
        # counts AND every downstream stage — without it the segmentation +
        # frequency shuffle + join re-executes per consumer (the same
        # recompute class as the schedule in q_domain_mix). Materializes on
        # first use; executor-storage-sized by the corpus, so a 100 TB run
        # would stage to a table instead.
        docs = docs.localCheckpoint(eager=False)
    t = F.col("text")
    stats = docs.select(
        "doc_id",
        "source",
        "text",
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang"),
        n_tokens(t).alias("n_tok"),
    )
    gated = stats.filter(F.col("quality") >= quality_min)

    kept_exact = exact_dedup(gated).select("doc_id")
    survivors_exact = gated.join(kept_exact, "doc_id", "left_semi")

    with cache_scope() as hold:
        # project to what the two consumers read before caching — the
        # band join needs (doc_id, source, minhash), the Jaccard verify
        # needs shingles; text/quality/lang/n_tok are dead weight
        sigs = hold(
            minhash_signatures(
                survivors_exact, num_hashes=num_hashes, portable=portable
            ).select("doc_id", "source", "shingles", "minhash")
        )
        pairs = lsh_candidate_pairs(
            sigs,
            num_hashes=num_hashes,
            band_size=band_size,
            blocking_cols=["source"],
        )
        nd = (
            ngram_jaccard(pairs, sigs)
            .filter(F.col("jaccard") >= jaccard_threshold)
            .select("id_a", "id_b")
        )
        lens = survivors_exact.select(
            F.col("doc_id").alias("node"),
            F.length(normalize_ws(t)).alias("len"),
        )
        # the (duplicate-bounded) loser set is materialized so the
        # signature cache can be released before returning
        losers = materialize(keep_best_losers(nd, lens))
    clean = survivors_exact.join(F.broadcast(losers), "doc_id", "left_anti")

    # deterministic split — SAME constants as the attested hash_split query
    from ..queries_ext2 import _SPLIT_TRAIN, _SPLIT_VALID, SPLIT_SEED

    h = md5_long(F.col("doc_id").cast("string"), seed=SPLIT_SEED, n_hex=6)
    splits = clean.withColumn(
        "split",
        F.when(h < _SPLIT_TRAIN, "train")
        .when(h < _SPLIT_VALID, "valid")
        .otherwise("test"),
    )

    w = (
        Window.partitionBy("split", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = splits.withColumn(
        "pack_id",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / capacity).cast("int"),
    )
    packs = packed.groupBy("split", "source", "pack_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_docs"),
        F.sum("n_tok").alias("tokens"),
        F.round(F.sum("n_tok") / F.lit(float(capacity)), 4).alias("utilization"),
    )

    result = CurationResult(stats=stats, clean=clean, splits=splits, packs=packs)
    # ONE dedicated aggregation computes the whole funnel — 1 corpus scan
    # where the r6 funnel ran 4 standalone .count() actions. Each stage is
    # a boolean flag on the doc grain (quality predicate; left joins
    # against the exact-dedup keeper set and the broadcast near-dup loser
    # set), so raw/quality/exact/clean are four conditional sums of one
    # pass. Observations were tried first and rejected: a frame observed
    # then SELF-JOINED (gated ⋈ exact_dedup(gated)) duplicates the
    # CollectMetrics node, and the copy that lands downstream of the
    # persisted signature scan never executes — the JVM completes the
    # observation with an empty, schema-less row and Observation.get
    # throws (PythonSQLUtils.toPyRow assertion).
    pass_q = F.col("quality") >= F.lit(quality_min)
    kept_e = pass_q & F.coalesce(F.col("kept_e"), F.lit(False))
    kept_nd = kept_e & ~F.coalesce(F.col("lost_nd"), F.lit(False))
    funnel_row = (
        stats.select("doc_id", "quality")
        .join(kept_exact.select("doc_id", F.lit(True).alias("kept_e")), "doc_id", "left")
        .join(
            F.broadcast(losers.select("doc_id", F.lit(True).alias("lost_nd"))),
            "doc_id",
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("raw"),
            F.sum(pass_q.cast("long")).alias("quality"),
            F.sum(kept_e.cast("long")).alias("exact"),
            F.sum(kept_nd.cast("long")).alias("clean"),
        )
        .collect()[0]
    )
    result._funnel = [
        ("raw", int(funnel_row["raw"])),
        ("quality", int(funnel_row["quality"])),
        ("exact", int(funnel_row["exact"])),
        ("clean", int(funnel_row["clean"])),
    ]
    return result
