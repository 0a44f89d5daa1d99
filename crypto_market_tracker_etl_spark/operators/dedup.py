"""Deduplication operators for document-scale corpora.

The reference's only dedup is keyed upsert (operators.upsert). A 100 TB
training-data pipeline needs content dedup; this module provides the ladder:

- ``exact_dedup``           hash-groupBy on a normalized content fingerprint
- ``minhash_signatures``    word-shingle MinHash (k permutations)
- ``lsh_candidate_pairs``   banding → bucket join → candidate pairs
- ``ngram_jaccard``         exact Jaccard on shingle sets, for verification
- ``simhash``               64→B-bit SimHash via explode + bit-vote groupBy
- ``simhash_near_dups``     Hamming pairs via bit-band LSH + verify

Scale notes: every operator is expression-only per row plus at most ONE
shuffle (groupBy doc key or LSH bucket). The pair-emitting operators require
a blocking key (LSH band or caller-provided) precisely so the candidate set
stays near-linear instead of O(n²) — same reason the reference's Postgres
upsert uses a unique index rather than a table scan.

MinHash permutations are seeded md5 hashes (portable to the DuckDB oracle —
see functions.hashing); pass ``portable=False`` to use xxhash64 instead
(~10× cheaper, Spark-only) on real clusters.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import fast_long, md5_long
from ..functions.textstats import normalize_ws
from .cache import materialize


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the lowest-id row per exact (whitespace/case-normalized) content.

    One shuffle on the md5 fingerprint; map-side partial min keeps the
    shuffle payload at one row per distinct content per partition.
    """
    fp = F.md5(normalize_ws(F.col(text_col)))
    return (
        df.withColumn("fingerprint", fp)
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of normalized text; whole text when shorter
    than n words (so short docs still get a signature)."""

    def shingle(toks: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
        parts = lambda i: [F.element_at(toks, i + j) for j in range(n)]  # noqa: E731
        shingled = F.transform(idx, lambda i: F.concat_ws(" ", *parts(i)))
        return F.array_distinct(
            F.when(F.size(toks) >= n, shingled).otherwise(
                F.array(F.concat_ws(" ", toks))
            )
        )

    # bind the tokens as a lambda variable: an inline `split(normalize)` inside
    # the shingle lambda re-evaluates per element (no CSE across lambdas).
    toks = F.split(normalize_ws(text), " ")
    return F.element_at(F.transform(F.array(toks), shingle), 1)


# Universal-hash permutation constants: perm_i(h) = (A_i·h + B_i) mod P.
# P is the Mersenne prime 2^31−1; A/B are fixed odd constants < 2^20 so
# A·(h mod P) stays far below 2^63 (no overflow in either engine).
MINHASH_P = (1 << 31) - 1


def minhash_perm_constants(num_hashes: int) -> list[tuple[int, int]]:
    return [(2 * i * i + 3 * i + 1, 7 * i + 13) for i in range(1, num_hashes + 1)]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 12,
    shingle_words: int = 3,
    portable: bool = True,
) -> DataFrame:
    """Adds ``shingles`` and ``minhash`` (array of per-permutation minima).

    Each shingle is hashed ONCE (portable md5-fold, or xxhash64 on the
    Spark-only fast path); the k permutations are then arithmetic
    ``(A_i·h + B_i) mod P`` — the classic universal-hash MinHash. At corpus
    scale this is the difference between 1 and k digest computations per
    shingle, and it reproduces exactly in any SQL engine (see the oracle
    generator in queries_ext).
    """
    shingles = word_shingles(F.col(text_col), shingle_words)
    out = df.withColumn("shingles", shingles)

    # NB: higher-order lambdas must take exactly ONE parameter — F.transform
    # inspects arity and would pass the array index as a second argument.
    if portable:
        base = F.transform(F.col("shingles"), lambda s: md5_long(s) % MINHASH_P)
    else:
        base = F.transform(
            F.col("shingles"),
            lambda s: F.pmod(F.xxhash64(s), F.lit(MINHASH_P)),
        )
    out = out.withColumn("__h", base)

    # All k permutation minima in ONE pass over __h (r13, guide §1.2
    # per-task work): the previous form ran k× transform+array_min,
    # materializing k intermediate arrays per row. The aggregate carries a
    # k-slot running-minimum state instead. Values are identical: the same
    # (A_i·h + B_i) mod P arithmetic, and since every permuted value is
    # strictly < P, the P sentinel can only survive when the row has no
    # non-null hash — exactly the case where array_min returned NULL, which
    # the finish lambda reproduces.
    consts = minhash_perm_constants(num_hashes)
    p = F.lit(MINHASH_P)
    init = F.array(*[p.cast("long") for _ in consts])
    mins = F.aggregate(
        F.col("__h"),
        init,
        lambda acc, h: F.array(*[
            F.least(
                F.element_at(acc, i + 1), (h * F.lit(a) + F.lit(b)) % p
            )
            for i, (a, b) in enumerate(consts)
        ]),
        lambda acc: F.transform(acc, lambda m: F.when(m < p, m)),
    )
    return out.withColumn("minhash", mins).drop("__h")


def lsh_band_keys(num_hashes: int, band_size: int) -> list[Column]:
    """Band the ``minhash`` array: key b = md5 of the concatenated rows of
    band b. Docs sharing ANY band key are candidate near-duplicates."""
    keys = []
    for b in range(0, num_hashes, band_size):
        parts = [
            F.element_at("minhash", i + 1).cast("string")
            for i in range(b, b + band_size)
        ]
        keys.append(F.md5(F.concat_ws("|", F.lit(f"band{b}"), *parts)))
    return keys


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 12,
    band_size: int = 4,
    blocking_cols: Sequence[str] = (),
) -> DataFrame:
    """Candidate pairs (id_a < id_b) sharing ≥1 LSH band bucket.

    ``blocking_cols`` further partition buckets (e.g. by source) — the
    standard guard against a hot bucket degenerating to O(n²) pairs.
    """
    bands = F.array(*lsh_band_keys(num_hashes, band_size))
    exploded = sigs.select(
        F.col(id_col), *[F.col(c) for c in blocking_cols], F.explode(bands).alias("band_key")
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    join_cond = [F.col("a.band_key") == F.col("b.band_key")] + [
        F.col(f"a.{c}") == F.col(f"b.{c}") for c in blocking_cols
    ]
    pairs = (
        a.join(b, join_cond)
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    return pairs


def ngram_jaccard(
    pairs: DataFrame,
    sigs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs (verification
    stage of the MinHash pipeline). Broadcast-friendly when pairs ≪ corpus."""
    s = sigs.select(F.col(id_col), F.col("shingles"))
    out = (
        pairs.join(s.withColumnRenamed(id_col, "id_a").withColumnRenamed("shingles", "sh_a"), "id_a")
        .join(s.withColumnRenamed(id_col, "id_b").withColumnRenamed("shingles", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return out.select(
        "id_a",
        "id_b",
        F.round(inter / union, 4).alias("jaccard"),
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    portable: bool = True,
) -> DataFrame:
    """Per-doc SimHash: tokens vote ±1 per bit of their integer hash; the
    sign of each bit's tally becomes that bit of the fingerprint.

    Explode + groupBy(id): one shuffle, 32 partial-aggregated sums. Token
    hash is the portable md5-fold (oracle-reproducible) or xxhash64.
    """
    toks = F.explode(F.split(normalize_ws(F.col(text_col)), " ")).alias("tok")
    tok_df = df.select(F.col(id_col), toks)
    h = md5_long(F.col("tok"), seed="simhash:") if portable else fast_long(F.col("tok"), "simhash:")
    tok_df = tok_df.withColumn("h", h)
    votes = [
        F.sum(
            (F.shiftright("h", i).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    tallied = tok_df.groupBy(id_col).agg(*votes)
    sh = sum(
        (F.when(F.col(f"b{i}") > 0, F.lit(2**i)).otherwise(F.lit(0)) for i in range(bits)),
        F.lit(0),
    ).cast("long")
    return tallied.select(F.col(id_col), sh.alias("simhash"))


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 10,
) -> DataFrame:
    """Duplicate CLUSTERS from a near-dup pair graph: each node labeled with
    the minimum id reachable from it — the step that turns pairwise matches
    into keep-one-per-cluster decisions.

    Min-label propagation: every node starts as its own label; each round
    joins labels across edges and keeps the per-node minimum, converging in
    ≤ graph-diameter rounds (near-dup components are shallow — duplicates
    of one document link to each other, so diameter is small; ``max_iter``
    bounds pathological chains). Each round is one equi-join + one partial
    aggregated groupBy. Labels are ``localCheckpoint``-ed every round:
    persist alone caches DATA but each round's logical plan would still
    nest the previous round's twice over — exponential plan growth that
    OOMs the driver before round 10 (measured) — while checkpointing
    truncates the lineage to the materialized blocks. (On a real cluster
    prefer reliable ``checkpoint()``: localCheckpoint ties recovery to
    executor liveness.) The fixpoint check is a 1-row count — the only
    driver-side step, inherent to iterative convergence (the same loop
    GraphX/GraphFrames run internally).

    Output: (node, component) for every node appearing in ``pairs``.
    """
    edges = materialize(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
    )
    labels = materialize(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = materialize(
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", F.col("component"))
                ).alias("component"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def keep_cluster_representatives(
    df: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Final dedup step: drop every row whose id appears in ``components``
    (from connected_components) with a DIFFERENT representative — i.e. keep
    cluster minima and all unclustered rows. One broadcast-able anti-join
    against the (small) set of non-representative ids; the corpus itself
    never shuffles."""
    losers = components.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def simhash_band_values(sh: Column, bits: int = 32, num_bands: int = 4) -> Column:
    """Split a ``bits``-wide SimHash into ``num_bands`` contiguous bit bands
    and return the array of band values — the LSH keys for pair search."""
    width = bits // num_bands
    mask = (1 << width) - 1
    return F.array(
        *[
            F.shiftright(sh, b * width).bitwiseAND(F.lit(mask)).cast("long")
            for b in range(num_bands)
        ]
    )


def simhash_near_dups(
    hashed: DataFrame,
    blocking: DataFrame,
    id_col: str = "doc_id",
    blocking_col: str = "source",
    max_hamming: int = 16,
    bits: int = 32,
    num_bands: int = 4,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Pairs with Hamming(simhash) ≤ threshold, found via LSH banding.

    The fingerprint is split into ``num_bands`` bit-bands; candidate pairs
    are those colliding on ≥1 (band_id, band_value) bucket — an equi-join,
    never an all-pairs self-join — and Hamming is verified on candidates
    only. Same shape as the MinHash pipeline (lsh_candidate_pairs):
    per-bucket work instead of O(n²) per blocking partition.

    Recall: pigeonhole-guaranteed when Hamming < num_bands (some band must
    be untouched); probabilistic above that — near-identical fingerprints
    (the actual near-dups) still collide with high probability. Raise
    ``num_bands`` for a tighter guarantee at the cost of more candidates.

    ``bucket_cap`` (deterministic per-(band, value, block) row_number cut)
    is the hot-bucket guard: a corpus dominated by EXACT duplicates puts
    every copy in the same buckets and the banded join re-derives the
    quadratic pair set ×bands (measured OOM at 40k such docs — SCALE.md).
    The proper fix is exact_dedup BEFORE any near-dup pass; the cap is the
    seatbelt for data that slips through, trading recall inside degenerate
    buckets for bounded work.
    """
    from pyspark.sql import Window

    withblk = hashed.join(blocking.select(id_col, blocking_col), id_col)
    exploded = withblk.select(
        F.col(id_col),
        F.col(blocking_col),
        F.col("simhash"),
        F.posexplode(simhash_band_values(F.col("simhash"), bits, num_bands)).alias(
            "band_id", "band_val"
        ),
    )
    if bucket_cap is not None:
        w = Window.partitionBy("band_id", "band_val", blocking_col).orderBy(id_col)
        exploded = (
            exploded.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= bucket_cap)
            .drop("__rn")
        )
    a = exploded.alias("a")
    b = exploded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            [
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_val") == F.col("b.band_val"),
                F.col(f"a.{blocking_col}") == F.col(f"b.{blocking_col}"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def set_similarity_join(
    tokens: DataFrame,
    tau: float,
    sets: DataFrame | None = None,
) -> DataFrame:
    """EXACT all-pairs set-similarity join, Jaccard ≥ ``tau``, via
    PPJoin-style PREFIX FILTERING (Xiao, Wang, Lin & Yu) — the exact
    counterpart to MinHash-LSH: LSH trades false negatives for speed,
    prefix filtering guarantees NONE while still never enumerating all
    pairs.

    ``tokens``: (doc_id, w) membership rows. A repeated row is the same
    set element, never a second one: the arrays are grouped with
    ``collect_set`` (a caller's ``sets`` pass through ``array_distinct``)
    and prefix positions are dense ranks, so duplicates change neither the
    sizes, the prefixes nor J. Three PPJoin filters, all
    zero-false-negative by construction:

    1. PREFIX filter — order each doc's tokens by global rarity
       ((corpus freq, token); the order only has to be CONSISTENT, so no
       global rank is materialized: the per-doc ordering is a window
       riding the doc grain). Any pair with J ≥ tau MUST share a token
       inside both docs' first |s| − ceil(tau·|s|) + 1 tokens, so
       candidates come from a self-join of the PREFIX rows only — rare
       tokens have tiny postings, and the frequent tokens that would
       explode the join are exactly the ones the prefix order pushes out.
    2. LENGTH filter — J ≥ tau ⇒ o/(sza+szb−o) ≥ tau with o ≤ min(sz),
       so min(sza,szb) ≥ tau·max(sza,szb); a pair of incompatible sizes
       is dropped BEFORE the distinct/verify shuffle. Sizes ride the
       prefix rows (one column), so this is a predicate, not a new join.
    3. POSITIONAL filter — at the pair's globally-first common token
       (positions pa, pb in the rarity order) the overlap is bounded by
       1 + min(sza−pa, szb−pb); require that bound ≥ o_min =
       ceil(tau/(1+tau)·(sza+szb)), the minimal overlap J ≥ tau implies.
       Applied per matched prefix row BEFORE distinct: a true pair always
       survives via its first common token's row (no common token can
       precede it — the global order makes 'first in both prefixes' and
       'first overall' coincide), while candidate rows matching only on
       late prefix positions are dropped.

    Verification computes the exact overlap: J = o / (|a| + |b| − o),
    emitted rounded to 4.

    Scale: candidate generation is a token-keyed equi-join over prefix
    rows (postings-list sized, not corpus²) with the length+positional
    predicates cutting the candidate set before it is shuffled for
    dedup/verify; verification joins only the candidate pairs back to the
    membership table. 100 TB shape: partition by token for the candidate
    step, by pair for the verify step — both plain shuffles the engine
    plans. The membership table feeds FOUR consumers (sizes, frequencies
    → the ordered prefix, both verify sides); the join caches nothing
    itself, so a caller whose ``tokens`` is expensive to recompute holds
    it in a ``cache_scope`` (operators/cache.py) and materializes the
    result inside that scope. At warehouse scale, materialize ``tokens``
    as a table instead.

    ``sets`` (r13, guide §2.3): optionally the per-doc element ARRAYS
    (doc_id, ws) the caller already has (e.g. the un-exploded
    word_shingles column) — sizes then cost ``size(ws)`` instead of a
    count shuffle, and verification reads one array row per pair side.
    When absent, the arrays are grouped back from ``tokens`` (one
    shuffle, replacing the former sizes count shuffle). VERIFY SHAPE
    (r13): the old verify expanded every candidate pair by ALL of
    doc_a's tokens before the doc_b equi-join could cut it — measured
    33.5M intermediate rows for 481k candidates / 6k true pairs at
    sf0.1 — then paid a pair-grain aggregate; the exact overlap is now
    ``size(array_intersect(ws_a, ws_b))`` over two array lookups per
    pair (same J by construction: the grouped arrays are sets). At 100 TB
    the verify joins shuffle one array row per doc side instead of |doc|
    token rows."""
    if sets is None:
        sets = tokens.groupBy("doc_id").agg(F.collect_set("w").alias("ws"))
    else:
        sets = sets.select("doc_id", F.array_distinct("ws").alias("ws"))
    sizes = sets.select("doc_id", F.size("ws").alias("sz"))
    freq = tokens.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    ordered = tokens.join(freq, "w")
    # dense_rank: a duplicated (doc_id, w) row takes its element's position
    # instead of pushing the doc's later elements out of the prefix.
    rn = F.dense_rank().over(
        Window.partitionBy("doc_id").orderBy("freq", "w")
    )
    # ceil() over double(tau)·sz OVERSHOOTS when tau·sz is an exact integer
    # whose double product rounds high (e.g. tau=0.07, sz=100 → 8 not 7),
    # shortening the prefix and creating REAL false negatives. The epsilon
    # errs only toward a longer prefix — more candidates, never fewer —
    # preserving the zero-false-negative guarantee for any tau. The same
    # epsilon direction applies to the length and positional bounds below:
    # each is relaxed by 1e-9 so double rounding can only ADMIT an extra
    # candidate, never drop a qualifying pair.
    ceil_tau_sz = F.ceil(F.lit(tau) * F.col("sz") - F.lit(1e-9))
    prefix = (
        ordered.withColumn("rn", rn)
        .join(sizes, "doc_id")
        .where(F.col("rn") <= F.col("sz") - ceil_tau_sz + 1)
        .select("doc_id", "w", "rn", "sz")
    )
    sza, szb = F.col("p1.sz"), F.col("p2.sz")
    length_ok = F.least(sza, szb) >= F.lit(tau) * F.greatest(sza, szb) - F.lit(
        1e-9
    )
    o_min = F.ceil(F.lit(tau / (1.0 + tau)) * (sza + szb) - F.lit(1e-9))
    pos_ok = (
        F.lit(1) + F.least(sza - F.col("p1.rn"), szb - F.col("p2.rn")) >= o_min
    )
    cand = (
        prefix.alias("p1")
        .join(prefix.alias("p2"), "w")
        .where(F.col("p1.doc_id") < F.col("p2.doc_id"))
        .where(length_ok & pos_ok)
        .select(
            F.col("p1.doc_id").alias("doc_a"),
            F.col("p2.doc_id").alias("doc_b"),
            sza.alias("sza"),
            szb.alias("szb"),
        )
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("ws").alias("wsa"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("ws").alias("wsb"))
    overlap = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("o", F.size(F.array_intersect("wsa", "wsb")))
    )
    return (
        overlap.where(
            F.col("o") / (F.col("sza") + F.col("szb") - F.col("o")) >= F.lit(tau)
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("o") / (F.col("sza") + F.col("szb") - F.col("o")), 4
            ).alias("jaccard"),
        )
    )
