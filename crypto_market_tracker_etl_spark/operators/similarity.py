"""Similarity search over embedding columns (``array<float>``).

Two tiers, mirroring how ANN is actually deployed over huge corpora:

- ``brute_knn``: exact top-k cosine. The query set is broadcast (it is the
  bounded side); candidates stream through a single narrow stage — no
  shuffle of the corpus at all, then a window top-k on the (small) scored
  output keyed by query. Right up to ~10⁴ queries × any corpus size.
- ``rp_lsh_knn``: random-hyperplane LSH. Hyperplanes are deterministic
  (seeded, generated driver-side, embedded as literals so any oracle can
  reproduce them). Corpus is bucketed by sign-pattern; each query probes
  its own bucket plus (multiprobe) every bucket one sign-flip away — the
  IVF-style scale path: bucket count 2^H keeps per-bucket candidate lists
  ~n/2^H, multiprobe buys recall back without more planes.

Scale parameterization (the three knobs that must move with corpus size):
- ``planes_for_corpus`` derives H ≈ log2(n / target_bucket_size): fixed H
  means per-bucket pair space grows O(n²) at 100×; derived H keeps buckets
  near-constant size.
- multiprobe (Hamming-1 bucket expansion) recovers the recall lost to
  higher H — a vector pair split by one hyperplane still meets.
- ``bucket_cap`` bounds any single bucket (deterministic row_number cut):
  the skew guard for degenerate regions of embedding space — a hot bucket
  degrades recall, never a reducer.

All math is Catalyst fold expressions (functions.vector) in double
precision — no UDFs, fully codegen'd, bit-reproducible.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import as_double, cosine_with_norms, norm
from .cache import cache_scope, materialize
from .latest import top_k_per_key


def planes_for_corpus(
    corpus_size: int,
    target_bucket_size: int = 64,
    min_planes: int = 4,
    max_planes: int = 24,
) -> int:
    """Hyperplane count for ~``target_bucket_size`` vectors per bucket:
    H = ceil(log2(n / target)). 2k vecs → 5, 2M → 15, 2B → 24 (capped —
    beyond that, cap buckets and add probes instead of planes)."""
    if corpus_size <= target_bucket_size:
        return min_planes
    h = math.ceil(math.log2(corpus_size / target_bucket_size))
    return max(min_planes, min(max_planes, h))


def hyperplanes(dim: int, num_planes: int, seed: str = "rp") -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5(seed:plane:dim) parity.

    Generated driver-side with hashlib (not Spark) so the exact same
    constants can be embedded into oracle SQL text.
    """
    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            digest = hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()
            row.append(1.0 if int(digest[:2], 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def _lit_vec(v: list[float]) -> Column:
    return F.array(*[F.lit(x) for x in v])


def bucket_key(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern string, one char per hyperplane ('1' if dot ≥ 0)."""
    bits = []
    for row in planes:
        dot = F.aggregate(
            F.zip_with(vec, _lit_vec(row), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _flip_bit(bucket: Column, pos: int) -> Column:
    """Bucket key with the 1-indexed ``pos``-th sign bit flipped."""
    flipped = F.when(F.substring(bucket, pos, 1) == "1", F.lit("0")).otherwise(
        F.lit("1")
    )
    return F.concat(
        F.substring(bucket, 1, pos - 1), flipped, F.substring(bucket, pos + 1, 2**30)
    )


def probe_keys(bucket: Column, num_planes: int) -> Column:
    """Multiprobe set: the exact bucket plus every Hamming-1 neighbor —
    the standard recall-recovery for sign LSH (a near pair separated by
    exactly one hyperplane still collides on a probe)."""
    return F.array(bucket, *[_flip_bit(bucket, p + 1) for p in range(num_planes)])


def _cap_buckets(df: DataFrame, id_col: str, cap: int | None) -> DataFrame:
    """Deterministically bound bucket size (skew guard): keep the ``cap``
    lowest ids per bucket. Hot buckets lose recall, never a reducer."""
    if cap is None:
        return df
    w = Window.partitionBy("bucket").orderBy(id_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def brute_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-matches excluded).

    Output: query_id, neighbor_id, cosine, rank. Cosine is rounded before
    ranking so the (cosine, id) order is reproducible across engines.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
        ).withColumn("qn", norm(F.col("qv")))
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    scored = (
        c.join(q, F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                cosine_with_norms(
                    F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
                ),
                round_scale,
            ),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    return top_k_per_key(scored, ["query_id"], [F.col("cosine"), F.col("neighbor_id")], k)


def rp_lsh_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    num_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 4,
    multiprobe: bool = True,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's LSH bucket(s).

    At scale the corpus-side bucket key is precomputed/persisted (write
    once, probe many); the equi-join on bucket replaces the cross join, so
    work drops from |Q|·|C| to Σ per-bucket |Q_b|·|C_b|. With
    ``multiprobe`` each query also probes every Hamming-1 bucket (H+1 probe
    keys — exploded on the small broadcast side, the corpus is still read
    once); ``bucket_cap`` deterministically bounds hot buckets. Derive
    ``num_planes`` with planes_for_corpus at deployment scale.
    """
    planes = hyperplanes(dim, num_planes)
    c = _cap_buckets(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            as_double(F.col(vec_col)).alias("cv"),
        ).withColumn("bucket", bucket_key(F.col("cv"), planes)),
        "neighbor_id",
        bucket_cap,
    ).withColumn("cn", norm(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
    ).withColumn("bucket", bucket_key(F.col("qv"), planes)).withColumn(
        "qn", norm(F.col("qv"))
    )
    if multiprobe:
        q = q.select(
            "query_id",
            "qv",
            "qn",
            F.explode(probe_keys(F.col("bucket"), num_planes)).alias("bucket"),
        )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                cosine_with_norms(
                    F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
                ),
                round_scale,
            ),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    return top_k_per_key(scored, ["query_id"], [F.col("cosine"), F.col("neighbor_id")], k)


def embedding_near_dup_pairs(
    vectors: DataFrame,
    dim: int,
    num_planes: int = 6,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "v",
    round_scale: int = 4,
    multiprobe: bool = True,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH bucket blocking.

    One side explodes to its probe set (own bucket + Hamming-1 flips when
    ``multiprobe``), the other keeps its single bucket; the equi-join emits
    each qualifying pair exactly once (probe keys are distinct, the probed
    side has one bucket, and ``id_a < id_b`` keeps one orientation — bucket
    Hamming ≤ 1 is symmetric). Cosine ≥ ``threshold`` verified on
    candidates only. Recall < 100% by construction (pairs split by ≥2
    hyperplanes are missed) — the documented LSH trade; raise probes, not
    the pair space.

    The (small) pair result is materialized before returning, so the
    bucket-index cache is released inside the call.
    """
    planes = hyperplanes(dim, num_planes)
    with cache_scope() as hold:
        # consumed by BOTH join sides: persist so bucketing/cap/norm run
        # once (at corpus scale this is the persisted bucket-index table,
        # written once and probed many times)
        base = hold(
            _cap_buckets(
                vectors.select(
                    F.col(id_col).alias("vec_id"),
                    as_double(F.col(vec_col)).alias("v"),
                ).withColumn("bucket", bucket_key(F.col("v"), planes)),
                "vec_id",
                bucket_cap,
            ).withColumn("n", norm(F.col("v")))
        )
        probing = base.select(
            "vec_id",
            "v",
            "n",
            F.explode(
                probe_keys(F.col("bucket"), num_planes)
                if multiprobe
                else F.array(F.col("bucket"))
            ).alias("bucket"),
        )
        a = probing.alias("a")
        b = base.alias("b")
        cos = F.round(
            cosine_with_norms(
                F.col("a.v"), F.col("b.v"), F.col("a.n"), F.col("b.n")
            ),
            round_scale,
        )
        return materialize(
            a.join(b, "bucket")
            .filter(F.col("a.vec_id") < F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("id_a"),
                F.col("b.vec_id").alias("id_b"),
                cos.alias("cosine"),
            )
            .filter(F.col("cosine") >= threshold)
        )
