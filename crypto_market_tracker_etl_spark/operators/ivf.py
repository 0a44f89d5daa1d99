"""IVF (inverted-file) approximate nearest neighbor over embedding columns.

The third similarity tier beside ``brute_knn`` (exact, bounded query sets)
and ``rp_lsh_knn`` (data-independent sign LSH): a **coarse quantizer** of k
centroids partitions the corpus into k inverted lists; each query scores
only its ``nprobe`` nearest lists. Unlike sign LSH the partition adapts to
the data distribution, so recall per candidate scanned is higher on
clustered corpora (the common case for model embeddings).

Scale shape, piece by piece:

- **Assignment is one narrow Arrow scan**: ``corpus_assign_udf`` runs the
  numpy kernel ``np_coarse_nd`` over each batch (k quantized cosines per
  vector, argmin with centroid-id tiebreak). Zero joins, zero shuffles:
  indexing 100 TB of vectors is one narrow scan stage writing
  ``list_id``-partitioned parquet (write once, probe many). The same
  argmin as a Catalyst expression, ``assign_list`` (centroids as array
  literals, ``array_min`` over k ``(distance, cid)`` structs), serves
  training and ``semdedup``.
- **Training is unrolled Lloyd's**: per iteration one scan assigns, then a
  ``posexplode`` → ``groupBy(cid, pos)`` partial-agg computes element-wise
  means (map-side combine does nearly all the work; the shuffle carries
  k·dim groups, not rows). The k·dim mean rows are collected to the driver
  to become next iteration's literals — the same bounded-collect anchor
  pattern as the max-ts anchors in queries.py (k·dim ≪ 10⁵ values for any
  sane k), never a corpus collect.
- **Probing** explodes each query to its ``nprobe`` list ids (the same
  numpy kernel, ``query_probe_udf``: stable argsort, nearest first), then
  one broadcast equi-join on ``list_id`` against the indexed corpus — work
  is Σ per-list |Q_l|·|C_l|, the IVF contract.

Determinism: centroid seeds are the k corpus vectors with the smallest
``md5(id)`` (engine-portable hash order), distances are rounded before
argmin with centroid-id tiebreak, so seeded (untrained) IVF is
bit-reproducible in ANSI SQL — the ``knn_ivf`` oracle query exercises the
full index/probe/score path against DuckDB. Trained centroids involve
parallel double summation (order nondeterministic by design) and are
therefore verified by pytest invariants (objective descent, recall vs
brute force), not a bit-exact oracle.

Reference parity note: the reference repo has no vector search at all —
this module is part of the LLM-data-pipeline extension surface
(SURVEY.md §2.11 similarity search: "IVF or LSH-bucketed variant as the
scale path").
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import as_double, cosine_with_norms, norm
from .latest import top_k_per_key


def _lit_vec(v: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in v])


def seed_centroids(
    corpus: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[list[float]]:
    """The k corpus vectors with the smallest ``md5(cast(id as string))`` —
    a deterministic, engine-portable pseudo-random sample (md5 hex compares
    identically everywhere). Bounded driver collect: k rows."""
    rows = (
        corpus.select(
            F.col(id_col).alias("__id"), as_double(F.col(vec_col)).alias("__v")
        )
        .withColumn("__h", F.md5(F.col("__id").cast("string")))
        .orderBy("__h", "__id")
        .limit(k)
        .collect()
    )
    return [list(r["__v"]) for r in rows]


def _neg_cos_entries(vec: Column, centroids: list[list[float]], round_scale: int) -> Column:
    """Array of ``(nd, cid)`` structs, nd = rounded negative cosine to each
    centroid. ``array_min`` of this is the nearest centroid; rounding + cid
    tiebreak make the argmin order-deterministic across engines.

    Centroid norms are computed HERE in Python (they are plain constants)
    rather than as fold expressions — Catalyst does not constant-fold
    higher-order-function folds over literal arrays, so an expression-side
    ``norm(centroid)`` would re-run k extra 64-element folds per ROW. The
    float hypot sum matches the fold bit-for-bit (same left-to-right
    ``x*x`` accumulation in double).
    """
    vn = norm(vec)
    entries = []
    for cid, c in enumerate(centroids):
        cl = _lit_vec(c)
        cn = 0.0
        for x in c:
            cn += float(x) * float(x)
        nd = F.round(
            -cosine_with_norms(vec, cl, vn, F.lit(math.sqrt(cn))), round_scale
        )
        entries.append(F.struct(nd.alias("nd"), F.lit(cid).alias("cid")))
    return F.array(*entries)


def assign_list(
    vec: Column, centroids: list[list[float]], round_scale: int = 4
) -> Column:
    """Nearest-centroid id as a pure expression (no join, no shuffle)."""
    return F.array_min(_neg_cos_entries(vec, centroids, round_scale))["cid"]


# -- numpy kernels -------------------------------------------------------------
#
# ivf_index and ivf_knn assign and probe through Arrow UDFs over the kernels
# below. At k ≤ EXACT_COARSE_MAX_K they equal the ``assign_list`` expression
# bit for bit: sequential small-axis reductions match the fold order,
# float32→float64 widening is exact, and sign-aware floor(|x|·10^s+0.5)
# matches HALF_UP rounding (test_np_kernels_match_sequential_fold on random
# data, the knn_ivf oracle row end to end). They cost a fixed Arrow-stage
# overhead and then scale far better than the interpreted higher-order
# functions: 200k 64-dim vectors, k=8, indexed in 0.9 s vs 3.0 s on 4 cores
# (SCALE.md §IVF-PQ).


# coarse quantizers up to this size use the bit-exact (fold-order-matched)
# kernel; above it the BLAS path wins and exactness is not contractual
EXACT_COARSE_MAX_K = 32


def np_matrix(emb: pd.Series) -> np.ndarray:
    if len(emb) == 0:
        return np.empty((0, 0), dtype=np.float64)
    # np.stack over the object array (C loop) beats a per-row Python list
    # comprehension ~5×; float32→float64 widening is exact either way
    return np.stack(emb.to_numpy()).astype(np.float64, copy=False)


def np_sq_norm_seq(V: np.ndarray) -> np.ndarray:
    """Per-row Σx² accumulated DIM BY DIM left-to-right — matches the
    ``norm`` Catalyst fold bit-for-bit. ``(V*V).sum(-1)`` must NOT be used
    for anything compared across engines: numpy reduces even short axes
    with an unrolled multi-accumulator tree whose last-ulp results differ
    from a sequential fold (empirically on 40-80% of random rows)."""
    acc = np.zeros(V.shape[0])
    for t in range(V.shape[1]):
        acc += V[:, t] * V[:, t]
    return acc


def np_coarse_nd(
    V: np.ndarray, centroids: list[list[float]], round_scale: int = 4
) -> np.ndarray:
    """(n × k) quantized negative cosines — numpy twin of
    ``_neg_cos_entries`` (same dot/norm accumulation order, same
    centroid-norm constants, HALF_UP-matched rounding)."""
    C = np.asarray(centroids, dtype=np.float64)
    vn = np.sqrt(np_sq_norm_seq(V))
    # centroid norms: plain-Python sequential Σx² — the EXACT constant
    # _neg_cos_entries embeds (it computes cn the same way)
    cn = np.array(
        [math.sqrt(sum_sq) for sum_sq in (_py_sq_norm(c) for c in C)]
    )
    if C.shape[0] <= EXACT_COARSE_MAX_K:
        # bit-exact regime (covers every oracle configuration, k=8): an
        # explicit per-centroid × per-dim accumulation — never a
        # broadcasted n×k×dim temp (1.4 GB per 10k-row batch at k=279,
        # measured 40× allocation-thrash slowdown) and never ndarray.sum
        # (multi-accumulator tree ≠ the Catalyst fold, see np_sq_norm_seq)
        cos = np.empty((V.shape[0], C.shape[0]))
        for j in range(C.shape[0]):
            num = np.zeros(V.shape[0])
            for t in range(C.shape[1]):
                num += V[:, t] * C[j, t]
            cos[:, j] = num / (vn * cn[j])
    else:
        # large-k production regime: BLAS matmul (~30× faster per batch:
        # 0.92 s → 0.03 s at k=279 on a 10k batch). Summation order is
        # then platform-defined, so a borderline vector may flip between
        # two near-equidistant lists — harmless for ANN semantics, and
        # every bit-exactness claim (oracle, equivalence pytests) lives
        # in the k ≤ EXACT_COARSE_MAX_K branch above
        cos = (V @ C.T) / (vn[:, None] * cn[None, :])
    nd = -cos
    scale = 10.0**round_scale
    return np.sign(nd) * np.floor(np.abs(nd) * scale + 0.5) / scale


def _py_sq_norm(c: np.ndarray) -> float:
    acc = 0.0
    for x in c:
        acc += float(x) * float(x)
    return acc


def corpus_assign_udf(centroids: list[list[float]], round_scale: int = 4):
    """One Arrow pass per corpus row: (list_id, cn) — the vectorized body
    of ``ivf_index``."""

    @F.pandas_udf("struct<list_id: int, cn: double>")
    def _f(emb: pd.Series) -> pd.DataFrame:
        V = np_matrix(emb)
        if V.shape[0] == 0:
            return pd.DataFrame(
                {
                    "list_id": pd.Series([], dtype="int32"),
                    "cn": pd.Series([], dtype="float64"),
                }
            )
        nd = np_coarse_nd(V, centroids, round_scale)
        return pd.DataFrame(
            {
                "list_id": nd.argmin(1).astype(np.int32),
                "cn": np.sqrt(np_sq_norm_seq(V)),
            }
        )

    return _f


def query_probe_udf(
    centroids: list[list[float]], nprobe: int, round_scale: int = 4
):
    """One Arrow pass per query row: (qn, probes) — nearest lists first
    (stable argsort ≡ the (nd, cid) struct sort)."""

    @F.pandas_udf("struct<qn: double, probes: array<int>>")
    def _f(emb: pd.Series) -> pd.DataFrame:
        V = np_matrix(emb)
        if V.shape[0] == 0:
            return pd.DataFrame(
                {
                    "qn": pd.Series([], dtype="float64"),
                    "probes": pd.Series([], dtype=object),
                }
            )
        nd = np_coarse_nd(V, centroids, round_scale)
        probes = np.argsort(nd, axis=1, kind="stable")[:, :nprobe].astype(np.int32)
        return pd.DataFrame({"qn": np.sqrt(np_sq_norm_seq(V)), "probes": list(probes)})

    return _f


def train_centroids(
    corpus: DataFrame,
    k: int,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Unrolled Lloyd's iterations entirely in DataFrame ops.

    Each iteration: expression-assign every vector to its nearest current
    centroid, then element-wise means via ``posexplode`` + two-phase
    ``groupBy(cid, pos)`` aggregation (k·dim shuffle groups). Empty
    clusters keep their previous centroid. Only the k·dim means are ever
    collected.
    """
    cents = seed_centroids(corpus, k, id_col=id_col, vec_col=vec_col)
    base = corpus.select(as_double(F.col(vec_col)).alias("v"))
    for _ in range(iters):
        # two projections, not one: a lambda-bearing struct (aggregate/
        # zip_with inside assign_list) selected beside a generator loses
        # its field names in analysis (FIELD_NOT_FOUND col1/col2)
        assigned = base.withColumn("cid", assign_list(F.col("v"), cents)).select(
            "cid", F.posexplode("v").alias("pos", "x")
        )
        means = (
            assigned.groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        nxt = [list(c) for c in cents]  # empty cluster -> keep old centroid
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(r["cid"], {})[r["pos"]] = r["m"]
        for cid, posmap in by_cid.items():
            for pos, m in posmap.items():
                nxt[cid][pos] = m
        cents = nxt
    return cents


def kmeans_objective(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> float:
    """Mean over the corpus of (1 - cosine-to-assigned-centroid) — the
    quantity Lloyd's descends. One scan, one scalar."""
    v = as_double(F.col(vec_col))
    best = F.array_min(_neg_cos_entries(v, centroids, round_scale=10))["nd"]
    return corpus.select(F.avg(F.lit(1.0) + best).alias("obj")).collect()[0]["obj"]


def ivf_index(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 4,
) -> DataFrame:
    """Corpus with its inverted-list assignment: (id, v, n, list_id).

    At deployment scale this frame is written once as parquet partitioned
    by ``list_id`` (the inverted file); probing then scans only the probed
    partitions — partition pruning IS the index lookup.
    """
    base = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    return base.withColumn(
        "__a", corpus_assign_udf(centroids, round_scale)(F.col("cv"))
    ).select(
        "neighbor_id",
        "cv",
        F.col("__a.list_id").alias("list_id"),
        F.col("__a.cn").alias("cn"),
    )


def ivf_knn(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scale: int = 4,
) -> DataFrame:
    """Approximate top-k cosine via IVF: score only the ``nprobe`` nearest
    inverted lists per query.

    Output: query_id, neighbor_id, cosine, rank — same shape as
    ``brute_knn`` / ``rp_lsh_knn`` so the three tiers are drop-in
    interchangeable.
    """
    c = ivf_index(corpus, centroids, id_col=id_col, vec_col=vec_col,
                  round_scale=round_scale)
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    ).withColumn(
        "__q", query_probe_udf(centroids, nprobe, round_scale)(F.col("qv"))
    ).select(
        "query_id",
        "qv",
        F.col("__q.qn").alias("qn"),
        F.explode(F.col("__q.probes")).alias("list_id"),
    )
    scored = (
        c.join(F.broadcast(q), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                cosine_with_norms(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")),
                round_scale,
            ),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    return top_k_per_key(scored, ["query_id"], [F.col("cosine"), F.col("neighbor_id")], k)
