"""Product quantization (PQ) for embedding columns — the compression tier
of the similarity-search family (beside exact ``brute_knn``, sign-LSH
``rp_lsh_knn``, and coarse-quantized ``ivf_knn``).

PQ splits each D-dim vector into ``m`` subvectors and replaces every
subvector with the id of its nearest entry in a per-subspace codebook of
``ks`` entries (Jégou et al., "Product Quantization for Nearest Neighbor
Search", TPAMI 2011). A 64-dim float32 vector (256 B) becomes ``m`` = 8
one-byte codes — 32× smaller — and approximate distances are computed
against the CODES via per-query lookup tables (ADC: asymmetric distance
computation), never against the raw vectors.

Scale shape (the 100 TB story):

- **Encoding is one narrow scan, no joins, no shuffles**: an Arrow-batched
  numpy kernel (``_np_encode``) over each batch of vectors.
- **ADC is table lookup, not arithmetic**: each query precomputes an
  ``m × ks`` table of subspace distances (a few KB). The fused
  ``_adc_scan`` scores ALL queries inside the same Arrow pass and emits
  only per-partition top-R partials — the |corpus|×|Q| pair relation never
  materializes — and the scan reads only the codes column (m bytes per
  vector), so a 100 TB raw corpus probes as a ~3 TB codes scan.
- **Top-k** is the windowed per-key rank (WindowGroupLimit pushes the
  per-partition heap map-side); output is k·|Q| rows.
- At production scale PQ composes with IVF (IVF-PQ): the coarse quantizer
  (operators/ivf.py) bounds WHICH codes each query scans, PQ bounds the
  cost PER code. This module keeps the tiers orthogonal.

Determinism contract (what makes the DuckDB oracle possible): codebooks
are seeded from the ``ks`` corpus vectors with the smallest ``md5(id)``
(``operators/ivf.py::seed_centroids`` — engine-portable order), and every
subspace distance is integer-quantized — ``round(10⁴·‖a−b‖²)`` as BIGINT —
before any argmin/sum/rank, so encoding, ADC sums, and the final ranking
are exact integer arithmetic, bit-reproducible in ANSI SQL. The fold that
feeds the rounding is sequential (the dim-by-dim numpy loop, the
re-rank's ``F.aggregate`` and DuckDB's ``list_reduce``), same add order in
both engines.

Reference parity note: the reference repo has no vector search; this module
is part of the LLM-data-pipeline extension surface (SURVEY.md §2.11
similarity search — compression/ANN scale path).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import as_double
from .ivf import np_coarse_nd as _np_coarse_nd
from .ivf import np_matrix as _np_matrix
from .ivf import seed_centroids

# Integer quantization scale for squared subspace distances. 10⁴ keeps
# ranking resolution at 1e-4 (inputs are O(1) doubles) while 8 subspace
# terms of ≤ ~10⁶ sum far inside BIGINT range.
DIST_SCALE = 10_000

Codebooks = list[list[list[float]]]  # [subspace][sid] -> centroid slice


def codebooks_from_seeds(seeds: list[list[float]], m: int) -> Codebooks:
    """Slice ``seeds`` (already-collected md5-ordered rows) into m
    per-subspace codebooks — the driver-side tail of ``seed_codebooks``,
    split out so callers that need BOTH centroids and codebooks pay ONE
    seed collect and slice it (the coarse centroids are the same
    md5-ordered prefix)."""
    dim = len(seeds[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    dsub = dim // m
    return [[s[j * dsub : (j + 1) * dsub] for s in seeds] for j in range(m)]


def seed_codebooks(
    corpus: DataFrame,
    ks: int = 16,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Codebooks:
    """Per-subspace codebooks from the ``ks`` md5-smallest corpus vectors:
    codebook ``s`` holds their ``s``-th length-``D/m`` slices. Bounded
    driver collect (ks rows), same anchor pattern as IVF seeding."""
    seeds = seed_centroids(corpus, ks, id_col=id_col, vec_col=vec_col)
    return codebooks_from_seeds(seeds, m)


def _sq_dist_int_cols(a: Column, b: Column) -> Column:
    """``round(DIST_SCALE · ‖a − b‖²)`` as BIGINT — the sequential (x−y)²
    fold, then one rounding to integer. Everything downstream is exact
    integer arithmetic."""
    sq = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.round(sq * DIST_SCALE, 0).cast("long")


def _np_sub_dists_int(V: np.ndarray, sub: int, codebook: list[list[float]]) -> np.ndarray:
    """(n × ks) integer-quantized squared subspace distances in numpy, equal
    to the oracle SQL's ``round(10⁴ · list_reduce((x−y)²))`` by
    construction: float32→float64 widening is exact, (x−y)² is elementwise,
    the reduction accumulates DIM BY DIM in an explicit left-to-right loop —
    ``ndarray.sum`` must NOT be used here: numpy reduces even short axes
    with an unrolled multi-accumulator tree, which differs from the
    DuckDB sequential fold in the last ulp often enough to flip an integer
    quantization on boundary values — and floor(x·SCALE + 0.5) equals
    HALF_UP rounding for these positive magnitudes. Pinned by the
    knn_pq / knn_ivfpq / knn_ivfadc oracle rows on real data and by
    test_np_kernels_match_sequential_fold on random data."""
    CB = np.asarray(codebook, dtype=np.float64)
    dsub = CB.shape[1]
    sl = V[:, sub * dsub : (sub + 1) * dsub]
    d = np.zeros((V.shape[0], CB.shape[0]))
    for t in range(dsub):
        diff = sl[:, t, None] - CB[None, :, t]
        d += diff * diff
    return np.floor(d * DIST_SCALE + 0.5).astype(np.int64)


def _np_encode(V: np.ndarray, codebooks: Codebooks) -> np.ndarray:
    """(n × m) int32 PQ codes: per subspace the argmin quantized distance,
    smallest sid on ties (``argmin`` returns the first minimum)."""
    codes = np.empty((V.shape[0], len(codebooks)), dtype=np.int32)
    for s, cb in enumerate(codebooks):
        codes[:, s] = _np_sub_dists_int(V, s, cb).argmin(1)
    return codes


def _codes_udf(codebooks: Codebooks):
    @F.pandas_udf("array<int>")
    def _f(emb: pd.Series) -> pd.Series:
        V = _np_matrix(emb)
        if V.shape[0] == 0:
            return pd.Series([], dtype=object)
        return pd.Series(list(_np_encode(V, codebooks)))

    return _f


def _coded_corpus_udf(
    codebooks: Codebooks,
    centroids: list[list[float]],
    residual: bool = False,
):
    """One Arrow pass over the corpus: PQ codes + coarse list assignment
    (one scan, one Python round-trip). ``residual=True`` encodes
    ``v − centroid(list)`` (IVFADC; pass residual codebooks)."""
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("struct<codes: array<int>, list_id: int>")
    def _f(emb: pd.Series) -> pd.DataFrame:
        V = _np_matrix(emb)
        if V.shape[0] == 0:
            return pd.DataFrame(
                {
                    "codes": pd.Series([], dtype=object),
                    "list_id": pd.Series([], dtype="int32"),
                }
            )
        lid = _np_coarse_nd(V, centroids).argmin(1)
        codes = _np_encode(V - C[lid] if residual else V, codebooks)
        return pd.DataFrame({"codes": list(codes), "list_id": lid.astype(np.int32)})

    return _f


def pq_encode(
    df: DataFrame,
    codebooks: Codebooks,
    vec_col: str = "embedding",
) -> DataFrame:
    """Add ``codes: array<int>`` (length m): per subspace the argmin-
    distance codebook id, deterministic smallest-sid tiebreak. One narrow
    Arrow scan running the numpy kernel ``_np_encode``: 1.1 s for 200k
    64-dim vectors on 4 cores, where the same encode as Catalyst
    higher-order functions (m·ks interpreted folds per row) took 19 s
    (SCALE.md §IVF-PQ)."""
    return df.withColumn("codes", _codes_udf(codebooks)(F.col(vec_col)))


def _topk(scored: DataFrame, order_col: str, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col(order_col).asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _exact_rerank(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Re-score a bounded (query_id, neighbor_id) shortlist with exact
    integer-quantized distances: broadcast the shortlist into one more
    corpus scan (point lookups by id — never a corpus shuffle), broadcast
    the query vectors, fold, final windowed top-k."""
    cvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    exact = (
        cvec.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _sq_dist_int_cols(F.col("qv"), F.col("cv")).alias("sqdist"),
        )
    )
    return _topk(exact, "sqdist", k)


def seed_residual_codebooks(
    corpus: DataFrame,
    centroids: list[list[float]],
    ks: int = 16,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Codebooks:
    """Codebooks over COARSE RESIDUALS (v − its assigned centroid) — the
    IVFADC design (Jégou et al. §IV). Raw-vector codes cannot resolve
    intra-cluster structure: on a clustered corpus every member of a list
    quantizes to near-identical codes and ADC degenerates to chance within
    the list (measured recall@3 0.06 on the clustered scale probe);
    encoding the residual spends the codebook's 4 bits per subspace on
    exactly the within-list variation. Driver-side: coarse-assign ks seed
    vectors with the bit-identical numpy kernel, subtract, slice.

    Seed rows are md5-order positions [k_coarse, k_coarse+ks): the FIRST
    k_coarse rows ARE the coarse centroids, so their residuals are
    identically zero — seeding from them yields degenerate all-zero
    codebooks and chance-level ADC (found by the scale probe: recall@3
    0.01, worse than raw-vector codes)."""
    offset = len(centroids)
    seeds = seed_centroids(corpus, offset + ks, id_col=id_col, vec_col=vec_col)[
        offset:
    ]
    return residual_codebooks_from_seeds(seeds, centroids, m)


def residual_codebooks_from_seeds(
    seeds: list[list[float]], centroids: list[list[float]], m: int
) -> Codebooks:
    """Driver-side tail of ``seed_residual_codebooks`` over already-
    collected seed rows (which must EXCLUDE the centroid rows — see the
    zero-residual warning above)."""
    V = np.array(seeds, dtype=np.float64)
    dim = V.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    lids = _np_coarse_nd(V, centroids).argmin(1)
    R = V - np.asarray(centroids, dtype=np.float64)[lids]
    dsub = dim // m
    return [
        [list(map(float, r[j * dsub : (j + 1) * dsub])) for r in R]
        for j in range(m)
    ]


def _collect_query_arrays(queries: DataFrame, id_col: str, vec_col: str):
    """Bounded driver collect of the query set (ids ascending) — the same
    anchor pattern as centroid seeding; |Q| is bounded by contract."""
    rows = queries.select(
        F.col(id_col).alias("q"), as_double(F.col(vec_col)).alias("v")
    ).collect()
    qids = np.array([r.q for r in rows], dtype=np.int64)
    Qv = np.array([np.asarray(r.v, dtype=np.float64) for r in rows])
    order = np.argsort(qids)
    return qids[order], Qv[order]


def _adc_scan(
    corpus: DataFrame,
    qids: np.ndarray,
    Qv: np.ndarray,
    codebooks: Codebooks,
    shortlist: int,
    centroids: list[list[float]] | None = None,
    nprobe: int | None = None,
    residual: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The fused ADC scan — the FAISS-style kernel and the shape that
    actually survives 100 TB. One ``mapInPandas`` pass over the corpus:
    encode the batch, (optionally) coarse-assign it and drop rows outside
    each query's probed lists, score ALL queries at once via int64 table
    gathers, and emit only each query's per-partition top-``shortlist``
    partial — so the full |corpus|×|Q| pair relation is NEVER
    materialized (a pair join with a per-pair fold measured minutes at
    2.5×10⁸ pairs, SCALE.md §IVF-PQ).
    Output rows ≤ partitions·|Q|·shortlist; the global top-k window after
    it touches only that sliver. At deployment scale the optional coarse
    filter is instead partition pruning on a list_id-partitioned codes
    table; here it is an ``isin`` mask inside the same pass.

    Exactness: gathers and adds are int64; the per-partition partial
    top-R keeps every global top-R candidate by construction, so the
    final ranking equals a global sort of all pairs (the knn_pq /
    knn_ivfpq / knn_ivfadc oracle rows rank every pair in SQL)."""
    if qids.size == 0:
        # an empty query set has no neighbors; return before the
        # kernels hit zero-size shape errors
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, adc long"
        )
    qt = _QueryTables(qids, Qv, codebooks, centroids, nprobe, residual)
    C = qt.C

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = _np_matrix(pdf[vec_col])
            nid = pdf[id_col].to_numpy()
            lid = (
                _np_coarse_nd(V, centroids).argmin(1)
                if centroids is not None
                else None
            )
            codes = _np_encode(V - C[lid] if residual else V, codebooks)
            out = qt.score_batch(codes, nid, lid, shortlist)
            if out is not None:
                yield out

    return corpus.select(id_col, vec_col).mapInPandas(
        gen, "query_id long, neighbor_id long, adc long"
    )


class _QueryTables:
    """Driver-side query-probe state for an ADC scan: per-query ADC lookup
    tables (plain, or per-probed-list residual tables), probe lists, and
    the batch scorer shared by the encode-on-the-fly scan (``_adc_scan``)
    and the stored-codes index probe (``ann_index.IvfPqIndex.probe``)."""

    def __init__(
        self,
        qids: np.ndarray,
        Qv: np.ndarray,
        codebooks: Codebooks,
        centroids: list[list[float]] | None,
        nprobe: int | None,
        residual: bool,
    ):
        if residual and centroids is None:
            raise ValueError("residual encoding requires a coarse quantizer")
        if centroids is not None:
            # probing more lists than exist = probing them all
            nprobe = min(nprobe, len(centroids))
        self.qids = qids
        self.residual = residual
        self.nprobe = nprobe
        m, ks = len(codebooks), len(codebooks[0])
        self.C = (
            np.asarray(centroids, dtype=np.float64)
            if centroids is not None
            else None
        )
        self.probes = None
        if centroids is not None:
            qnd = _np_coarse_nd(Qv, centroids)
            self.probes = np.argsort(qnd, axis=1, kind="stable")[:, :nprobe]
        if residual:
            # per-(query, probed list) tables: ADC distances are to the
            # query's residual AGAINST THAT LIST's centroid
            self.T_res = np.empty((len(qids), nprobe, m, ks), dtype=np.int64)
            for i in range(len(qids)):
                for j in range(nprobe):
                    rq = (Qv[i] - self.C[self.probes[i, j]])[None, :]
                    self.T_res[i, j] = np.stack(
                        [
                            _np_sub_dists_int(rq, s, codebooks[s])[0]
                            for s in range(m)
                        ]
                    )
        else:
            self.T = np.stack(
                [_np_sub_dists_int(Qv, s, codebooks[s]) for s in range(m)],
                axis=1,
            )  # |Q| × m × ks

    def score_batch(self, codes, nid, lid, shortlist):
        """Score one Arrow batch of (codes, ids, list assignment) against
        every query; return the per-partition partial top-``shortlist`` as
        a pandas frame (or None if nothing matched)."""
        m = codes.shape[1]
        chunks = []
        if self.residual:
            for i, qid in enumerate(self.qids):
                nns, adcs = [], []
                for j in range(self.nprobe):
                    mask = (lid == self.probes[i, j]) & (nid != qid)
                    if not mask.any():
                        continue
                    cs = codes[mask]
                    a = np.zeros(cs.shape[0], dtype=np.int64)
                    for s in range(m):
                        a += self.T_res[i, j, s][cs[:, s]]
                    nns.append(nid[mask])
                    adcs.append(a)
                if nns:
                    chunks.append(
                        (qid, np.concatenate(nns), np.concatenate(adcs))
                    )
        else:
            adc = np.zeros((len(self.qids), len(nid)), dtype=np.int64)
            for s in range(m):
                adc += self.T[:, s, :][:, codes[:, s]]
            for i, qid in enumerate(self.qids):
                mask = nid != qid
                if lid is not None:
                    mask &= np.isin(lid, self.probes[i])
                chunks.append((qid, nid[mask], adc[i][mask]))
        outq, outn, outa = [], [], []
        for qid, nn, a in chunks:
            if not len(a):
                continue
            idx = np.lexsort((nn, a))[:shortlist]
            outq.append(np.full(len(idx), qid, dtype=np.int64))
            outn.append(nn[idx])
            outa.append(a[idx])
        if not outq:
            return None
        return pd.DataFrame(
            {
                "query_id": np.concatenate(outq),
                "neighbor_id": np.concatenate(outn),
                "adc": np.concatenate(outa),
            }
        )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: Codebooks,
    k: int = 3,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k per query by ADC over PQ codes (full-corpus scan
    — no coarse pruning; see ``ivf_pq_topk`` for the composed index), with
    optional exact re-ranking of the ADC shortlist. Per-pair score = m
    table lookups summed in exact BIGINT; ties broken by
    (adc, neighbor_id) ascending. Scoring runs in the fused ``_adc_scan``,
    which never materializes the pair relation.

    ``rerank=R`` turns ADC into a candidate generator (the production PQ
    posture): the ADC top-R per query is re-scored with EXACT integer-
    quantized distances over the raw vectors, and the final top-k comes
    from that. R is constant per query, so the exact work is R·|Q| point
    lookups — a broadcast of the R·|Q| candidate ids into one more corpus
    scan, never a corpus shuffle — and the exactly-scanned fraction R/n
    vanishes as the corpus grows. On unclustered corpora (quantization's
    worst case) re-rank is what buys usable recall: measured at sf0.01,
    recall@3 0.17 (R=0) → 0.73 (R=50).

    Without re-rank returns (query_id, neighbor_id, adc, rank); with it
    (query_id, neighbor_id, sqdist, rank), sqdist the exact quantized
    squared distance."""
    qids, Qv = _collect_query_arrays(queries, id_col, vec_col)
    scored = _adc_scan(
        corpus, qids, Qv, codebooks, rerank or k,
        id_col=id_col, vec_col=vec_col,
    )
    if rerank is None:
        return _topk(scored, "adc", k)
    cand = _topk(scored, "adc", rerank).select("query_id", "neighbor_id")
    return _exact_rerank(cand, corpus, queries, k, id_col, vec_col)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: Codebooks,
    k: int = 3,
    nprobe: int = 2,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ: the two prunings composed — the canonical billion-scale ANN
    index (FAISS ``IVFx,PQy``).

    The coarse quantizer (operators/ivf.py) bounds WHICH codes each query
    scans (its ``nprobe`` inverted lists); PQ bounds the cost PER code
    (m table lookups). Work per query is Σ_probed |list| ADC lookups
    instead of n, and the codes scan reads m·log2(ks)/8 bytes per vector
    instead of 4·dim. For the write-once/probe-many form of the same
    index (codes persisted partitioned by list_id under one manifest
    commit per mutation, probing = partition pruning, streaming appends)
    see operators/ann_index.py.

    The fused ``_adc_scan`` — one mapInPandas pass encodes each batch,
    probe-filters it, scores all queries, and emits per-partition top-R
    partials; then windowed top-R and exact re-rank of the shortlist.

    ``residual=True`` is IVFADC proper: codes quantize
    ``v − centroid(list)`` with codebooks built over residuals
    (``seed_residual_codebooks`` must supply ``codebooks``), and each
    query carries per-probed-list tables. On clustered corpora this is
    the difference between ADC working and ADC degenerating to chance
    within a list (scale-probe recall@3: 0.06 raw → 0.75 residual, see
    SCALE.md). ``knn_ivfpq`` registers the raw form and ``knn_ivfadc``
    the residual form (a micro configuration whose per-(query, list)
    tables fit the oracle SQL)."""
    qids, Qv = _collect_query_arrays(queries, id_col, vec_col)
    scored = _adc_scan(
        corpus, qids, Qv, codebooks, rerank,
        centroids=centroids, nprobe=nprobe, residual=residual,
        id_col=id_col, vec_col=vec_col,
    )
    cand = _topk(scored, "adc", rerank).select("query_id", "neighbor_id")
    return _exact_rerank(cand, corpus, queries, k, id_col, vec_col)
