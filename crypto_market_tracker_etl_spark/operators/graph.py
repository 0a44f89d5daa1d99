"""Graph analytics over edge lists as iterated joins (Pregel-as-join).

The reference repo has no graph surface; this module is part of the
LLM-data-pipeline extension tier (SURVEY.md §2.11) — curation pipelines
rank documents/entities by link structure (near-dup graphs, co-order /
co-occurrence graphs, citation graphs) and PageRank is the canonical
scoring pass over them.

Scale shape:

- ``co_occurrence_edges`` builds the item-item graph with a self-join on
  the GROUP key. Per-group fanout is quadratic in group size, so the
  caller bounds it (orders have ≤ ~7 line items; for unbounded groups cap
  with a per-group top-N first). The pair space then aggregates with
  map-side partial combine — one shuffle on the pair key.
- ``pagerank`` is the standard power iteration expressed as DataFrame
  joins: each iteration joins the rank vector (node-keyed) to the edge
  list (src-keyed) and re-aggregates on dst. Two shuffles per iteration.
  At cluster scale, pre-partition the edge list by ``src`` ONCE
  (``edges.repartition(N, src)`` + persist, or a bucketed table) — the
  rank vector is re-shuffled to match each round, but the (much larger)
  edge list never moves again. Iteration count is a bounded constant, so
  the whole pass is O(iters) scans — no driver-side loop over rows, no
  collect of anything row-shaped.
- Dangling nodes (no out-edges) leak their mass, the common simplification
  when the graph is symmetric-by-construction (co-occurrence graphs are).
  Callers with genuinely directed graphs should add a dangling-mass
  redistribution term per iteration (one 1-row aggregate, broadcast back).

Determinism: all arithmetic is +,*,/ on doubles (correctly rounded per
IEEE-754, engine-identical); only aggregation ORDER varies across engines,
so final ranks agree to ~1 ulp and round(·, 8) is oracle-stable. The
``pagerank`` query's DuckDB oracle unrolls the same iterations as CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import cache_scope, materialize


def co_occurrence_edges(
    df: DataFrame, group_col: str, item_col: str
) -> DataFrame:
    """Symmetric item-item co-occurrence edges: one edge (src, dst, w) per
    ordered pair of DISTINCT items sharing a group, w = number of shared
    groups. Both directions are emitted, so the graph has no dangling
    nodes and out-degree equals in-degree."""
    li = df.select(
        F.col(group_col).alias("g"), F.col(item_col).alias("item")
    ).distinct()
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.item") != F.col("b.item")))
        .groupBy(
            F.col("a.item").alias("src"), F.col("b.item").alias("dst")
        )
        .agg(F.count("*").cast("double").alias("w"))
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = "w",
    persist: bool = True,
) -> DataFrame:
    """Weighted PageRank after ``iterations`` power steps; returns
    (node, rank). Nodes are the union of src and dst values; initial rank
    is uniform 1/N. ``weight=None`` treats every edge as weight 1.

    Caching policy — MEASURED, with a crossover (scale_probe.py
    SCALE_GRAPH, local[32]; 3 iterations):

    ======== ========== ========= ==========
    edges    nodes      lazy      eager
    ======== ========== ========= ==========
    1.9M     20k        6.4 s     9.9 s
    8M       200k       73.3 s    18.0 s
    40M      1M         181.3 s   41.6 s
    ======== ========== ========= ==========

    Eager (the default): hold the share-normalized edge list and node
    set in a ``cache_scope``, run the loop, ``materialize`` the
    node-count-sized result; the scope releases both on exit, also on
    error, so nothing cached outlives the call. This is the
    scale-correct shape: each iteration re-joins cached edges instead of
    re-running the edge build (whose cost the lazy plan pays roughly once
    per iteration once graphs outgrow the broadcast/reuse-friendly small
    regime — AQE exchange reuse does NOT reliably dedupe the repeated
    subtrees at these sizes). ``persist=False`` keeps the operator fully
    lazy — measurably better only for small graphs (≲ low-single-digit
    millions of edges) and required for static plan inspection."""
    w = F.col(weight) if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
    )
    out = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    with cache_scope() as hold:
        keep = hold if persist else (lambda df: df)
        nodes = keep(
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        # N as a broadcast 1-row aggregate (the max-ts anchor pattern) —
        # the plan stays fully lazy, nothing row-shaped reaches the driver.
        nn = nodes.agg(F.count("*").cast("double").alias("n"))
        ranks = nodes.crossJoin(F.broadcast(nn)).select(
            "node", (F.lit(1.0) / F.col("n")).alias("rank")
        )
        contrib_edges = keep(
            e.join(out, "src").select(
                "src", "dst", (F.col("w") / F.col("out_w")).alias("share")
            )
        )
        for _ in range(iterations):
            contribs = (
                contrib_edges.join(ranks, contrib_edges.src == ranks.node)
                .groupBy("dst")
                .agg(F.sum(F.col("rank") * F.col("share")).alias("contrib"))
            )
            ranks = (
                nodes.join(contribs, nodes.node == contribs.dst, "left")
                .crossJoin(F.broadcast(nn))
                .select(
                    "node",
                    (
                        F.lit(1.0 - damping) / F.col("n")
                        + F.lit(damping)
                        * F.coalesce(F.col("contrib"), F.lit(0.0))
                    ).alias("rank"),
                )
            )
        return materialize(ranks) if persist else ranks


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Global triangle census over a SYMMETRIC edge set (both directions
    present, no self-loops): (n_nodes, n_edges, n_wedges, n_triangles,
    global_clustering), one row.

    Scale shape — the degree-orientation trick (Cohen / "MapReduce
    triangle enumeration"): every undirected edge is kept ONCE, oriented
    from the (degree, id)-smaller endpoint to the larger, so each wedge
    is generated exactly once at its lowest-ranked vertex and the
    self-join fan-out is bounded by arboricity, not by max degree — a
    celebrity node with 10⁷ neighbors produces ZERO wedges at itself
    under orientation, versus 10¹⁴ unoriented. The (degree, id) rank is
    packed into one BIGINT (deg·2³² + id — single integer compares, the
    same number in any engine) with a FAIL-LOUD domain guard: node ids
    must be in [0, 2³²) AND degrees below 2³¹, or the packing would
    silently collide/overflow (a negative or ≥2³² hash-derived id folds
    into the degree bits; deg ≥ 2³¹ overflows BIGINT in deg·2³² —
    dropping edges and undercounting triangles either way) —
    ``assert_true`` raises instead, at zero cost on the valid path.
    n_wedges (the clustering denominator) is Σ C(deg,2) from the degree
    table, computed in INTEGER arithmetic (deg·(deg−1) is even, so
    shiftright-by-1 halves exactly; double division loses exactness past
    2⁵³ on billion-degree-sum graphs). Triangles = wedge(x,y) ⋈
    oriented-edge(x,y): one equi-join on the pair key."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    in_range = (
        (F.col("src") >= 0)
        & (F.col("src") < F.lit(1 << 32))
        & (F.col("deg") < F.lit(1 << 31))
    )
    guard = F.coalesce(
        F.assert_true(
            in_range,
            "triangle_stats: node ids must be in [0, 2^32) and deg < 2^31",
        ).cast("long"),
        F.lit(0),
    )
    rank = deg.select(
        F.col("src").alias("v"),
        (F.col("deg").cast("long") * F.lit(1 << 32) + F.col("src") + guard).alias(
            "rk"
        ),
    )
    und = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    oriented = (
        und.join(rank.select(F.col("v").alias("a"), F.col("rk").alias("ra")), "a")
        .join(rank.select(F.col("v").alias("b"), F.col("rk").alias("rb")), "b")
        .where(F.col("ra") < F.col("rb"))
        .select("a", "b", "rb")
    )
    e1 = oriented.select(F.col("a"), F.col("b").alias("x"), F.col("rb").alias("rx"))
    e2 = oriented.select(F.col("a"), F.col("b").alias("y"), F.col("rb").alias("ry"))
    wedges = e1.join(e2, "a").where(F.col("rx") < F.col("ry")).select("x", "y")
    closures = wedges.join(
        oriented.select(F.col("a").alias("x"), F.col("b").alias("y")), ["x", "y"]
    )
    tri = closures.agg(F.count(F.lit(1)).alias("n_triangles"))
    base = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        # Σdeg is even (symmetric edge set) and deg·(deg−1) is always even:
        # shiftright(·, 1) is an exact integer halving with no double hop
        F.shiftright(F.sum("deg"), 1).alias("n_edges"),
        F.sum(
            F.shiftright(F.col("deg") * (F.col("deg") - F.lit(1)), 1)
        ).alias("n_wedges"),
    )
    return (
        base.crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                3 * F.col("n_triangles") / F.greatest(F.col("n_wedges"), F.lit(1)), 4
            ).alias("global_clustering"),
        )
    )
