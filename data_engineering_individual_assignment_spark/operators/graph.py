"""Iterative graph algorithms over pair/edge relations.

``pagerank`` complements the connected-components operator
``dedup.pair_clusters``: components tell you WHICH
docs form a near-dup cluster; PageRank over the similarity graph ranks
centrality WITHIN the corpus — e.g. picking the canonical
representative of a template family, or weighting documents by how
"hub-like" their duplication neighborhood is.

Design for scale: each iteration is one join (edges ⋈ ranks, both hash
partitioned on the same key) + one aggregation; the rank relation is a
(node, rank) pair — never materialized per-edge beyond the shuffle.  A
fixed small iteration count keeps the plan finite and the operator
oracle-able (the DuckDB twin unrolls the same iterations as CTEs);
convergence-driven runs would localCheckpoint per round like
``dedup.pair_clusters``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    pairs: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """PageRank over the UNDIRECTED graph given as (src, dst) pairs:
    each pair contributes both directions, so every node in the graph
    has out-degree >= 1 and no dangling-mass correction is needed.

    Returns (doc_id, rank) for every node appearing in a pair, with
    rank rounded to 6 places; ranks start uniform at 1/N and follow
    r = (1-d)/N + d * sum(r_in / deg_in) for ``iterations`` rounds —
    deterministic arithmetic, so the result is differential-testable
    against an engine that unrolls the same recurrence.
    """
    edges = pairs.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    # materialize the (possibly expensive) pair relation ONCE: without
    # this every rank reference re-expands the upstream plan — 3 lazy
    # iterations replicate a jaccard-join subtree ~2^3 times and the
    # driver OOMs compiling it (same lesson as dedup.pair_clusters)
    edges_p = edges.persist()
    n_edges = edges_p.count()
    # size every loop shuffle to the GRAPH (checkpoints drop Catalyst
    # partitioning info; without this each round shuffles at the session
    # default — 200-wide for a 50-edge graph)
    parts = max(1, min(256, 2 * n_edges // 50_000 + 1))
    sym = (
        edges_p.unionByName(
            edges_p.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .repartition(parts, "src")
        .localCheckpoint()
    )
    edges_p.unpersist()
    degrees = (
        sym.groupBy("src")
        .agg(F.count("*").alias("deg"))
        .repartition(parts, "src")
        .localCheckpoint()
    )
    # N is a 1-row frame joined in by broadcast — no driver action
    n_nodes = degrees.agg(F.count("*").cast("double").alias("n"))

    ranks = degrees.crossJoin(F.broadcast(n_nodes)).select(
        "src", (F.lit(1.0) / F.col("n")).alias("rank")
    )
    for i in range(iterations):
        contribs = (
            sym.join(ranks.repartition(parts, "src"), "src")
            .join(degrees, "src")
            .repartition(parts, "dst")
            .groupBy(F.col("dst").alias("src"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("inflow"))
        )
        ranks = (
            degrees.join(contribs.repartition(parts, "src"), "src", "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "src",
                (
                    (1.0 - damping) / F.col("n")
                    + damping * F.coalesce("inflow", F.lit(0.0))
                ).alias("rank"),
            )
        )
        if i < iterations - 1:
            # truncate lineage between rounds; the last round stays lazy
            # so callers can keep composing the plan
            ranks = ranks.localCheckpoint()
    return ranks.select(
        F.col("src").alias("doc_id"), F.round("rank", 6).alias("rank")
    )


def triangle_stats(
    pairs: DataFrame, src_col: str = "doc_a", dst_col: str = "doc_b"
) -> DataFrame:
    """Exact triangle count + global clustering coefficient over the
    undirected graph given as canonical (src < dst) pairs.

    Returns ONE row: ``n_edges``, ``n_triangles``, ``n_wedges``
    (open+closed 2-paths, sum deg*(deg-1)/2) and ``clustering``
    (3*triangles/wedges, 6 dp; null when wedge-free).

    Scale design (Suri & Vassilvitskii, "Counting triangles and the
    curse of the last reducer", WWW 2011): edges are ORIENTED from the
    lower to the higher endpoint in the total order (degree, id).  Every
    node's out-degree is then O(sqrt(m)) even on power-law graphs, so
    the wedge self-join — the quadratic step — fans out per-node by
    out-degree², bounded by m^1.5 total instead of sum(deg²) (which a
    single celebrity node makes quadratic).  Wedge closure is one more
    hash join against the canonical edge set; each triangle is counted
    exactly once, at its order-minimal vertex.
    """
    edges = pairs.select(
        F.col(src_col).cast("long").alias("a"), F.col(dst_col).cast("long").alias("b")
    ).where(F.col("a") < F.col("b"))
    # materialize once (tracked, so bench/callers can release it): the
    # pair relation is typically an expensive similarity join, referenced
    # 4 times below (same lesson as pagerank)
    from .dedup import _persist

    edges = _persist(edges)
    n_edges_row = edges.agg(F.count("*").cast("long").alias("n_edges"))

    degrees = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    wedge_row = degrees.agg(
        # coalesce: sum over an empty graph is NULL, the census wants 0
        F.coalesce(F.sum(F.col("deg") * (F.col("deg") - 1) / 2), F.lit(0))
        .cast("long")
        .alias("n_wedges")
    )

    # orient by the (deg, id) total order: u -> v iff (deg_u, u) < (deg_v, v)
    da = degrees.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    db = degrees.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    oriented = (
        edges.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(F.struct(F.col("b").alias("lo"), F.col("a").alias("hi")))
            .alias("e")
        )
        .select(F.col("e.lo").alias("u"), F.col("e.hi").alias("w"))
    )
    # wedges at the order-minimal vertex: (u->v, u->w), v != w, canonicalized
    o1 = oriented.select("u", F.col("w").alias("v1"))
    o2 = oriented.select("u", F.col("w").alias("v2"))
    open_wedges = o1.join(o2, "u").where(F.col("v1") < F.col("v2"))
    closed = open_wedges.join(
        edges.select(
            F.least("a", "b").alias("v1"), F.greatest("a", "b").alias("v2")
        ),
        ["v1", "v2"],
        "leftsemi",
    )
    tri_row = closed.agg(F.count("*").cast("long").alias("n_triangles"))

    return (
        n_edges_row.crossJoin(F.broadcast(tri_row))
        .crossJoin(F.broadcast(wedge_row))
        .select(
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.nullif(F.col("n_wedges"), F.lit(0)),
                6,
            ).alias("clustering"),
        )
    )


def k_core(
    pairs: DataFrame,
    k: int = 2,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_rounds: int = 30,
) -> DataFrame:
    """Nodes of the k-core: the maximal subgraph where every node has
    degree >= k, computed by iterative peeling (repeatedly delete
    nodes with degree < k until a fixed point).

    In a near-dup similarity graph the 2-core separates template
    FAMILIES (docs entangled with several near-dups) from incidental
    pairwise matches — a precision lever for dedup survivors.

    Scale shape: each round is one degree aggregation over the
    surviving edge set + two semi-joins to drop edges touching peeled
    nodes; the edge relation is localCheckpointed per round AND
    repartitioned to graph size (same lesson as pair_clusters: lazy
    iteration otherwise replicates the upstream similarity join
    2^rounds times).  Rounds are bounded by the degeneracy ordering
    depth — O(log n) in practice; the loop's only driver action is
    the per-round edge count.  Rounds needed = frontier-peeling depth
    (a pendant chain of length L peels from both ends in ~L/2 rounds);
    raises RuntimeError instead of silently returning a non-core if
    ``max_rounds`` is hit before the fixed point.  Returns
    (node, core_deg) for k-core members."""
    from .dedup import _persist

    edges = (
        pairs.select(
            F.col(src_col).cast("long").alias("a"),
            F.col(dst_col).cast("long").alias("b"),
        )
        .where(F.col("a") < F.col("b"))
        .distinct()
    )
    parts = max(edges.sparkSession.sparkContext.defaultParallelism // 4, 4)
    edges = _persist(edges.repartition(parts, "a").localCheckpoint())
    n = edges.count()
    converged = n == 0
    for _ in range(max_rounds):
        if n == 0:
            converged = True
            break
        deg = (
            edges.select(F.col("a").alias("v"))
            .unionAll(edges.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("v")
        pruned = (
            edges.join(keep.withColumnRenamed("v", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("v", "b"), "b", "left_semi")
            .repartition(parts, "a")
            .localCheckpoint()
        )
        n2 = pruned.count()
        edges = pruned
        if n2 == n:  # fixed point: every remaining node has deg >= k
            converged = True
            break
        n = n2
    if not converged:
        raise RuntimeError(
            f"k_core did not reach a fixed point in {max_rounds} rounds; "
            "raise max_rounds (peeling depth exceeds the bound)"
        )
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("core_deg"))
    )
    return deg
