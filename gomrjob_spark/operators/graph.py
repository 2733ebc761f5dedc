"""Iterative graph analytics beyond connected components.

Connected components (operators/dedup.py) covers reachability; this
module adds the other canonical iterative-graph shape — power-iteration
scoring (PageRank; Brin & Page 1998) — expressed so a SQL oracle can
replay it EXACTLY: all arithmetic is fixed-point integer (scores scaled
by ``scale``, the damping factor a rational ``damp_num/damp_den``, every
division an integer floor both engines compute identically, every sum an
order-free bigint). The classically-float iteration becomes
bit-reproducible across engines, partitionings, and reruns.

Scale shape per iteration: one equi-join of the edge list with the
(node, pr) frame on the source, one partial-aggregated shuffle keyed by
the destination, one left join back to the node set — all keyed on node
ids, no driver-side data paths, O(E) work per round. The rounds run
through :func:`~gomrjob_spark.cache.iterate`, which checkpoints each
round's rank table, so round k's plan scans round k-1's rows instead of
re-nesting rounds 1..k-1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from gomrjob_spark.cache import iterate, scoped_persist


def pagerank_fixedpoint(
    edges: DataFrame,
    n_iters: int = 3,
    scale: int = 1_000_000,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """Exact-integer PageRank over a directed edge list (src, dst):

        pr'(u) = (scale*(den-num)) DIV den
                 + (num * Σ_{v->u} (pr(v) DIV outdeg(v))) DIV den

    starting from ``pr = scale`` for every node. The two integer DIVs
    (per-source share, damping) floor identically on Spark and DuckDB,
    and the sums are order-free bigints — so ``n_iters`` rounds produce
    bit-identical scores on any engine/partitioning, which is what puts
    an iterative float algorithm under the cross-engine hash gate.
    Nodes = every id appearing as src or dst; a node with no in-edges
    converges to the base term, and dangling nodes (no out-edges)
    simply contribute nothing (their mass is dropped, the standard
    simplification). Returns (node, pr)."""
    base = (scale * (damp_den - damp_num)) // damp_den
    # Persist the loop INVARIANTS once (r13, from the 64x probe: the
    # un-persisted edge frame — often a distinct over a large fact
    # table — re-evaluated once per round PLUS once each for deg and
    # nodes, and the 3-round nested plan's concurrent recomputation
    # blew the aggregation maps' memory budget at 38M edges where each
    # single evaluation fits comfortably).
    edges = scoped_persist(edges.select("src", "dst"))
    nodes = scoped_persist(
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = scoped_persist(edges.groupBy("src").agg(F.count("*").alias("deg")))

    def power_round(pr: DataFrame, _) -> DataFrame:
        contrib = (
            edges.join(pr, edges["src"] == pr["node"])
            .join(deg, "src")
            .select(F.col("dst").alias("node"), F.expr("pr DIV deg").alias("c"))
        )
        sums = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        return nodes.join(sums, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(f"({damp_num} * coalesce(s, CAST(0 AS BIGINT))) DIV {damp_den}")
            )
            .cast("bigint")
            .alias("pr"),
        )

    pr0 = nodes.select("node", F.lit(scale).cast("bigint").alias("pr"))
    return iterate(power_round, pr0, max_rounds=n_iters)


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected edge list (a, b),
    a < b, distinct — the third canonical graph shape next to the
    connected-components fixpoint and PageRank power iteration.

    Scale shape: DEGREE ORIENTATION (Chiba-Nishizeki / the standard
    MapReduce triangle scheme). Each undirected edge is directed from
    its lower-(degree, id) endpoint to the higher one; every triangle
    then has exactly ONE node with out-edges to the other two, so
    wedges enumerate once from that apex: D join D on the apex, close
    with one more equi-join against D. The point of orienting by degree
    first: out-degrees are bounded by O(sqrt(E)) (arboricity bound) no
    matter how skewed the raw degree distribution is, so the wedge
    fan-out a hub would otherwise explode (deg^2 on the raw graph)
    is capped — this is the difference between a plan that survives a
    power-law 100 TB graph and one that dies on its hottest vertex.
    All joins are keyed equi-joins; counts aggregate map-side.

    Returns (node, n_tri) for nodes in >= 1 triangle; every triangle
    credits all three corners.
    """
    both = edges.select(F.col("a").alias("n")).unionByName(
        edges.select(F.col("b").alias("n"))
    )
    deg = both.groupBy("n").agg(F.count("*").alias("deg"))
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("_dega"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("_degb"))
    ed = edges.join(da, "a").join(db, "b")
    # orient low-(deg, id) -> high-(deg, id); carry the dst's order key
    # so wedge pairs can be canonicalized row-locally
    a_first = (F.col("_dega") < F.col("_degb")) | (
        (F.col("_dega") == F.col("_degb")) & (F.col("a") < F.col("b"))
    )
    d = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("_degb")).otherwise(F.col("_dega")).alias("_ddeg"),
    )
    d1 = d.select("src", F.col("dst").alias("v"), F.col("_ddeg").alias("_dv"))
    d2 = d.select("src", F.col("dst").alias("w"), F.col("_ddeg").alias("_dw"))
    v_first = (F.col("_dv") < F.col("_dw")) | (
        (F.col("_dv") == F.col("_dw")) & (F.col("v") < F.col("w"))
    )
    wedges = (
        d1.join(d2, "src")
        .filter(F.col("v") < F.col("w"))
        .select(
            F.col("src").alias("apex"),
            F.when(v_first, F.col("v")).otherwise(F.col("w")).alias("x"),
            F.when(v_first, F.col("w")).otherwise(F.col("v")).alias("y"),
        )
    )
    closed = wedges.join(
        d.select(F.col("src").alias("x"), F.col("dst").alias("y")), ["x", "y"]
    )
    corners = (
        closed.select(F.col("apex").alias("node"))
        .unionByName(closed.select(F.col("x").alias("node")))
        .unionByName(closed.select(F.col("y").alias("node")))
    )
    return corners.groupBy("node").agg(F.count("*").cast("bigint").alias("n_tri"))


def common_neighbors_topk(
    edges: DataFrame,
    k: int = 20,
    max_degree: int | None = None,
) -> DataFrame:
    """Link prediction by common-neighbor count: for node pairs NOT
    currently adjacent, how many shared neighbors — the classic local
    link-prediction score (Liben-Nowell & Kleinberg). Input is the
    undirected distinct edge list (a, b), a < b; returns the top-k
    predicted links (x, y, n_common) by (count desc, x, y).

    Wedge enumeration from the symmetric adjacency is Σ deg(v)^2 —
    unlike the triangle counter, link prediction needs EVERY wedge, so
    the arboricity orientation bound does not apply and the hub valve
    is ``max_degree``: drop apexes above it before the self-join (the
    same skew-valve role max_shingle_freq plays for Jaccard — hubs
    contribute near-zero signal per pair anyway, their neighborhoods
    are everything). The registered query keeps it off for exact
    oracle semantics; production callers set it. The final anti-join
    removes existing edges; top-k resolves via TakeOrdered."""
    sym = edges.select(F.col("a").alias("apex"), F.col("b").alias("n")).unionByName(
        edges.select(F.col("b").alias("apex"), F.col("a").alias("n"))
    )
    if max_degree is not None:
        deg = sym.groupBy("apex").agg(F.count("*").alias("_d"))
        sym = sym.join(
            F.broadcast(deg.filter(F.col("_d") > max_degree)), "apex", "left_anti"
        )
    s1 = sym.select("apex", F.col("n").alias("x"))
    s2 = sym.select("apex", F.col("n").alias("y"))
    wedges = (
        s1.join(s2, "apex")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    non_edges = wedges.join(
        edges.select(F.col("a").alias("x"), F.col("b").alias("y")),
        ["x", "y"],
        "left_anti",
    )
    return non_edges.orderBy(F.desc("n_common"), "x", "y").limit(k)
