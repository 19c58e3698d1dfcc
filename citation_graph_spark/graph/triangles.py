"""Per-vertex triangle counting — degree-oriented wedge join.

Generalizes the reference's coauthor wedge pattern
(perspectives/bbp_or_not_perspective.json:1 "Find coauthors of
$person_name": (a)-[:WROTE]->(p)<-[:WROTE]-(b), a<>b — a 2-path
self-join) to full triangle enumeration.

Algorithm (the standard shuffle-efficient one):
1. canonicalize the undirected edge set to distinct (lo, hi) pairs;
2. orient every edge from the endpoint with (degree, vid) smaller to
   larger — each triangle is then counted exactly once, and the wedge
   fan-out of power-law hubs is bounded (a hub's out-neighborhood in
   the oriented graph is small: only higher-degree vertices), which IS
   the skew mitigation — no vertex generates O(hub_degree²) wedges;
3. wedges: oriented ⨝ oriented on shared lower endpoint;
4. close: wedges ⨝ oriented on the (v, w) pair;
5. per-vertex counts: explode each triangle's three corners, groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citation_graph_spark.session import kernel, kernel_cache, size_kernel


def _canonical_edges(edges: DataFrame) -> DataFrame:
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def oriented_edges(edges: DataFrame) -> DataFrame:
    """Distinct undirected edges oriented by (degree, vid) order:
    returns (u, v) with rank(u) < rank(v)."""
    canon = _canonical_edges(edges)
    deg = (
        canon.select(F.col("a").alias("vid"))
        .unionByName(canon.select(F.col("b").alias("vid")))
        .groupBy("vid")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("vid").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("vid").alias("b"), F.col("deg").alias("deg_b"))
    # merge hints: the degree side is vertex-sized — too big to build
    # a per-partition hash map over at link-graph scale
    with_deg = canon.hint("merge").join(da, "a").hint("merge").join(db, "b")
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    return with_deg.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )


def triangle_rows(o: DataFrame) -> DataFrame:
    """``(w1, w2, w0)``: each triangle of the oriented edges ``o`` (u, v)
    once — the wedge w0→w1, w0→w2 (w1 < w2) closed by an edge between
    w1 and w2 in either orientation. ``o`` is read four times, so a
    caller materializes it first."""
    e1 = o.select(F.col("u").alias("w0"), F.col("v").alias("w1"))
    e2 = o.select(F.col("u").alias("w0"), F.col("v").alias("w2"))
    # merge hints: the session prefers shuffled-hash joins (right for
    # the small per-round kernel joins), but the wedge and closure
    # joins grow super-linearly in hub degree — a hash build side here
    # OOMs at link-graph scale where sort-merge just spills. The hint
    # rides the logical plan, so it holds whenever the action compiles.
    wedges = e1.hint("merge").join(e2, "w0").filter(F.col("w1") < F.col("w2"))
    closer = o.select(F.col("u").alias("w1"), F.col("v").alias("w2")).unionByName(
        o.select(F.col("u").alias("w2"), F.col("v").alias("w1"))
    )
    return wedges.hint("merge").join(closer, ["w1", "w2"])


@kernel
def triangle_counts(
    edges: DataFrame, vertices: DataFrame | None = None
) -> DataFrame:
    """Returns ``(vid: long, n_triangles: long)`` — number of triangles
    each vertex participates in; Σ = 3 × global triangle count."""
    o = kernel_cache(oriented_edges(edges))
    size_kernel(edges.sparkSession, o.count())
    triangles = triangle_rows(o)

    corners = (
        triangles.select(F.col("w0").alias("vid"))
        .unionByName(triangles.select(F.col("w1").alias("vid")))
        .unionByName(triangles.select(F.col("w2").alias("vid")))
    )
    counts = corners.groupBy("vid").agg(F.count(F.lit(1)).alias("n_triangles"))
    if vertices is not None:
        counts = (
            vertices.select("vid")
            .join(counts, "vid", "left")
            .select("vid", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"))
        )
    return counts


@kernel
def four_clique_counts(
    edges: DataFrame, vertices: DataFrame | None = None
) -> DataFrame:
    """Per-vertex 4-clique counts — kClist-style ordered expansion
    (Chiba–Nishizeki / Danisch et al. 2018) over the degree-oriented
    DAG. Each clique {a,b,c,d} has exactly one (deg, vid)-rank order
    a→b→c→d with all 6 edges in the oriented graph, so it is listed
    exactly once:

    1. DAG triangles (a,b,c): out-wedges from a common source joined
       against the oriented closure b→c (fan-out bounded by oriented
       out-degree — the same hub-skew mitigation as triangle_counts);
    2. extend by c's out-neighbors d, then close with the two
       remaining edge checks (b,d) and (a,d) — equi-joins on the edge
       pair, never a cartesian candidate set.

    Returns ``(vid, n_four_cliques)``; Σ = 4 × global 4-clique count.
    """
    o = kernel_cache(oriented_edges(edges))
    size_kernel(edges.sparkSession, o.count())
    return four_clique_lineage(o, vertices)


def four_clique_lineage(o: DataFrame, vertices: DataFrame | None = None) -> DataFrame:
    """The un-checkpointed 4-clique count plan over already-oriented
    edges ``(u, v)`` — exposed so the plan audit / regressions can pin
    the join shape the public function materializes."""
    ab = o.select(F.col("u").alias("a"), F.col("v").alias("b"))
    ac = o.select(F.col("u").alias("a"), F.col("v").alias("c"))
    # DAG-ordered wedges a→b, a→c need b→c oriented — keep only that
    # direction (unlike triangle_counts' undirected closure) so the
    # triangle row is rank-ordered and each clique expands once
    bc = o.select(F.col("u").alias("b"), F.col("v").alias("c"))
    # merge hints, same rationale as triangle_counts: wedge/closure
    # joins grow super-linearly in hub degree; sort-merge spills where
    # a shuffled-hash build side OOMs at link-graph scale
    tri = (
        ab.hint("merge")
        .join(ac, "a")
        .hint("merge")
        .join(bc, ["b", "c"])
    )
    cd = o.select(F.col("u").alias("c"), F.col("v").alias("d"))
    bd = o.select(F.col("u").alias("b"), F.col("v").alias("d"))
    ad = o.select(F.col("u").alias("a"), F.col("v").alias("d"))
    quads = (
        tri.hint("merge")
        .join(cd, "c")
        .hint("merge")
        .join(bd, ["b", "d"])
        .hint("merge")
        .join(ad, ["a", "d"])
    )
    corners = (
        quads.select(F.col("a").alias("vid"))
        .unionByName(quads.select(F.col("b").alias("vid")))
        .unionByName(quads.select(F.col("c").alias("vid")))
        .unionByName(quads.select(F.col("d").alias("vid")))
    )
    counts = corners.groupBy("vid").agg(F.count(F.lit(1)).alias("n_four_cliques"))
    if vertices is not None:
        counts = (
            vertices.select("vid")
            .join(counts, "vid", "left")
            .select(
                "vid", F.coalesce("n_four_cliques", F.lit(0)).alias("n_four_cliques")
            )
        )
    return counts
