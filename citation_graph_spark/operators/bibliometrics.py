"""Bibliometric queries over the extracted citation graph.

The reference's serving surface is per-paper citation prestige: SERP
``cited_by`` totals carried onto every Article
(reference: scripts/serp_fetch_citations.py:223-227,
scripts/combine_serp.py:226) and Cypher perspectives of the form
``(citing)-[:CITES]->(cited) WITH cited, COUNT(citing) AS
citationCount WHERE citationCount > $minCitations``
(reference: perspectives/bbp_or_not_perspective.json,
timeview_perspective.json). This module re-expresses that family —
and its standard bibliometric extensions (co-citation, bibliographic
coupling, neighborhood link prediction, Katz prestige, h-index,
self-citation rate) — as declarative DataFrame plans over the SAME
directed edge table the north-rule kernels run on
(operators/graphq.py ``corpus_tables``), each hash-checked against a
DuckDB oracle that re-derives the pipeline from the raw documents
parquet.

Cross-engine determinism: every score here is either an exact integer
(pair counts, h-index, set sizes) or an integer-quantized rational
computed with INTEGER DIVISION on both engines (``//`` in DuckDB,
``div`` in Spark SQL) so no float ever crosses the hash — except Katz,
which follows the PageRank contract (identical fixed schedule both
sides, ~1e-15 summation-order divergence, floored at 1e-9).

Scale posture: co-citation / coupling / common-neighbor queries are
wedge self-joins — the same shape as graph/triangles.py, with the
wedge-center key as the only shuffle key, so they partition cleanly;
the quadratic-in-degree blowup at hub vertices is bounded in practice
the same way triangles bounds it (degree orientation there; here a
``HAVING count >= threshold`` keeps the emitted pair set sparse, and
at 100-TB scale the standard mitigation is capping per-vertex
adjacency at top-k by weight before the wedge join — one added
window, no shape change).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from citation_graph_spark.graph import (
    densest_subgraph_rounds,
    eigenvector_centrality,
    katz_centrality,
    strongly_connected_components,
    undirect,
)
from citation_graph_spark.operators import register
from citation_graph_spark.operators.graphq import _CORPUS_CTE, corpus_tables

_KATZ_ALPHA = 0.001
_KATZ_ITERS = 8
_EV_ITERS = 10


def cap_adjacency(
    adj: DataFrame, center: str, max_degree: int | None
) -> DataFrame:
    """Per-vertex adjacency cap for wedge self-joins — THE standard
    mitigation for the hub-degree quadratic (a wedge join emits O(deg²)
    pairs per center, and a power-law hub at 100× corpus scale turns
    that into the stage's whole cost). One window, no shape change:
    keep at most ``max_degree`` rows per wedge-center ``center``, the
    first ones in ascending order of every other column, left to right
    (a weight column sorts ascending like the rest, so the cap keeps
    the lightest edges, not the heaviest). ``None`` = exact (unchanged
    plan); the capped result is a deterministic subset, so downstream
    counts are reproducible, just truncated at hubs."""
    if max_degree is None:
        return adj
    others = [c for c in adj.columns if c != center]
    w = Window.partitionBy(center).orderBy(*[F.asc(c) for c in others])
    return (
        adj.withColumn("_adj_rk", F.row_number().over(w))
        .filter(F.col("_adj_rk") <= max_degree)
        .drop("_adj_rk")
    )


def _dedges(spark: SparkSession) -> DataFrame:
    """Distinct directed citation links (multiplicity dropped: one
    citation relationship per (citing, cited) pair, exactly the
    reference's COUNT(citing) Cypher semantics).

    Materialized via localCheckpoint before the wedge self-joins:
    without it every branch of a self-join replays the whole
    extraction lineage — at warehouse scale the edge table is
    materialized exactly once (it IS the stored table; see
    snapshots.py), and the plan-regression suite pins the wedge
    queries to the post-materialization shape."""
    _, edges = corpus_tables(spark)
    return edges.select("src", "dst").distinct().localCheckpoint()


# --------------------------------------------------------------------------
@register(
    "corpus_cocitation",
    oracle=f"""
    WITH {_CORPUS_CTE},
    ced AS (SELECT DISTINCT src, dst FROM cedges)
    SELECT e1.dst AS a, e2.dst AS b, count(*) AS cocite_count
    FROM ced e1 JOIN ced e2 ON e1.src = e2.src AND e1.dst < e2.dst
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def corpus_cocitation(
    spark: SparkSession, sf_dir: str, max_degree: int | None = None
) -> DataFrame:
    """Co-citation strength (Small 1973): documents (a, b) cited
    together by >= 2 common citing documents — the similarity measure
    behind the reference's related-paper serving (its Cypher
    ``(citing)-[:CITES]->(cited)`` pattern family,
    perspectives/bbp_or_not_perspective.json). Wedge self-join keyed on
    the citing document. ``max_degree`` (opt-in) caps each citing
    document's reference list via ``cap_adjacency`` before the wedge —
    the hub-quadratic guard for power-law corpora; None = exact (the
    registered/oracle contract)."""
    e = cap_adjacency(_dedges(spark), "src", max_degree)
    e1 = e.select(F.col("src").alias("s"), F.col("dst").alias("a"))
    e2 = e.select(F.col("src").alias("s"), F.col("dst").alias("b"))
    return (
        e1.join(e2, "s")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cocite_count"))
        .filter(F.col("cocite_count") >= 2)
    )


# --------------------------------------------------------------------------
_COCITE_CAP = 16


@register(
    "corpus_cocitation_capped",
    oracle=f"""
    WITH {_CORPUS_CTE},
    ced AS (SELECT DISTINCT src, dst FROM cedges),
    capped AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY dst) AS rk
        FROM ced) t
      WHERE rk <= {_COCITE_CAP}
    )
    SELECT e1.dst AS a, e2.dst AS b, count(*) AS cocite_count
    FROM capped e1 JOIN capped e2 ON e1.src = e2.src AND e1.dst < e2.dst
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def corpus_cocitation_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_cocitation`` with the hub-quadratic guard ON
    (``max_degree=16``): each citing document's reference list is
    truncated to its 16 smallest-vid targets before the wedge
    self-join, bounding the per-center pair emission at
    C(16,2) = 120 regardless of hub degree — the shape that survives
    a power-law 100× corpus. Deterministic truncation (row_number
    over dst asc), so the capped counts are themselves oracle-exact;
    the uncapped sibling remains the exact-semantics contract."""
    return corpus_cocitation(spark, sf_dir, max_degree=_COCITE_CAP)


# --------------------------------------------------------------------------
@register(
    "corpus_bib_coupling",
    oracle=f"""
    WITH {_CORPUS_CTE},
    ced AS (SELECT DISTINCT src, dst FROM cedges)
    SELECT e1.src AS a, e2.src AS b, count(*) AS couple_count
    FROM ced e1 JOIN ced e2 ON e1.dst = e2.dst AND e1.src < e2.src
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def corpus_bib_coupling(
    spark: SparkSession, sf_dir: str, max_degree: int | None = None
) -> DataFrame:
    """Bibliographic coupling (Kessler 1963): documents (a, b) whose
    reference lists share >= 2 common cited documents — the dual of
    co-citation, wedge self-join keyed on the cited document.
    ``max_degree`` (opt-in) caps each cited document's citer list
    before the wedge (``cap_adjacency``); None = exact."""
    e = cap_adjacency(_dedges(spark), "dst", max_degree)
    e1 = e.select(F.col("dst").alias("d"), F.col("src").alias("a"))
    e2 = e.select(F.col("dst").alias("d"), F.col("src").alias("b"))
    return (
        e1.join(e2, "d")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("couple_count"))
        .filter(F.col("couple_count") >= 2)
    )


# --------------------------------------------------------------------------
@register(
    "corpus_link_predict_ra",
    oracle=f"""
    WITH {_CORPUS_CTE},
    deg AS (SELECT src AS v, count(*) AS degree FROM csym GROUP BY src),
    wedge AS (
      SELECT x1.dst AS a, x2.dst AS b, x1.src AS z
      FROM csym x1 JOIN csym x2 ON x1.src = x2.src AND x1.dst < x2.dst
    ),
    scored AS (
      SELECT w.a, w.b, count(*) AS cn,
             sum(1000000000000 // d.degree) AS score_pico
      FROM wedge w JOIN deg d ON w.z = d.v
      GROUP BY 1, 2
      HAVING count(*) >= 2
    )
    SELECT s.a, s.b, s.cn, CAST(s.score_pico AS BIGINT) AS score_pico
    FROM scored s
    WHERE NOT EXISTS (
      SELECT 1 FROM csym c WHERE c.src = s.a AND c.dst = s.b
    )
    """,
)
def corpus_link_predict_ra(
    spark: SparkSession, sf_dir: str, max_degree: int | None = None
) -> DataFrame:
    """Resource-allocation link prediction (Zhou, Lu, Zhang 2009):
    for non-adjacent pairs (a, b) with >= 2 common neighbors in the
    undirected citation graph, score = SUM_z 1/deg(z) over common
    neighbors z — quantized to exact picounits via integer division so
    the cross-engine hash is float-free (the ``1/log deg`` Adamic-Adar
    variant is the identical plan with a different per-vertex weight).
    Predicts the links the crawl hasn't seen yet — the reference's
    serendipitous-related-paper use case served from graph structure
    alone. ``max_degree`` (opt-in) caps the wedge-center adjacency
    before the self-join; degrees and the known-edge anti-join stay on
    the FULL graph so 1/deg weights remain exact — the cap only
    truncates which wedges are enumerated at hubs. None = exact."""
    sym = undirect(_dedges(spark)).localCheckpoint()
    deg = sym.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    wsrc = cap_adjacency(sym, "src", max_degree)
    w1 = wsrc.select(F.col("src").alias("z"), F.col("dst").alias("a"))
    w2 = wsrc.select(F.col("src").alias("z"), F.col("dst").alias("b"))
    scored = (
        w1.join(w2, "z")
        .filter(F.col("a") < F.col("b"))
        .join(deg, F.col("z") == F.col("v"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum(F.expr("1000000000000 div degree")).alias("score_pico"),
        )
        .filter(F.col("cn") >= 2)
    )
    adj = sym.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    return scored.join(adj, ["a", "b"], "left_anti")


# --------------------------------------------------------------------------
@register(
    "corpus_neighbor_jaccard",
    oracle=f"""
    WITH {_CORPUS_CTE},
    deg AS (SELECT src AS v, count(*) AS degree FROM csym GROUP BY src),
    pairs AS (SELECT src AS a, dst AS b FROM csym WHERE src < dst),
    wedge AS (
      SELECT x1.dst AS a, x2.dst AS b, count(*) AS inter
      FROM csym x1 JOIN csym x2 ON x1.src = x2.src AND x1.dst < x2.dst
      GROUP BY 1, 2
    ),
    j AS (
      SELECT p.a, p.b, coalesce(w.inter, 0) AS inter,
             da.degree + db.degree - coalesce(w.inter, 0) AS uni
      FROM pairs p
      LEFT JOIN wedge w ON p.a = w.a AND p.b = w.b
      JOIN deg da ON p.a = da.v
      JOIN deg db ON p.b = db.v
    )
    SELECT a, b, inter, uni, (1000000 * inter) // uni AS jacc_micro
    FROM j
    """,
)
def corpus_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard similarity of each LINKED pair (a, b):
    |N(a) n N(b)| / |N(a) u N(b)| in exact integers + micro-quantized
    ratio — the classic edge-strength / community-embeddedness measure
    (an edge whose endpoints share most neighbors is intra-community;
    one sharing none is a bridge). Same wedge join as co-citation plus
    two broadcast-size degree joins."""
    sym = undirect(_dedges(spark)).localCheckpoint()
    deg = sym.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    pairs = sym.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    w1 = sym.select(F.col("src").alias("z"), F.col("dst").alias("a"))
    w2 = sym.select(F.col("src").alias("z"), F.col("dst").alias("b"))
    wedge = (
        w1.join(w2, "z")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("degree").alias("dega"))
    db = deg.select(F.col("v").alias("b"), F.col("degree").alias("degb"))
    return (
        pairs.join(wedge, ["a", "b"], "left")
        .join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            F.coalesce("inter", F.lit(0)).alias("inter"),
            (
                F.col("dega") + F.col("degb") - F.coalesce("inter", F.lit(0))
            ).alias("uni"),
        )
        .withColumn("jacc_micro", F.expr("(1000000 * inter) div uni"))
    )


# --------------------------------------------------------------------------
@register(
    "corpus_katz",
    oracle=f"""
    WITH RECURSIVE {_CORPUS_CTE},
    ced AS (SELECT DISTINCT src, dst FROM cedges),
    -- zero-weight self-loops: every vertex receives >=1 message per
    -- round so the grouped recursive term covers the full vertex set
    en2 AS (SELECT src, dst, CAST(1.0 AS DOUBLE) AS w FROM ced
            UNION ALL SELECT vid, vid, CAST(0.0 AS DOUBLE) FROM verts),
    -- all-DOUBLE arithmetic: bare 1.0/0.001 literals are DECIMAL in
    -- DuckDB and would silently run the recursion at decimal scale
    kz(it, v, x) AS (
      SELECT 0, vid, CAST(1.0 AS DOUBLE) FROM verts
      UNION ALL
      SELECT p.it + 1, e.dst,
             CAST(1.0 AS DOUBLE)
               + CAST({_KATZ_ALPHA} AS DOUBLE) * sum(p.x * e.w)
      FROM kz p JOIN en2 e ON p.v = e.src
      WHERE p.it < {_KATZ_ITERS}
      GROUP BY 1, 2
    )
    SELECT v AS vid,
           cast(floor(x * 1000000000 + 0.5) AS BIGINT) AS score_nano
    FROM kz WHERE it = {_KATZ_ITERS}
    """,
)
def corpus_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (fixed 8 synchronous rounds, alpha=0.001,
    beta=1) on the distinct directed citation graph — attenuated
    walk-count prestige, the bibliometric ancestor of the PageRank the
    reference proxies through citation counts
    (serp_fetch_citations.py:223-227). Oracle is a recursive CTE
    running the IDENTICAL schedule (same self-loop device as the
    PageRank oracle); scores floored at 1e-9 per the PageRank
    determinism contract."""
    ranks = katz_centrality(
        _dedges(spark),
        alpha=_KATZ_ALPHA,
        beta=1.0,
        max_iter=_KATZ_ITERS,
    )
    return ranks.select(
        "vid",
        F.floor(F.col("score") * 1000000000 + F.lit(0.5))
        .cast("long")
        .alias("score_nano"),
    )


# --------------------------------------------------------------------------
@register(
    "corpus_eigenvector",
    oracle=f"""
    WITH RECURSIVE {_CORPUS_CTE},
    evv AS (SELECT DISTINCT src AS vid FROM csym),
    evsym AS (SELECT src, dst FROM csym
              UNION ALL SELECT vid, vid FROM evv),
    ev(it, v, x) AS (
      SELECT 0, vid, CAST(1000000 AS BIGINT) FROM evv
      UNION ALL
      SELECT z.it, z.v,
             CAST(z.y * 1000000 // max(z.y) OVER () AS BIGINT)
      FROM (
        SELECT w.it + 1 AS it, s.src AS v, sum(w.x) AS y
        FROM ev w JOIN evsym s ON w.v = s.dst
        WHERE w.it < {_EV_ITERS}
        GROUP BY 1, 2
      ) z
    )
    SELECT v AS vid, x AS score_ppm FROM ev WHERE it = {_EV_ITERS}
    """,
)
def corpus_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality on the undirected citation graph —
    Bonacich prestige, the family the reference proxies through
    citation counts; 10 rounds of the shifted (A + I) integer power
    iteration (graph/eigenvector.py), replayed bit-exactly by the
    recursive-CTE oracle. The oracle's vertex set is edge-derived
    (evv), exactly like the kernel's — a citation-isolated document
    has no eigenvector score in either engine."""
    _, edges = corpus_tables(spark)
    return eigenvector_centrality(
        edges.select("src", "dst"), max_iter=_EV_ITERS
    )


# --------------------------------------------------------------------------
@register(
    "corpus_h_index",
    oracle=f"""
    WITH {_CORPUS_CTE},
    ced AS (SELECT DISTINCT src, dst FROM cedges),
    cites AS (SELECT dst AS vid, count(*) AS cites FROM ced GROUP BY dst),
    percited AS (
      SELECT v.repo, v.vid, coalesce(c.cites, 0) AS cites
      FROM verts v LEFT JOIN cites c ON v.vid = c.vid
    ),
    ranked AS (
      SELECT repo, cites,
             row_number() OVER (
               PARTITION BY repo ORDER BY cites DESC, vid
             ) AS rn
      FROM percited
    )
    SELECT repo,
           max(CASE WHEN cites >= rn THEN rn ELSE 0 END) AS h_index
    FROM ranked GROUP BY repo
    """,
)
def corpus_h_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-repo h-index over in-citation counts: the largest h such
    that the repo has >= h documents with >= h citations each — the
    exact aggregate the reference computes per author from its
    gathered citation counts (combine_serp.py:226 carries ``cited_by``
    onto articles; gather_authors.py groups them by author). Exact
    integers end-to-end; one count shuffle + one per-repo window."""
    vertices, _ = corpus_tables(spark)
    e = _dedges(spark)
    cites = e.groupBy(F.col("dst").alias("cvid")).agg(
        F.count(F.lit(1)).alias("cites")
    )
    percited = (
        vertices.select("repo", "vid")
        .join(cites, F.col("vid") == F.col("cvid"), "left")
        .select(
            "repo", "vid", F.coalesce("cites", F.lit(0)).alias("cites")
        )
    )
    w = Window.partitionBy("repo").orderBy(
        F.desc("cites"), F.asc("vid")
    )
    return (
        percited.withColumn("rn", F.row_number().over(w))
        .groupBy("repo")
        .agg(
            F.max(
                F.when(F.col("cites") >= F.col("rn"), F.col("rn")).otherwise(
                    F.lit(0)
                )
            ).alias("h_index")
        )
    )


# --------------------------------------------------------------------------
@register(
    "corpus_self_citation",
    oracle=f"""
    WITH {_CORPUS_CTE},
    ced AS (SELECT DISTINCT src, dst FROM cedges)
    SELECT s.repo AS repo,
           count(*) AS out_edges,
           CAST(sum(CASE WHEN s.repo = t.repo THEN 1 ELSE 0 END)
                AS BIGINT) AS internal,
           CAST((1000000 * sum(CASE WHEN s.repo = t.repo THEN 1 ELSE 0 END))
             // count(*) AS BIGINT) AS ratio_micro
    FROM ced e JOIN verts s ON e.src = s.vid
               JOIN verts t ON e.dst = t.vid
    GROUP BY 1
    """,
)
def corpus_self_citation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-repo self-citation rate: share of a repo's outgoing
    citation links that stay inside the repo — the group-level
    self-citation analysis the reference's affiliation extraction
    feeds (extract_affiliations_from_papers.py). Exact integer counts
    + micro-quantized ratio; two vertex joins (broadcast-size dim) and
    one group shuffle."""
    vertices, _ = corpus_tables(spark)
    vdim = vertices.select("vid", "repo")
    e = _dedges(spark)
    return (
        e.join(
            F.broadcast(
                vdim.select(
                    F.col("vid").alias("src"), F.col("repo").alias("srepo")
                )
            ),
            "src",
        )
        .join(
            F.broadcast(
                vdim.select(
                    F.col("vid").alias("dst"), F.col("repo").alias("trepo")
                )
            ),
            "dst",
        )
        .groupBy(F.col("srepo").alias("repo"))
        .agg(
            F.count(F.lit(1)).alias("out_edges"),
            F.sum(
                F.when(F.col("srepo") == F.col("trepo"), 1).otherwise(0)
            ).alias("internal"),
        )
        .withColumn(
            "ratio_micro", F.expr("(1000000 * internal) div out_edges")
        )
    )


# --------------------------------------------------------------------------
@register(
    "corpus_scc",
    oracle=f"""
    WITH RECURSIVE {_CORPUS_CTE},
    ced AS (SELECT DISTINCT src, dst FROM cedges),
    reach(v, w) AS (
      SELECT src, dst FROM ced
      UNION
      SELECT r.v, e.dst FROM reach r JOIN ced e ON r.w = e.src
    ),
    mutual AS (
      SELECT a.v AS v, a.w AS w
      FROM reach a JOIN reach b ON a.v = b.w AND a.w = b.v
    )
    SELECT vt.vid, greatest(vt.vid, coalesce(max(m.w), vt.vid)) AS scc
    FROM verts vt LEFT JOIN mutual m ON vt.vid = m.v
    GROUP BY vt.vid
    """,
)
def corpus_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the citation graph
    (graph/scc.py forward-backward coloring): scc = max vid in the
    component. Module-citation graphs are cyclic (mutual includes give
    the corpus a giant SCC), and the SCC condensation is the
    prerequisite for any DAG-shaped citation analysis. Oracle: the
    full transitive closure as a recursive CTE, mutual-reachability
    join, max partner per vertex — a completely independent derivation
    of the same partition."""
    vertices, edges = corpus_tables(spark)
    return strongly_connected_components(
        edges.select("src", "dst"), vertices.select("vid")
    )


# --------------------------------------------------------------------------
def cocitation_counts(edges: DataFrame) -> DataFrame:
    """Unthresholded co-citation pair counts ``(a, b, cocite_count)``
    with a < b — the materialized-view STATE the incremental
    maintenance below updates (the registered query is this plus the
    ``>= 2`` serving threshold; thresholding must happen at serve
    time, not in the state, or deltas could not decrement through the
    threshold)."""
    e1 = edges.select(F.col("src").alias("s"), F.col("dst").alias("a"))
    e2 = edges.select(F.col("src").alias("s"), F.col("dst").alias("b"))
    return (
        e1.join(e2, "s")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cocite_count"))
    )


def incremental_cocitation(
    old_counts: DataFrame, old_edges: DataFrame, new_edges: DataFrame
) -> DataFrame:
    """Maintain the co-citation pair-count view under an edge append
    WITHOUT recomputing the full wedge self-join.

    Per-citing-doc additivity: cocite_count(a, b) = Σ_s [s cites both],
    so only docs that gained edges ("touched") can change any pair's
    count.  Delta = (touched docs' wedge counts over old ∪ new edges)
    − (touched docs' wedge counts over old edges); everything else is
    carried from ``old_counts`` unchanged.  At scale this bills
    O(Σ_{s touched} deg(s)²) instead of O(Σ_all deg(s)²) — the whole
    point of keeping the view.  Exactly equal to the batch recompute
    (pinned by tests/test_bibliometrics.py and the shared DuckDB
    oracle of ``corpus_cocitation_incremental``)."""
    touched = new_edges.select("src").distinct()
    all_edges = (
        old_edges.select("src", "dst")
        .unionByName(new_edges.select("src", "dst"))
        .distinct()
    )
    plus = cocitation_counts(
        all_edges.join(touched, "src", "left_semi")
    ).withColumnRenamed("cocite_count", "plus")
    minus = cocitation_counts(
        old_edges.join(touched, "src", "left_semi")
    ).withColumnRenamed("cocite_count", "minus")
    delta = plus.join(minus, ["a", "b"], "full").select(
        "a",
        "b",
        (
            F.coalesce(F.col("plus"), F.lit(0))
            - F.coalesce(F.col("minus"), F.lit(0))
        ).alias("d"),
    )
    return (
        old_counts.join(delta, ["a", "b"], "full")
        .select(
            "a",
            "b",
            (
                F.coalesce(F.col("cocite_count"), F.lit(0))
                + F.coalesce(F.col("d"), F.lit(0))
            ).alias("cocite_count"),
        )
        .filter(F.col("cocite_count") > 0)
    )


@register(
    "corpus_cocitation_incremental",
    oracle=f"""
    WITH {_CORPUS_CTE},
    ced AS (SELECT DISTINCT src, dst FROM cedges)
    SELECT e1.dst AS a, e2.dst AS b, count(*) AS cocite_count
    FROM ced e1 JOIN ced e2 ON e1.src = e2.src AND e1.dst < e2.dst
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def corpus_cocitation_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The co-citation view maintained INCREMENTALLY and checked
    against the batch oracle: the citation edges are split by a
    deterministic hash of the citing doc (≈10% of citing docs play the
    appended batch), the view is materialized over the old 90%, the
    delta is applied for the touched docs only — and the served result
    must hash-equal the full batch wedge join (same oracle SQL as
    ``corpus_cocitation``). This is the maintenance path a stored
    100 TB co-citation view takes on every ingest tick instead of an
    O(Σ deg²) recompute."""
    e = _dedges(spark)
    is_new = F.pmod(F.col("src"), F.lit(10)) == 0
    old_edges = e.filter(~is_new).localCheckpoint()
    new_edges = e.filter(is_new).localCheckpoint()
    old_counts = cocitation_counts(old_edges).localCheckpoint()
    return incremental_cocitation(old_counts, old_edges, new_edges).filter(
        F.col("cocite_count") >= 2
    )


# --------------------------------------------------------------------------
@register(
    "corpus_link_predict_cn",
    oracle=f"""
    WITH {_CORPUS_CTE},
    deg AS (SELECT src AS v, count(*) AS degree FROM csym GROUP BY src),
    wedge AS (
      SELECT x1.dst AS a, x2.dst AS b, count(*) AS cn
      FROM csym x1 JOIN csym x2 ON x1.src = x2.src AND x1.dst < x2.dst
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    scored AS (
      SELECT w.a, w.b, w.cn,
             da.degree * db.degree AS pa,
             (1000000 * w.cn * w.cn) // (da.degree * db.degree)
               AS salton2_micro
      FROM wedge w JOIN deg da ON w.a = da.v
                   JOIN deg db ON w.b = db.v
    )
    SELECT s.a, s.b, s.cn, s.pa, s.salton2_micro
    FROM scored s
    WHERE NOT EXISTS (
      SELECT 1 FROM csym c WHERE c.src = s.a AND c.dst = s.b
    )
    """,
)
def corpus_link_predict_cn(
    spark: SparkSession, sf_dir: str, max_degree: int | None = None
) -> DataFrame:
    """Exact-integer link-prediction score family (Liben-Nowell &
    Kleinberg 2003) for non-adjacent pairs with >= 2 common neighbors:
    common-neighbor count, preferential attachment deg(a)*deg(b), and
    the squared Salton cosine cn^2/(deg_a*deg_b) micro-quantized via
    integer division — the float-free counterpart of the classic
    cn/sqrt(deg_a*deg_b), monotone-identical for ranking. Completes
    the predictor family next to ``corpus_link_predict_ra`` (the
    1/deg-weighted member); Adamic-Adar is intentionally not
    registered — its 1/ln(deg) weight cannot cross the engine hash
    exactly, and RA dominates it on the same wedge plan (Zhou, Lu,
    Zhang 2009). Same wedge self-join + degree joins + anti-join
    shapes already pinned by the bibliometric plan regressions.
    ``max_degree`` (opt-in) caps the wedge-center adjacency before the
    self-join (degrees/anti-join stay exact); None = exact."""
    sym = undirect(_dedges(spark)).localCheckpoint()
    deg = sym.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    wsrc = cap_adjacency(sym, "src", max_degree)
    w1 = wsrc.select(F.col("src").alias("z"), F.col("dst").alias("a"))
    w2 = wsrc.select(F.col("src").alias("z"), F.col("dst").alias("b"))
    wedge = (
        w1.join(w2, "z")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cn"))
        .filter(F.col("cn") >= 2)
    )
    da = deg.select(F.col("v").alias("a"), F.col("degree").alias("dega"))
    db = deg.select(F.col("v").alias("b"), F.col("degree").alias("degb"))
    scored = (
        wedge.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "cn",
            (F.col("dega") * F.col("degb")).alias("pa"),
            F.expr("(1000000 * cn * cn) div (dega * degb)").alias(
                "salton2_micro"
            ),
        )
    )
    adj = sym.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    return scored.join(adj, ["a", "b"], "left_anti")


# --------------------------------------------------------------------------
@register(
    "corpus_densest_subgraph",
    oracle=f"""
    WITH RECURSIVE {_CORPUS_CTE},
    peel(it, src, dst) AS (
      SELECT 1, src, dst FROM csym
      UNION ALL
      SELECT it + 1, src, dst FROM (
        SELECT *, sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) OVER () AS nv
        FROM (
          SELECT *, count(*) OVER (PARTITION BY src) AS dsrc,
                    count(*) OVER (PARTITION BY dst) AS ddst,
                    count(*) OVER () AS esym,
                    row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
          FROM peel WHERE it < 100
        ) q
      ) q2
      WHERE 10 * dsrc * nv > 11 * esym AND 10 * ddst * nv > 11 * esym
    ),
    m AS (
      SELECT it AS round, count(DISTINCT src) AS n_vertices,
             count(*) // 2 AS n_edges,
             (1000000 * (count(*) // 2)) // count(DISTINCT src)
               AS density_micro
      FROM peel GROUP BY it
    ),
    best AS (SELECT min(round) AS br FROM m
             WHERE density_micro = (SELECT max(density_micro) FROM m))
    SELECT CAST(round AS BIGINT) AS round, n_vertices, n_edges,
           density_micro,
           CAST(CASE WHEN round = (SELECT br FROM best) THEN 1 ELSE 0 END
                AS BIGINT) AS is_best
    FROM m
    """,
)
def corpus_densest_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel densest-subgraph peel (Bahmani, Kumar, Vassilvitskii
    2012; 2(1+eps)-approx of Charikar's max |E|/|V|, eps=0.1) on the
    undirected citation graph: per-round survivor metrics with the
    best-density round flagged — the round whose entering survivor set
    IS the approximate densest core (graph/densest.py serves that set
    via densest_subgraph_vertices). The densest core of a citation
    corpus is its mutually-citing nucleus — the reference ranks that
    nucleus indirectly through citation counts; this serves it as a
    first-class structural result. Oracle: the identical synchronous
    schedule as a recursive CTE over the symmetric edge state, all
    thresholds pure int64."""
    return densest_subgraph_rounds(_dedges(spark), max_iter=100)


# --------------------------------------------------------------------------
@register(
    "corpus_g_index",
    oracle=f"""
    WITH {_CORPUS_CTE},
    ced AS (SELECT DISTINCT src, dst FROM cedges),
    cites AS (SELECT dst AS vid, count(*) AS cites FROM ced GROUP BY dst),
    percited AS (
      SELECT v.repo, v.vid, coalesce(c.cites, 0) AS cites
      FROM verts v LEFT JOIN cites c ON v.vid = c.vid
    ),
    ranked AS (
      SELECT repo, cites,
             row_number() OVER (
               PARTITION BY repo ORDER BY cites DESC, vid
             ) AS rn,
             cast(sum(cites) OVER (
               PARTITION BY repo ORDER BY cites DESC, vid
             ) AS BIGINT) AS cum
      FROM percited
    )
    SELECT repo,
           max(CASE WHEN cum >= rn * rn THEN rn ELSE 0 END) AS g_index
    FROM ranked GROUP BY repo
    """,
)
def corpus_g_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-repo g-index (Egghe 2006): the largest g such that the
    repo's g most-cited documents total >= g² citations — the
    heavy-tail-sensitive companion to corpus_h_index (same grouping
    the reference's gather_authors.py applies to its cited_by counts).
    Exact integers; one count shuffle + one per-repo window cumsum."""
    vertices, _ = corpus_tables(spark)
    e = _dedges(spark)
    cites = e.groupBy(F.col("dst").alias("cvid")).agg(
        F.count(F.lit(1)).alias("cites")
    )
    percited = (
        vertices.select("repo", "vid")
        .join(cites, F.col("vid") == F.col("cvid"), "left")
        .select("repo", "vid", F.coalesce("cites", F.lit(0)).alias("cites"))
    )
    w = Window.partitionBy("repo").orderBy(F.desc("cites"), F.asc("vid"))
    return (
        percited.withColumn("rn", F.row_number().over(w))
        .withColumn("cum", F.sum("cites").over(w))
        .groupBy("repo")
        .agg(
            F.max(
                F.when(
                    F.col("cum") >= F.col("rn") * F.col("rn"), F.col("rn")
                ).otherwise(F.lit(0))
            ).alias("g_index")
        )
    )


# --------------------------------------------------------------------------
@register(
    "corpus_reciprocity",
    oracle=f"""
    WITH {_CORPUS_CTE},
    ced AS (SELECT DISTINCT src, dst FROM cedges),
    r AS (
      SELECT count(*) AS recip
      FROM ced a JOIN ced b ON a.src = b.dst AND a.dst = b.src
    ),
    t AS (SELECT count(*) AS m FROM ced)
    SELECT t.m AS n_edges,
           r.recip AS n_reciprocated,
           CAST(CASE WHEN t.m > 0 THEN 1000000 * r.recip // t.m
                     ELSE 0 END AS BIGINT) AS reciprocity_micro
    FROM t CROSS JOIN r
    """,
)
def corpus_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge reciprocity of the directed citation graph: the fraction
    of distinct citation edges whose reverse edge also exists (mutual
    reference between two source files) — exact integers via one
    reversed-key self-join. Citation networks are near-acyclic, so a
    high value flags circular-include structure worth surfacing."""
    _, edges = corpus_tables(spark)
    ced = edges.select("src", "dst").distinct()
    rev = ced.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = ced.join(rev, ["src", "dst"], "left_semi").count()
    m = ced.count()
    return edges.sparkSession.createDataFrame(
        [
            (
                m,
                recip,
                (1000000 * recip) // m if m > 0 else 0,
            )
        ],
        "n_edges long, n_reciprocated long, reciprocity_micro long",
    )
