"""Graph queries — the engine's kernels cross-validated against SQL oracles.

Two graph sources:

1. **Driver-table graph** (oracle-checked): parts co-ordered within the
   same order AND sharing a brand form an undirected edge set — the
   J11 wedge pattern (perspective 'Find coauthors of $person_name')
   materialized as a real graph. Because edges never cross brands the
   graph is disconnected by construction, which gives connected
   components something to find. Over this graph the four north-rule
   kernels (degrees/PageRank/CC/LP/triangles) run through
   ``citation_graph_spark.graph`` and are checked against DuckDB
   oracles — PageRank and LP as recursive CTEs with a fixed round
   count, CC as a reachability closure, triangles as the canonical
   triple join.

2. **Synthesized corpus** (rows-only): the BASELINE.json-mandated
   ``documents(repo, path, commit, lang, content)`` table from
   fixtures.corpus, run through the full pipeline — vectorized edge
   extraction → dense ids → kernels. Not single-SQL-expressible (the
   corpus lives outside DuckDB's view registry); exact-correctness is
   covered by the pytest oracles (tests/oracles.py: numpy power
   iteration, union-find, sequential LP, exact triangle enumeration).

Determinism notes for the oracle-checked kernels: PageRank runs a FIXED
20 rounds (tol=0) on both engines; float divergence from summation
order is ~1e-15 while scores are floored at 1e-9 granularity. CC/LP/
triangles are exact integer results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from citation_graph_spark.fixtures.corpus import (
    corpus_parquet_path,
    ensure_corpus_parquet,
    generate_documents,
)
from citation_graph_spark.graph import (
    bfs_distances,
    bfs_per_source,
    betweenness_sampled,
    edge_betweenness_sampled,
    connected_components,
    eigenvector_centrality,
    hits,
    k_core,
    k_truss,
    label_propagation,
    pagerank,
    personalized_pagerank,
    sssp,
    triangle_counts,
    undirect,
    widest_paths,
)
from citation_graph_spark.graph.ids import build_vertices
from citation_graph_spark.graph.spectral import (
    FIEDLER_SAFE_SPREAD,
    FIEDLER_SHIFT,
)
from citation_graph_spark.graph.traversal import _WIDEST_INF
from citation_graph_spark.extraction import build_edges
from citation_graph_spark.operators import register
from citation_graph_spark.tables import load_tables

# shared CTE: the same-brand co-order part graph
_GRAPH_CTE = """
    items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem),
    wb AS (SELECT okey, pk, p_brand AS brand
           FROM items JOIN part ON pk = p_partkey),
    edges AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
              FROM wb a JOIN wb b
                ON a.okey = b.okey AND a.brand = b.brand AND a.pk < b.pk),
    sym AS (SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)),
    verts AS (SELECT DISTINCT src AS vid FROM sym)
"""

_PR_ITERS = 20
_LP_ITERS = 5


def part_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (src < dst) undirected edge set of the same-brand
    co-order part graph, weight 1.0."""
    t = load_tables(spark, sf_dir)
    items = t["lineitem"].select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pk")
    ).distinct()
    wb = items.join(
        F.broadcast(t["part"].select("p_partkey", "p_brand")),
        F.col("pk") == F.col("p_partkey"),
    ).select("okey", "pk", F.col("p_brand").alias("brand"))
    a = wb.select("okey", "brand", F.col("pk").alias("src"))
    b = wb.select("okey", "brand", F.col("pk").alias("dst"))
    return (
        a.join(b, ["okey", "brand"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )


# --------------------------------------------------------------------------
@register(
    "graph_part_degrees",
    oracle=f"""
    WITH {_GRAPH_CTE}
    SELECT src AS vid, count(*) AS degree FROM sym GROUP BY src
    """,
)
def graph_part_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree family (reference A1/A2, neo4j/loader.py:359-444) over
    the part graph via the engine's undirected closure."""
    edges = part_graph_edges(spark, sf_dir)
    return undirect(edges).groupBy(F.col("src").alias("vid")).agg(
        F.count(F.lit(1)).alias("degree")
    )


# --------------------------------------------------------------------------
@register(
    "graph_part_components",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTE},
    reach(v, l) AS (
      SELECT vid, vid FROM verts
      UNION
      SELECT s.dst, reach.l FROM reach JOIN sym s ON reach.v = s.src
    )
    SELECT v AS vid, min(l) AS component FROM reach GROUP BY v
    """,
)
def graph_part_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (north rule: min-label exchange to
    fixpoint) vs a reachability-closure SQL oracle."""
    edges = part_graph_edges(spark, sf_dir)
    return connected_components(edges)


# --------------------------------------------------------------------------
@register(
    "graph_part_triangles",
    oracle=f"""
    WITH {_GRAPH_CTE},
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM edges e1
        JOIN edges e2 ON e2.src = e1.dst
        JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    corners AS (
      SELECT a AS vid FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT v.vid, coalesce(t.n, 0) AS n_triangles
    FROM verts v LEFT JOIN
      (SELECT vid, count(*) AS n FROM corners GROUP BY vid) t USING (vid)
    """,
)
def graph_part_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts (degree-oriented wedge join, the J11
    coauthor pattern closed into triangles) vs the canonical triple-join
    oracle."""
    edges = part_graph_edges(spark, sf_dir)
    verts = (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    return triangle_counts(edges, vertices=verts)


# --------------------------------------------------------------------------
@register(
    "graph_part_pagerank",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTE},
    deg AS (SELECT src AS v, count(*) AS d FROM sym GROUP BY src),
    nv AS (SELECT count(*) AS n FROM verts),
    pr(it, v, r) AS (
      SELECT 0, vid, 1.0 / (SELECT n FROM nv) FROM verts
      UNION ALL
      SELECT it, v, r FROM (
        SELECT m.it + 1 AS it, m.dst AS v,
               (1.0 - 0.85) / (SELECT n FROM nv) + 0.85 * sum(m.r / m.d) AS r
        FROM (
          SELECT pr.it, s.dst, pr.r, deg.d
          FROM pr JOIN sym s ON pr.v = s.src JOIN deg ON pr.v = deg.v
          WHERE pr.it < {_PR_ITERS}
        ) m
        GROUP BY m.it + 1, m.dst
      )
    )
    SELECT v AS vid, cast(floor(r * 1000000000 + 0.5) AS BIGINT) AS score_nano
    FROM pr WHERE it = {_PR_ITERS}
    """,
)
def graph_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, fixed 20 synchronous rounds (tol=0 → no early exit)
    on the symmetric part graph, vs a recursive-CTE power-iteration
    oracle. Scores floored at 1e-9 — engine/oracle float divergence is
    ~1e-15 (identical IEEE ops, different summation order only)."""
    edges = part_graph_edges(spark, sf_dir)
    sym = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .withColumn("weight", F.lit(1.0))
    )
    ranks = pagerank(sym, alpha=0.85, tol=0.0, max_iter=_PR_ITERS)
    return ranks.select(
        "vid",
        F.floor(F.col("score") * 1000000000 + F.lit(0.5))
        .cast("long")
        .alias("score_nano"),
    )


# --------------------------------------------------------------------------
@register(
    "graph_part_label_prop",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTE},
    lab(it, v, l) AS (
      SELECT 0, vid, vid FROM verts
      UNION ALL
      SELECT it, v, l FROM (
        SELECT x.it + 1 AS it, x.dst AS v, x.nl AS l,
               row_number() OVER (PARTITION BY x.it, x.dst
                                  ORDER BY x.c DESC, x.nl) AS rn
        FROM (
          SELECT lab.it, s.dst, lab.l AS nl, count(*) AS c
          FROM lab JOIN sym s ON lab.v = s.src
          WHERE lab.it < {_LP_ITERS}
          GROUP BY lab.it, s.dst, lab.l
        ) x
      ) WHERE rn = 1
    )
    SELECT v AS vid, l AS label FROM lab WHERE it = {_LP_ITERS}
    """,
)
def graph_part_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation, 5 rounds, mode-of-neighbors with
    min-label tie-break (order-insensitive — SURVEY §7.2(c)), vs a
    recursive-CTE oracle embedding the same window argmax."""
    edges = part_graph_edges(spark, sf_dir)
    return label_propagation(edges, max_iter=_LP_ITERS)


# --------------------------------------------------------------------------
_BFS_ITERS = 8
_PPR_ITERS = 20
# deterministic seed set: every 100th part key present in the graph
_SEED_PRED = "vid % 100 = 0"


@register(
    "graph_part_bfs",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTE},
    walk(v, d) AS (
      SELECT vid, 0 FROM verts WHERE {_SEED_PRED}
      UNION
      SELECT s.dst, walk.d + 1
      FROM walk JOIN sym s ON walk.v = s.src
      WHERE walk.d < {_BFS_ITERS}
    )
    SELECT v AS vid, cast(min(d) AS INT) AS dist FROM walk GROUP BY v
    """,
)
def graph_part_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance from the every-100th-part seed set
    (Bloom's neighborhood-expansion scene actions generalized to the
    full reachability table), capped at 8 rounds on both engines, vs
    a recursive-CTE min-distance closure."""
    edges = part_graph_edges(spark, sf_dir)
    verts = (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    seeds = verts.filter(F.col("vid") % 100 == 0)
    return bfs_distances(edges, seeds, max_iter=_BFS_ITERS)


# --------------------------------------------------------------------------
# Shortest-path TRACE — not just the distance table but the actual
# path, reconstructed: s = min vid, t = max vid reachable from s
# within the round cap; parent(v) = min-vid predecessor on a shortest
# path (deterministic, so the path is unique and the gate hash exact).
# The reconstruction is the serving feature behind "how is paper X
# connected to paper Y" (reference serves hops via Cypher shortestPath,
# neo4j/queries.py); here it is parent-pointer backtracking — ≤cap
# single-row joins against the parent table, no driver loop over rows.
@register(
    "graph_part_path_trace",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTE},
    sseed AS (SELECT min(vid) AS s FROM verts),
    walk(v, d) AS (
      SELECT s, 0 FROM sseed
      UNION
      SELECT sym.dst, walk.d + 1
      FROM walk JOIN sym ON walk.v = sym.src
      WHERE walk.d < {_BFS_ITERS}
    ),
    dist AS (SELECT v, min(d) AS d FROM walk GROUP BY v),
    tgt AS (SELECT max(v) AS t FROM dist),
    parent AS (
      SELECT dv.v AS v, min(du.v) AS p
      FROM dist dv
        JOIN sym ON sym.dst = dv.v
        JOIN dist du ON du.v = sym.src AND du.d = dv.d - 1
      GROUP BY dv.v
    ),
    trace(step, vid) AS (
      SELECT d.d, tgt.t FROM tgt JOIN dist d ON d.v = tgt.t
      UNION ALL
      SELECT tr.step - 1, p.p
      FROM trace tr JOIN parent p ON p.v = tr.vid
      WHERE tr.step > 0
    )
    SELECT cast(step AS INT) AS step, vid FROM trace
    """,
)
def graph_part_path_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One reconstructed shortest path: from the min-vid part to the
    max-vid part reachable within {_BFS_ITERS} hops, walking min-vid
    parent pointers. Returns (step, vid) with step = hop distance from
    the source — row step=0 is the source, the max step the target."""
    edges = part_graph_edges(spark, sf_dir)
    verts = undirect(edges).select(F.col("src").alias("vid")).distinct()
    s_vid = verts.agg(F.min("vid")).first()[0]
    dist = bfs_distances(
        edges, verts.filter(F.col("vid") == s_vid), max_iter=_BFS_ITERS
    ).localCheckpoint(eager=True)
    t_row = dist.agg(
        F.max("vid").alias("t")
    ).join(dist, F.col("t") == F.col("vid")).select("t", "dist").first()
    t_vid, t_dist = t_row["t"], t_row["dist"]

    sym = undirect(edges)
    parent = (
        dist.alias("dv")
        .join(sym, F.col("dv.vid") == sym["dst"])
        .join(
            dist.alias("du"),
            (F.col("du.vid") == sym["src"])
            & (F.col("du.dist") == F.col("dv.dist") - 1),
        )
        .groupBy(F.col("dv.vid").alias("v"))
        .agg(F.min(F.col("du.vid")).alias("p"))
        .localCheckpoint(eager=True)
    )
    rows = spark.createDataFrame(
        [(int(t_dist), int(t_vid))], "step int, vid long"
    )
    out = rows
    cur = rows
    for _ in range(int(t_dist)):
        cur = (
            cur.join(parent, cur["vid"] == parent["v"])
            .select(
                (F.col("step") - 1).cast("int").alias("step"),
                F.col("p").alias("vid"),
            )
        )
        out = out.unionByName(cur)
    return out


@register(
    "graph_part_ppr",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTE},
    deg AS (SELECT src AS v, count(*) AS d FROM sym GROUP BY src),
    sv AS (
      SELECT vid,
             CASE WHEN {_SEED_PRED}
                  THEN 1.0 / (SELECT count(*) FROM verts WHERE {_SEED_PRED})
                  ELSE 0.0 END AS s
      FROM verts
    ),
    ppr(it, v, r) AS (
      SELECT 0, vid, s FROM sv
      UNION ALL
      SELECT it, v, r FROM (
        SELECT m.it + 1 AS it, m.dst AS v,
               (1.0 - 0.85) * max(m.sdst) + 0.85 * sum(m.r / m.d) AS r
        FROM (
          SELECT ppr.it, s.dst, ppr.r, deg.d, sv2.s AS sdst
          FROM ppr
            JOIN sym s ON ppr.v = s.src
            JOIN deg ON ppr.v = deg.v
            JOIN sv sv2 ON s.dst = sv2.vid
          WHERE ppr.it < {_PPR_ITERS}
        ) m
        GROUP BY m.it + 1, m.dst
      )
    )
    SELECT v AS vid, cast(floor(r * 1000000000 + 0.5) AS BIGINT) AS score_nano
    FROM ppr WHERE it = {_PPR_ITERS}
    """,
)
def graph_part_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (teleport restricted to the seed set),
    fixed 20 synchronous rounds, vs a recursive-CTE oracle carrying
    the per-vertex teleport vector. Same 1e-9 flooring posture as the
    global kernel. Every vertex in the symmetric part graph has
    out-edges, so the engine's dangling branch is exercised separately
    in pytest."""
    edges = part_graph_edges(spark, sf_dir)
    sym = (
        edges.select("src", "dst")
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .withColumn("weight", F.lit(1.0))
    )
    verts = sym.select(F.col("src").alias("vid")).distinct()
    seeds = verts.filter(F.col("vid") % 100 == 0)
    ranks = personalized_pagerank(sym, seeds, alpha=0.85, max_iter=_PPR_ITERS)
    return ranks.select(
        "vid",
        F.floor(F.col("score") * 1000000000 + F.lit(0.5))
        .cast("long")
        .alias("score_nano"),
    )


# --------------------------------------------------------------------------
# k=3 converges in ≤7 synchronous peels at the gate scales and leaves
# a nontrivial core (sf0.01: 1543 of 1978 vertices; k=5 peels to empty)
_KCORE_K = 3
_KCORE_ITERS = 10


@register(
    "graph_part_kcore",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTE},
    symx AS (
      SELECT src, dst, false AS is_self FROM sym
      UNION ALL
      SELECT vid, vid, true FROM verts
    ),
    kc(it, v, alive) AS (
      SELECT 0, vid, true FROM verts
      UNION ALL
      SELECT it, v, alive FROM (
        SELECT a.it + 1 AS it, s.dst AS v,
               max(CASE WHEN s.is_self AND a.alive THEN 1 ELSE 0 END) = 1
               AND sum(CASE WHEN NOT s.is_self AND a.alive
                            THEN 1 ELSE 0 END) >= {_KCORE_K} AS alive
        FROM kc a JOIN symx s ON a.v = s.src
        WHERE a.it < {_KCORE_ITERS}
        GROUP BY a.it + 1, s.dst
      )
    )
    SELECT v AS vid FROM kc WHERE it = {_KCORE_ITERS} AND alive
    """,
)
def graph_part_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the part graph via synchronous peeling, capped at
    10 rounds on both engines (the oracle carries per-vertex alive
    flags through a recursive CTE with self-messages so one recursive
    reference suffices). The engine breaks early at the fixpoint;
    post-fixpoint oracle rounds are no-ops, so the capped states
    agree."""
    edges = part_graph_edges(spark, sf_dir)
    return k_core(edges, k=_KCORE_K, max_iter=_KCORE_ITERS)


# --------------------------------------------------------------------------
_KTRUSS_K = 4
_KTRUSS_ITERS = 8


def _ktruss_oracle(k: int, rounds: int) -> str:
    """Unrolled synchronous-peel SQL: plain (non-recursive) CTE chain,
    one support computation + threshold filter per round — a peel
    round needs THREE references to the previous edge set (edge +
    both wedge arms), which a single-self-reference recursive CTE
    cannot express, so the rounds are unrolled instead. The engine
    breaks early at the fixpoint; post-fixpoint rounds are no-ops, so
    the capped states agree (same contract as graph_part_kcore). Both
    engines finish with one support recompute over the final edge
    set, so the reported support is the fixpoint/capped-state support
    either way. Every round CTE is MATERIALIZED: each is referenced
    three times by the next round, and DuckDB's default inlining
    would expand the chain 3^rounds-fold."""
    parts = [
        "e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,\n"
        "               greatest(src, dst) AS b\n"
        "       FROM edges WHERE src <> dst)"
    ]
    for i in range(1, rounds + 1):
        j = i - 1
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT a AS u, b AS v FROM e{j}\n"
            f"         UNION ALL SELECT b, a FROM e{j})"
        )
        parts.append(
            f"sup{i} AS MATERIALIZED (SELECT e.a, e.b, count(*) AS sup\n"
            f"  FROM e{j} e\n"
            f"    JOIN s{i} x ON x.u = e.a\n"
            f"    JOIN s{i} y ON y.u = e.b AND y.v = x.v\n"
            f"  GROUP BY e.a, e.b)"
        )
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT a, b FROM sup{i} WHERE sup >= {k - 2})"
        )
    fin = rounds + 1
    parts.append(
        f"s{fin} AS MATERIALIZED (SELECT a AS u, b AS v FROM e{rounds}\n"
        f"           UNION ALL SELECT b, a FROM e{rounds})"
    )
    parts.append(
        f"sup{fin} AS MATERIALIZED (SELECT e.a, e.b, count(*) AS sup\n"
        f"  FROM e{rounds} e\n"
        f"    JOIN s{fin} x ON x.u = e.a\n"
        f"    JOIN s{fin} y ON y.u = e.b AND y.v = x.v\n"
        f"  GROUP BY e.a, e.b)"
    )
    body = ",\n    ".join(parts)
    return f"""
    WITH {_GRAPH_CTE.strip().rstrip()},
    {body}
    SELECT e.a, e.b, coalesce(s.sup, 0) AS support
    FROM e{rounds} e LEFT JOIN sup{fin} s USING (a, b)
    """


# --------------------------------------------------------------------------
# Minimum spanning forest. The engine runs the distributed Borůvka
# kernel (graph/msf.py — the same kernel that powers the HDBSCAN-class
# density hierarchy, here surfaced as a first-class query); the oracle
# replays Borůvka round-for-round in generated SQL: per round, a
# min-outgoing-edge choice per component (window rank over the
# (w, src, dst) total order — the kernel's exact tie-break) and a
# recursive min-label CC over the chosen edges for the contraction.
# Under a strict total order the MSF is unique (distinct-weights
# argument on the lexicographic perturbation), so kernel and oracle
# must agree edge-for-edge — validated against sequential Kruskal in
# tests/test_msf.py. Weights are 48-bit integers carved from
# md5("src-dst") — deterministic, identical on both engines
# (lang_stratified_sample's cross-engine md5 idiom).


def _msf_oracle(
    rounds: int, graph_cte: str | None = None, we_cte: str | None = None
) -> str:
    """Generated Borůvka-round SQL. ``rounds`` must cover
    ceil(log2(n_vertices)) at the gate scale — components at least
    halve per round, and exhausted rounds are no-ops (x{r} empty →
    labels persist), so overshooting is safe. ``graph_cte`` overrides
    the part-graph CTE with any definition of ``edges``/``verts``
    (tests/test_msf.py pins the generator against sequential Kruskal
    on random graphs through this hook)."""
    if graph_cte is None:
        graph_cte = _GRAPH_CTE
    if we_cte is None:
        we_cte = (
            "we AS MATERIALIZED (SELECT src, dst,\n"
            "  CAST('0x' || substr(md5(src::VARCHAR || '-' || dst::VARCHAR),\n"
            "       1, 12) AS BIGINT) AS w FROM edges)"
        )
    parts = [
        we_cte,
        "c0 AS MATERIALIZED (SELECT vid, vid AS comp FROM verts)",
    ]
    sels = []
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f"x{r} AS MATERIALIZED (\n"
            f"  SELECT ca.comp AS ca, cb.comp AS cb, e.src, e.dst, e.w\n"
            f"  FROM we e JOIN c{p} ca ON ca.vid = e.src\n"
            f"            JOIN c{p} cb ON cb.vid = e.dst\n"
            f"  WHERE ca.comp <> cb.comp)"
        )
        parts.append(
            f"sel{r} AS MATERIALIZED (\n"
            f"  SELECT DISTINCT src, dst, w, ca, cb FROM (\n"
            f"    SELECT src, dst, w, ca, cb,\n"
            f"      row_number() OVER (PARTITION BY mc ORDER BY w, src, dst)\n"
            f"      AS rn\n"
            f"    FROM (SELECT ca AS mc, src, dst, w, ca, cb FROM x{r}\n"
            f"          UNION ALL SELECT cb, src, dst, w, ca, cb FROM x{r})\n"
            f"    t) WHERE rn = 1)"
        )
        parts.append(
            f"sedge{r} AS MATERIALIZED (SELECT ca AS u, cb AS v FROM sel{r}\n"
            f"  UNION ALL SELECT cb, ca FROM sel{r})"
        )
        parts.append(
            f"cc{r}(comp, lbl) AS (\n"
            f"  SELECT comp, comp FROM (SELECT DISTINCT comp FROM c{p}) b\n"
            f"  UNION\n"
            f"  SELECT m.v, l.lbl FROM cc{r} l JOIN sedge{r} m\n"
            f"    ON m.u = l.comp)"
        )
        parts.append(
            f"relab{r} AS MATERIALIZED (SELECT comp, min(lbl) AS newc\n"
            f"  FROM cc{r} GROUP BY comp)"
        )
        parts.append(
            f"c{r} AS MATERIALIZED (SELECT c.vid, r.newc AS comp\n"
            f"  FROM c{p} c JOIN relab{r} r ON r.comp = c.comp)"
        )
        sels.append(f"SELECT src, dst, w FROM sel{r}")
    # loud-failure guard (ADVICE r4): the engine always runs Borůvka
    # to completion, so if any inter-component edge survives the last
    # replayed round the oracle would silently return a PARTIAL forest
    # and the gate would blame the engine. Instead raise inside DuckDB
    # — error() is lazily evaluated, so the arm is free when converged.
    sels.append(
        f"SELECT CAST(error('msf oracle: {rounds} Borůvka rounds "
        f"exhausted before convergence — raise the round count') "
        f"AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)\n"
        f"      FROM (SELECT 1 FROM we e\n"
        f"            JOIN c{rounds} ca ON ca.vid = e.src\n"
        f"            JOIN c{rounds} cb ON cb.vid = e.dst\n"
        f"            WHERE ca.comp <> cb.comp LIMIT 1) unconv"
    )
    body = ",\n    ".join(parts)
    union = "\n      UNION ALL ".join(sels)
    return f"""
    WITH RECURSIVE {graph_cte.strip()},
    {body}
    SELECT DISTINCT src, dst, w FROM ({union}) forest
    """


# covers n≤8192 part-graph vertices (sf0.01: ≤2000). The generated
# SQL carries a loud-failure arm: past 2^13 vertices the oracle raises
# instead of returning a partial forest (ADVICE r4).
_MSF_ROUNDS = 13


@register("graph_part_msf", oracle=_msf_oracle(_MSF_ROUNDS))
def graph_part_msf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum spanning forest of the part graph under deterministic
    48-bit md5 edge weights (graph/msf.py Borůvka; O(log n) rounds,
    components at least halve per round). Returns the forest edges
    (src, dst, w) — per brand-component, |C|−1 edges; unique under the
    (w, src, dst) total order, so the gate hash is exact."""
    from citation_graph_spark.graph.msf import boruvka_msf

    e = part_graph_edges(spark, sf_dir).select("src", "dst")
    ew = e.withColumn(
        "w",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "-",
                        F.col("src").cast("string"),
                        F.col("dst").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long"),
    )
    return boruvka_msf(ew)


# Real-weight variant: the minimum-cost co-order backbone. Weight =
# NEGATED co-order multiplicity with the (w, src, dst) tie-break, so
# the "minimum" forest keeps the STRONGEST ties per component — the
# maximum spanning forest that sharded-similarity/backbone-extraction
# pipelines use (one int64 negation away from the same unique-MSF
# argument; both engines negate identically).
_MSF_W_CTE = """we AS MATERIALIZED (
      SELECT least(a.pk, b.pk) AS src, greatest(a.pk, b.pk) AS dst,
             -count(*) AS w
      FROM wb a JOIN wb b
        ON a.okey = b.okey AND a.brand = b.brand AND a.pk < b.pk
      GROUP BY 1, 2)"""


@register(
    "graph_part_msf_weighted",
    oracle=_msf_oracle(_MSF_ROUNDS, we_cte=_MSF_W_CTE),
)
def graph_part_msf_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-weight spanning forest of the part graph under co-order
    multiplicity (run as a minimum forest on negated weights — the
    kernel's (w, src, dst) total order keeps the forest unique):
    per brand-component, the |C|−1 strongest co-order ties — the
    backbone a similarity-graph sparsifier keeps. Returns
    (src, dst, w) with w the negated multiplicity, matching the
    oracle's convention exactly."""
    from citation_graph_spark.graph.msf import boruvka_msf

    t = load_tables(spark, sf_dir)
    items = t["lineitem"].select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pk")
    ).distinct()
    wb = items.join(
        F.broadcast(t["part"].select("p_partkey", "p_brand")),
        F.col("pk") == F.col("p_partkey"),
    ).select("okey", "pk", F.col("p_brand").alias("brand"))
    a = wb.select("okey", "brand", F.col("pk").alias("src"))
    b = wb.select("okey", "brand", F.col("pk").alias("dst"))
    ew = (
        a.join(b, ["okey", "brand"])
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg((-F.count(F.lit(1))).cast("long").alias("w"))
    )
    return boruvka_msf(ew)


@register("graph_part_ktruss", oracle=_ktruss_oracle(_KTRUSS_K, _KTRUSS_ITERS))
def graph_part_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the part graph via synchronous edge peeling, capped
    at 8 rounds on both engines (graph/ktruss.py). Returns the
    surviving canonical edges with their fixpoint triangle support —
    integer end to end, so cross-engine equality is exact."""
    edges = part_graph_edges(spark, sf_dir)
    return k_truss(edges, k=_KTRUSS_K, max_iter=_KTRUSS_ITERS)


# --------------------------------------------------------------------------
_BC_SOURCES = 8
_BC_ITERS = 10

# shared Brandes forward/backward state (srcs … dep), composed — not
# string-sliced — into the vertex and edge oracles below (ADVICE r4:
# the edge oracle used to be built by rindex-slicing the finished
# vertex SQL, coupling the two through exact whitespace)
_BC_STATE = f"""
    WITH RECURSIVE {_GRAPH_CTE},
    srcs AS (SELECT vid FROM verts ORDER BY vid LIMIT {_BC_SOURCES}),
    symx AS (
      SELECT src, dst, false AS is_self FROM sym
      UNION ALL
      SELECT vid, vid, true FROM verts
    ),
    -- forward: full-state BFS with exact int64 path counts; every
    -- (pivot, vertex) pair carries (dist, sigma) through self-messages
    -- (the kcore-oracle pattern: one recursive reference suffices)
    fwd(it, s, v, dist, sigma) AS (
      SELECT 0, s.vid, v.vid,
             CASE WHEN s.vid = v.vid THEN 0 END,
             CAST(CASE WHEN s.vid = v.vid THEN 1 ELSE 0 END AS BIGINT)
      FROM srcs s CROSS JOIN verts v
      UNION ALL
      SELECT a.it + 1, a.s, m.dst,
        CASE WHEN max(CASE WHEN m.is_self THEN a.dist END) IS NOT NULL
             THEN max(CASE WHEN m.is_self THEN a.dist END)
             WHEN sum(CASE WHEN NOT m.is_self AND a.dist = a.it
                           THEN 1 ELSE 0 END) > 0
             THEN a.it + 1 END,
        CAST(CASE WHEN max(CASE WHEN m.is_self THEN a.dist END) IS NOT NULL
             THEN max(CASE WHEN m.is_self THEN a.sigma END)
             ELSE coalesce(sum(CASE WHEN NOT m.is_self AND a.dist = a.it
                                    THEN a.sigma ELSE 0 END), 0)
             END AS BIGINT)
      FROM fwd a JOIN symx m ON a.v = m.src
      WHERE a.it < {_BC_ITERS}
      GROUP BY a.it + 1, a.s, m.dst
    ),
    f AS (SELECT s, v, dist, sigma FROM fwd
          WHERE it = {_BC_ITERS} AND dist IS NOT NULL),
    lmax AS (SELECT max(dist) AS d FROM f),
    -- backward: iteration jt finalizes global level lmax - jt; all
    -- other rows persist via self-messages. dist/sigma are static
    -- (joined from f), only delta evolves — so one recursive
    -- reference again suffices.
    back(jt, s, v, delta) AS (
      SELECT 0, s, v, CAST(0 AS DOUBLE) FROM f
      UNION ALL
      SELECT b.jt + 1, fv.s, fv.v,
        CAST(CASE WHEN fv.dist = l.d - (b.jt + 1)
             THEN fv.sigma * coalesce(
                    sum(CASE WHEN NOT m.is_self AND fw.dist = fv.dist + 1
                             THEN (1.0 + b.delta) / fw.sigma END), 0)
             ELSE max(CASE WHEN m.is_self THEN b.delta END)
             END AS DOUBLE)
      FROM back b
        JOIN symx m ON m.src = b.v
        JOIN f fw ON fw.s = b.s AND fw.v = b.v
        JOIN f fv ON fv.s = b.s AND fv.v = m.dst
        CROSS JOIN lmax l
      WHERE b.jt < l.d
      GROUP BY b.jt + 1, fv.s, fv.v, fv.dist, fv.sigma, l.d
    ),
    dep AS (
      SELECT v, sum(delta) AS bc FROM back
      WHERE jt = (SELECT max(jt) FROM back) AND v <> s
      GROUP BY v
    )"""

_BETWEENNESS_ORACLE = (
    _BC_STATE
    + """
    SELECT vt.vid,
           CAST(floor(coalesce(d.bc, 0) * 1000000 + 0.5) AS BIGINT)
           AS bc_micro
    FROM verts vt LEFT JOIN dep d ON d.v = vt.vid
    """
)


@register("graph_part_betweenness", oracle=_BETWEENNESS_ORACLE)
def graph_part_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled Brandes betweenness from the 8 smallest-vid pivots,
    BFS capped at 10 levels on both engines (graph/betweenness.py).
    Path counts are exact int64 on both sides; the dependency sum is
    floored to micro-integers (identical per-term formula
    sigma_v · Σ (1+delta_w)/sigma_w on both sides, so the float noise
    is summation order only — ~1e-12 against a 0.5e-6 slack)."""
    edges = part_graph_edges(spark, sf_dir)
    verts = (
        undirect(edges)
        .select(F.col("src").alias("vid"))
        .distinct()
    )
    pivots = verts.orderBy("vid").limit(_BC_SOURCES)
    return betweenness_sampled(edges, pivots, max_iter=_BC_ITERS)


# Girvan–Newman edge betweenness: same recursive forward/backward CTEs
# as the vertex oracle, different final aggregation — the dependency
# routed through DAG edge v→w is sigma_v·(1+delta_w)/sigma_w, summed
# over pivots on the canonical (a<b) undirected edge.
_EDGE_BETWEENNESS_ORACLE = (
    _BC_STATE
    + f"""
    , bfin AS (
      SELECT s, v, delta FROM back WHERE jt = (SELECT max(jt) FROM back)
    ),
    edep AS (
      SELECT least(fv.v, fw.v) AS a, greatest(fv.v, fw.v) AS b,
             sum(fv.sigma * (1.0 + bw.delta) / fw.sigma) AS eb
      FROM sym m
        JOIN f fv ON fv.v = m.src
        JOIN f fw ON fw.s = fv.s AND fw.v = m.dst
                 AND fw.dist = fv.dist + 1
        JOIN bfin bw ON bw.s = fw.s AND bw.v = fw.v
      GROUP BY 1, 2
    )
    SELECT e.src AS a, e.dst AS b,
           CAST(floor(coalesce(d.eb, 0) * 1000000 + 0.5) AS BIGINT)
           AS eb_micro
    FROM edges e LEFT JOIN edep d ON d.a = e.src AND d.b = e.dst
    """
)


@register("graph_part_edge_betweenness", oracle=_EDGE_BETWEENNESS_ORACLE)
def graph_part_edge_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled Girvan–Newman edge betweenness from the same 8 pivots
    and 10-level cap as the vertex score (graph/betweenness.py
    ``edge_betweenness_sampled``): one extra edge join over the shared
    Brandes state, no extra rounds. Scores floored to micro-integers;
    per-term float formula is identical on both engines, so the only
    noise is summation order (~1e-12 vs the 0.5e-6 slack)."""
    edges = part_graph_edges(spark, sf_dir)
    verts = (
        undirect(edges)
        .select(F.col("src").alias("vid"))
        .distinct()
    )
    pivots = verts.orderBy("vid").limit(_BC_SOURCES)
    return edge_betweenness_sampled(edges, pivots, max_iter=_BC_ITERS)


# --------------------------------------------------------------------------
@register(
    "graph_part_clustering_coeff",
    oracle=f"""
    WITH {_GRAPH_CTE},
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM edges e1
        JOIN edges e2 ON e2.src = e1.dst
        JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    corners AS (
      SELECT a AS vid FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ),
    t AS (SELECT vid, count(*) AS n FROM corners GROUP BY vid),
    deg AS (SELECT src AS vid, count(*) AS d FROM sym GROUP BY src)
    SELECT v.vid,
           CASE WHEN deg.d >= 2
                THEN (2 * coalesce(t.n, 0) * 1000000) // (deg.d * (deg.d - 1))
                ELSE cast(0 AS BIGINT) END AS lcc_micro
    FROM verts v
      JOIN deg USING (vid)
      LEFT JOIN t USING (vid)
    """,
)
def graph_part_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient lcc(v) = 2T(v)/(d(v)(d(v)-1)) —
    composed from the engine's triangle and degree kernels. Emitted as
    a floor-divided micro integer: the whole computation is integer
    arithmetic end to end, so cross-engine equality is exact, not
    tolerance-based."""
    edges = part_graph_edges(spark, sf_dir)
    verts = (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    tri = triangle_counts(edges, vertices=verts)
    deg = (
        undirect(edges)
        .groupBy(F.col("src").alias("vid"))
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return (
        verts.join(deg, "vid")
        .join(tri, "vid", "left")
        .select(
            "vid",
            F.when(
                F.col("d") >= 2,
                F.expr(
                    "div(2 * coalesce(n_triangles, 0) * 1000000, d * (d - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("lcc_micro"),
        )
    )


# --------------------------------------------------------------------------
@register(
    "graph_part_label_prop_weighted",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTE},
    wedges AS (
      SELECT a.pk AS src, b.pk AS dst, count(*) AS w
      FROM wb a JOIN wb b
        ON a.okey = b.okey AND a.brand = b.brand AND a.pk < b.pk
      GROUP BY a.pk, b.pk
    ),
    wsym AS (
      SELECT src, dst, w FROM wedges
      UNION ALL SELECT dst, src, w FROM wedges
    ),
    lab(it, v, l) AS (
      SELECT 0, vid, vid FROM verts
      UNION ALL
      SELECT it, v, l FROM (
        SELECT x.it + 1 AS it, x.dst AS v, x.nl AS l,
               row_number() OVER (PARTITION BY x.it, x.dst
                                  ORDER BY x.sw DESC, x.nl) AS rn
        FROM (
          SELECT lab.it, s.dst, lab.l AS nl, sum(s.w) AS sw
          FROM lab JOIN wsym s ON lab.v = s.src
          WHERE lab.it < {_LP_ITERS}
          GROUP BY lab.it, s.dst, lab.l
        ) x
      ) WHERE rn = 1
    )
    SELECT v AS vid, l AS label FROM lab WHERE it = {_LP_ITERS}
    """,
)
def graph_part_label_prop_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted label propagation: a neighbor's vote counts its
    co-order multiplicity (integer-exact BIGINT sums, same
    desc-total/asc-label tie-break), 5 synchronous rounds vs the
    recursive-CTE oracle over the weighted symmetric closure. Weighted
    parity across the kernel family: PageRank and SSSP already consume
    weights; this completes LP."""
    t = load_tables(spark, sf_dir)
    items = t["lineitem"].select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pk")
    ).distinct()
    wb = items.join(
        F.broadcast(t["part"].select("p_partkey", "p_brand")),
        F.col("pk") == F.col("p_partkey"),
    ).select("okey", "pk", F.col("p_brand").alias("brand"))
    a = wb.select("okey", "brand", F.col("pk").alias("src"))
    b = wb.select("okey", "brand", F.col("pk").alias("dst"))
    wedges = (
        a.join(b, ["okey", "brand"])
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    return label_propagation(wedges, max_iter=_LP_ITERS, weighted=True)


# --------------------------------------------------------------------------
@register(
    "graph_part_degree_histogram",
    oracle=f"""
    WITH {_GRAPH_CTE},
    deg AS (SELECT src AS vid, count(*) AS d FROM sym GROUP BY src)
    SELECT d AS degree, count(*) AS n_vertices
    FROM deg GROUP BY d
    """,
)
def graph_part_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution — the first profiling query run on any
    link graph (power-law exponent eyeballing, skew planning for
    salting thresholds). Two map-side-combined aggregates; output
    cardinality = number of distinct degrees."""
    edges = part_graph_edges(spark, sf_dir)
    return (
        undirect(edges)
        .groupBy(F.col("src").alias("vid"))
        .agg(F.count(F.lit(1)).alias("d"))
        .groupBy(F.col("d").alias("degree"))
        .agg(F.count(F.lit(1)).alias("n_vertices"))
    )


# --------------------------------------------------------------------------
_HARM_ITERS = 6


@register(
    "graph_part_harmonic",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTE},
    walk(s, v, d) AS (
      SELECT vid, vid, 0 FROM verts WHERE {_SEED_PRED}
      UNION
      SELECT walk.s, sym.dst, walk.d + 1
      FROM walk JOIN sym ON walk.v = sym.src
      WHERE walk.d < {_HARM_ITERS}
    ),
    mind AS (SELECT s, v, min(d) AS d FROM walk GROUP BY s, v)
    SELECT v AS vid, cast(sum(1000000 // d) AS BIGINT) AS harmonic_micro
    FROM mind WHERE d > 0 GROUP BY v
    """,
)
def graph_part_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source harmonic centrality: Σ over the seed sample of
    1/d(seed, v), per-term floor-quantized to micro units so the whole
    aggregate is integer-exact cross-engine. Distances from the
    per-source frontier BFS (6-round cap on both engines) — the
    standard K-sampled-sources estimator for closeness/harmonic
    centrality on graphs where all-pairs BFS is unaffordable."""
    edges = part_graph_edges(spark, sf_dir)
    verts = (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    seeds = verts.filter(F.col("vid") % 100 == 0)
    d = bfs_per_source(edges, seeds, max_iter=_HARM_ITERS)
    return (
        d.filter(F.col("dist") > 0)
        .groupBy("vid")
        .agg(
            F.sum(F.expr("div(1000000, dist)")).cast("long").alias(
                "harmonic_micro"
            )
        )
    )


# --------------------------------------------------------------------------
@register(
    "graph_part_closeness",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTE},
    walk(s, v, d) AS (
      SELECT vid, vid, 0 FROM verts WHERE {_SEED_PRED}
      UNION
      SELECT walk.s, sym.dst, walk.d + 1
      FROM walk JOIN sym ON walk.v = sym.src
      WHERE walk.d < {_HARM_ITERS}
    ),
    mind AS (SELECT s, v, min(d) AS d FROM walk GROUP BY s, v)
    SELECT v AS vid, count(*) AS reached,
           CAST(sum(d) AS BIGINT) AS sum_dist,
           CAST(count(*) * 1000000 // sum(d) AS BIGINT) AS closeness_micro
    FROM mind WHERE d > 0 GROUP BY v
    """,
)
def graph_part_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source closeness centrality — reached-seeds /
    sum-of-distances per vertex, micro-quantized by integer floor
    division so the aggregate is exact cross-engine. Same K-sampled
    BFS machinery and 6-round cap as graph_part_harmonic (harmonic is
    the disconnected-safe variant; closeness is the classic form users
    of a Neo4j-style serving layer expect alongside it)."""
    edges = part_graph_edges(spark, sf_dir)
    verts = (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    seeds = verts.filter(F.col("vid") % 100 == 0)
    d = bfs_per_source(edges, seeds, max_iter=_HARM_ITERS)
    return (
        d.filter(F.col("dist") > 0)
        .groupBy("vid")
        .agg(
            F.count(F.lit(1)).alias("reached"),
            F.sum("dist").alias("sum_dist"),
        )
        .select(
            "vid",
            "reached",
            "sum_dist",
            F.expr("div(reached * 1000000, sum_dist)").alias(
                "closeness_micro"
            ),
        )
    )


# --------------------------------------------------------------------------
_SSSP_ITERS = 12


@register(
    "graph_part_sssp",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTE},
    wedges AS (
      SELECT a.pk AS src, b.pk AS dst, count(*) AS w
      FROM wb a JOIN wb b
        ON a.okey = b.okey AND a.brand = b.brand AND a.pk < b.pk
      GROUP BY a.pk, b.pk
    ),
    ex AS (
      SELECT src, dst, w FROM wedges
      UNION ALL SELECT dst, src, w FROM wedges
      UNION ALL SELECT vid, vid, 0 FROM verts
    ),
    dists(it, v, d) AS (
      SELECT 0, vid,
             CASE WHEN {_SEED_PRED} THEN cast(0 AS BIGINT) ELSE NULL END
      FROM verts
      UNION ALL
      SELECT it, v, d FROM (
        SELECT s.it + 1 AS it, x.dst AS v, min(s.d + x.w) AS d
        FROM dists s JOIN ex x ON s.v = x.src
        WHERE s.it < {_SSSP_ITERS}
        GROUP BY s.it + 1, x.dst
      )
    )
    SELECT v AS vid, d AS dist
    FROM dists WHERE it = {_SSSP_ITERS} AND d IS NOT NULL
    """,
)
def graph_part_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source weighted shortest paths from the every-100th-part
    seed set, edge length = co-order multiplicity, capped at 12
    relaxation rounds on both engines. The oracle carries the full
    distance vector per iteration (self-loops of length 0 keep every
    vertex's own distance in the min — one recursive reference); the
    engine runs the delta Bellman-Ford which provably produces the
    identical per-round states."""
    t = load_tables(spark, sf_dir)
    items = t["lineitem"].select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pk")
    ).distinct()
    wb = items.join(
        F.broadcast(t["part"].select("p_partkey", "p_brand")),
        F.col("pk") == F.col("p_partkey"),
    ).select("okey", "pk", F.col("p_brand").alias("brand"))
    a = wb.select("okey", "brand", F.col("pk").alias("src"))
    b = wb.select("okey", "brand", F.col("pk").alias("dst"))
    wedges = (
        a.join(b, ["okey", "brand"])
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    verts = (
        wedges.select(F.col("src").alias("vid"))
        .unionByName(wedges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    seeds = verts.filter(F.col("vid") % 100 == 0)
    return sssp(wedges, seeds, max_iter=_SSSP_ITERS, directed=False)


# --------------------------------------------------------------------------
_EV_ITERS = 10


@register(
    "graph_part_eigenvector",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTE},
    evsym AS (SELECT src, dst FROM sym
              UNION ALL SELECT vid, vid FROM verts),
    ev(it, v, x) AS (
      SELECT 0, vid, CAST(1000000 AS BIGINT) FROM verts
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
def graph_part_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality of the part co-order graph: 10 rounds of
    shifted (A + I) integer power iteration, each round rescaled to
    ppm of its max (graph/eigenvector.py — int64 sums and
    floor-division only, so the recursive-CTE oracle replays every
    round bit-exactly; no float normalization to diverge)."""
    edges = part_graph_edges(spark, sf_dir).select("src", "dst")
    return eigenvector_centrality(edges, max_iter=_EV_ITERS)


# --------------------------------------------------------------------------
_HITS_ITERS = 15


@register(
    "graph_part_hits",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTE},
    nv AS (SELECT count(*) AS n FROM verts),
    ex AS (
      SELECT src AS mfrom, dst AS mto, true AS is_fwd FROM edges
      UNION ALL
      SELECT dst, src, false FROM edges
    ),
    hs(it, v, a, h) AS (
      SELECT 0, vid, 1.0 / (SELECT n FROM nv), 1.0 / (SELECT n FROM nv)
      FROM verts
      UNION ALL
      SELECT it, v,
             a_raw / sum(a_raw) OVER (PARTITION BY it) AS a,
             h_raw / sum(h_raw) OVER (PARTITION BY it) AS h
      FROM (
        SELECT s.it + 1 AS it, x.mto AS v,
               sum(CASE WHEN x.is_fwd THEN s.h ELSE 0 END) AS a_raw,
               sum(CASE WHEN NOT x.is_fwd THEN s.a ELSE 0 END) AS h_raw
        FROM hs s JOIN ex x ON s.v = x.mfrom
        WHERE s.it < {_HITS_ITERS}
        GROUP BY s.it + 1, x.mto
      )
    )
    SELECT v AS vid,
           cast(floor(a * 1000000000 + 0.5) AS BIGINT) AS auth_nano,
           cast(floor(h * 1000000000 + 0.5) AS BIGINT) AS hub_nano
    FROM hs WHERE it = {_HITS_ITERS}
    """,
)
def graph_part_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities, 15 synchronous Jacobi rounds on the
    DIRECTED (low→high partkey) part graph — direction asymmetry gives
    hubs and authorities distinct structure — vs a recursive-CTE oracle
    running the identical simultaneous update with window-function L1
    normalization per round. 1e-9 flooring as for PageRank."""
    edges = part_graph_edges(spark, sf_dir)
    scores = hits(edges, max_iter=_HITS_ITERS)
    return scores.select(
        "vid",
        F.floor(F.col("authority") * 1000000000 + F.lit(0.5))
        .cast("long")
        .alias("auth_nano"),
        F.floor(F.col("hub") * 1000000000 + F.lit(0.5))
        .cast("long")
        .alias("hub_nano"),
    )


# --------------------------------------------------------------------------
# Synthesized-corpus pipeline (BASELINE.json input shape).
#
# The corpus is generated in-memory (deterministic, seed-pinned) AND
# materialized once to a stable parquet path so the DuckDB oracles can
# read the identical input by absolute path — the oracle then
# re-implements the ENTIRE pipeline in SQL from the raw documents
# table: dense vid assignment (row_number over the same lexicographic
# (repo, path) order as graph/ids.py), quoted-reference extraction
# (regexp_extract_all mirroring extraction.py's str.extractall),
# module-key resolution joins, and the iterative kernel as a recursive
# CTE. Nothing engine-side is reused; this upgrades the whole
# north-rule pipeline from rows-only to hash-checked.
_CORPUS_DOCS = 1200
_CORPUS_SEED = 42
_CORPUS_PARQUET = corpus_parquet_path(_CORPUS_DOCS, _CORPUS_SEED)

# extraction.py parity, CTE by CTE:
#   verts   = graph/ids.py assign_dense_ids (lexicographic (repo,path))
#   mk      = extraction.module_key_col (strip trailing extension)
#   refs    = extraction.extract_references (quoted strings; strip
#             .h/.hpp — the c/cpp include forms)
#   cedges  = extraction.resolve_refs (two joins, self-loop filter,
#             multiplicity count as DOUBLE weight)
_CORPUS_CTE = f"""
    docs AS (SELECT * FROM '{_CORPUS_PARQUET}'),
    verts AS (SELECT row_number() OVER (ORDER BY repo, path) - 1 AS vid,
                     repo, path
              FROM docs),
    mk AS (SELECT vid, regexp_replace(path, '\\.[A-Za-z0-9]+$', '') AS module_key
           FROM verts),
    refs AS (
      SELECT d.path AS src_path,
             regexp_replace(u.r, '\\.(h|hpp)$', '') AS ref_key
      FROM docs d,
           UNNEST(regexp_extract_all(d.content, '"([^"]+)"', 1)) AS u(r)
    ),
    cedges AS (
      SELECT s.vid AS src, t.vid AS dst, CAST(count(*) AS DOUBLE) AS weight
      FROM refs r JOIN verts s ON r.src_path = s.path
                  JOIN mk t ON r.ref_key = t.module_key
      WHERE s.vid <> t.vid
      GROUP BY 1, 2
    ),
    csym AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM cedges UNION ALL SELECT dst, src FROM cedges))
    -- DISTINCT is explicit (not a bare UNION): inside WITH RECURSIVE,
    -- DuckDB 1.0 compiles every CTE's set-op as the recursive form and a
    -- plain UNION between two branches does NOT dedup (repro: two-row
    -- VALUES example keeps 4 rows under WITH RECURSIVE, 2 without).
    -- Mirrors graph/degrees.py undirect()'s distinct().
"""


# per-session memo of the extracted corpus graph: every corpus_*
# query starts from the same deterministic (vertices, edges) pair, and
# at warehouse scale the edge table is extracted once and STORED (see
# snapshots.py) — re-running the extraction per query models nothing.
# Keyed by the SparkContext's applicationId; values are eagerly
# checkpointed so reuse is a scan, not a lineage replay. Determinism
# (pinned seed + exact integer extraction) makes the memo
# value-identical to a fresh run — the gate compares values, and they
# cannot diverge.
_CORPUS_MEMO: dict[tuple, tuple[DataFrame, DataFrame]] = {}


def _memo_lookup(memo: dict, key: tuple):
    """``memo``'s entry for ``key``, or None. ``key[0]`` is the running
    SparkContext's applicationId; entries of every other context are
    dropped first, since a stopped context's checkpointed frames would
    otherwise stay pinned by the memo."""
    for stale in [k for k in memo if k[0] != key[0]]:
        del memo[stale]
    return memo.get(key)


def corpus_tables(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """documents(repo,path,commit,lang,content) → (vertices, edges)
    through the full vectorized extraction path, memoized per session.
    Also guarantees the oracle's parquet twin of the corpus exists on
    disk."""
    # applicationId is unique per SparkContext lifetime — unlike id(),
    # it can never alias a stopped session's checkpointed RDDs
    key = (spark.sparkContext.applicationId,)
    hit = _memo_lookup(_CORPUS_MEMO, key)
    if hit is not None:
        return hit
    ensure_corpus_parquet(_CORPUS_DOCS, _CORPUS_SEED)
    pdf = generate_documents(_CORPUS_DOCS, seed=_CORPUS_SEED)
    docs = spark.createDataFrame(pdf)
    vertices = build_vertices(docs).localCheckpoint(eager=True)
    edges = build_edges(docs, vertices).localCheckpoint(eager=True)
    _CORPUS_MEMO[key] = (vertices, edges)
    return vertices, edges


@register(
    "corpus_edges",
    oracle=f"""
    WITH {_CORPUS_CTE}
    SELECT src, dst, weight FROM cedges
    """,
)
def corpus_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge extraction end-to-end on the mandated input shape (the
    reference's citation-fetch stage, gather_articles.py:234-240,
    re-expressed as one distributed pass), hash-checked against a full
    SQL re-implementation of extraction + id assignment; byte-level
    exactness additionally pinned by tests/test_extraction.py."""
    _, edges = corpus_tables(spark)
    return edges


@register(
    "corpus_pagerank",
    oracle=f"""
    WITH RECURSIVE {_CORPUS_CTE},
    en AS (SELECT src, dst, weight / sum(weight) OVER (PARTITION BY src) AS wnorm
           FROM cedges),
    -- zero-weight self-loops: every vertex receives >=1 message per
    -- round, so the grouped recursive term covers the full vertex set
    -- and the e.src = e.dst row carries each vertex's own prev rank
    en2 AS (SELECT src, dst, wnorm FROM en
            UNION ALL SELECT vid, vid, 0.0 FROM verts),
    vflag AS (SELECT v.vid, v.vid NOT IN (SELECT src FROM cedges) AS dang
              FROM verts v),
    nv AS (SELECT count(*) AS n FROM verts),
    pr(it, v, r, l1, dm) AS (
      SELECT 0, vid, 1.0 / (SELECT n FROM nv), 1e18,
             (SELECT count(*) FROM vflag WHERE dang)
               / CAST((SELECT n FROM nv) AS DOUBLE)
      FROM verts
      UNION ALL
      SELECT x.it, x.v, x.r,
             sum(abs(x.r - x.r_prev)) OVER () AS l1,
             sum(CASE WHEN f.dang THEN x.r ELSE 0 END) OVER () AS dm
      FROM (
        SELECT p.it + 1 AS it, e.dst AS v,
               (1.0 - 0.85) / (SELECT n FROM nv)
                 + 0.85 * (sum(p.r * e.wnorm)
                           + max(p.dm) / (SELECT n FROM nv)) AS r,
               max(CASE WHEN e.src = e.dst THEN p.r END) AS r_prev
        FROM pr p JOIN en2 e ON p.v = e.src
        WHERE p.l1 >= 0.000001 AND p.it < 200
        GROUP BY 1, 2
      ) x JOIN vflag f ON x.v = f.vid
    )
    SELECT v AS vid, cast(floor(r * 1000000000 + 0.5) AS BIGINT) AS score_nano
    FROM pr WHERE it = (SELECT max(it) FROM pr)
    """,
)
def corpus_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule PageRank to 1e-6 convergence on the extracted corpus
    graph — weighted by reference multiplicity, dangling mass
    redistributed, SAME l1 stopping rule in the oracle (the recursive
    CTE carries per-round l1 and dangling mass in every row and halts
    when l1 < tol, exactly like the engine's stats pass). Also exactly
    replayed by the numpy oracle in tests/oracles.py."""
    vertices, edges = corpus_tables(spark)
    ranks = pagerank(edges, vertices=vertices.select("vid"), tol=1e-6)
    return ranks.select(
        "vid",
        F.floor(F.col("score") * 1000000000 + F.lit(0.5))
        .cast("long")
        .alias("score_nano"),
    )


@register(
    "corpus_repo_graph",
    oracle=f"""
    WITH {_CORPUS_CTE},
    r AS (
      SELECT sv.repo AS src_repo, tv.repo AS dst_repo,
             CAST(sum(e.weight) AS BIGINT) AS weight
      FROM cedges e
        JOIN verts sv ON sv.vid = e.src
        JOIN verts tv ON tv.vid = e.dst
      WHERE sv.repo <> tv.repo
      GROUP BY 1, 2
    )
    SELECT src_repo, dst_repo, weight,
           CAST(1000 * weight // sum(weight) OVER (PARTITION BY src_repo)
                AS BIGINT) AS share_milli
    FROM r
    """,
)
def corpus_repo_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repository-level dependency graph: the citation edge table
    contracted by repo (cross-repo reference multiplicities summed;
    intra-repo references dropped), each edge annotated with its milli
    share of the source repo's outbound references — the
    "which repos does repo X actually depend on, and how much"
    serving table for the north rule's source-repo corpus. Quotient
    groupBy keyed on the repo pair; the per-source share is one
    window over the (small) quotient."""
    vertices, edges = corpus_tables(spark)
    sv = vertices.select(F.col("vid").alias("src"), F.col("repo").alias("src_repo"))
    tv = vertices.select(F.col("vid").alias("dst"), F.col("repo").alias("dst_repo"))
    r = (
        edges.join(sv, "src")
        .join(tv, "dst")
        .filter(F.col("src_repo") != F.col("dst_repo"))
        .groupBy("src_repo", "dst_repo")
        .agg(F.sum("weight").cast("long").alias("weight"))
    )
    w = Window.partitionBy("src_repo")
    return (
        r.withColumn("_total", F.sum("weight").over(w))
        .withColumn(
            # exact integer division — a double quotient cast to long
            # can round up across the floor boundary
            "share_milli",
            F.expr("div(1000 * weight, _total)").cast("long"),
        )
        .drop("_total")
    )


@register(
    "corpus_repo_pagerank",
    oracle=f"""
    WITH RECURSIVE {_CORPUS_CTE},
    rverts AS (
      SELECT row_number() OVER (ORDER BY repo) - 1 AS vid, repo
      FROM (SELECT DISTINCT repo FROM verts)
    ),
    rq AS (
      SELECT sr.vid AS src, tr.vid AS dst,
             CAST(sum(e.weight) AS DOUBLE) AS weight
      FROM cedges e
        JOIN verts sv ON sv.vid = e.src
        JOIN verts tv ON tv.vid = e.dst
        JOIN rverts sr ON sr.repo = sv.repo
        JOIN rverts tr ON tr.repo = tv.repo
      WHERE sv.repo <> tv.repo
      GROUP BY 1, 2
    ),
    en AS (SELECT src, dst,
                  weight / sum(weight) OVER (PARTITION BY src) AS wnorm
           FROM rq),
    en2 AS (SELECT src, dst, wnorm FROM en
            UNION ALL SELECT vid, vid, 0.0 FROM rverts),
    vflag AS (SELECT v.vid, v.vid NOT IN (SELECT src FROM rq) AS dang
              FROM rverts v),
    nv AS (SELECT count(*) AS n FROM rverts),
    pr(it, v, r, l1, dm) AS (
      SELECT 0, vid, 1.0 / (SELECT n FROM nv), 1e18,
             (SELECT count(*) FROM vflag WHERE dang)
               / CAST((SELECT n FROM nv) AS DOUBLE)
      FROM rverts
      UNION ALL
      SELECT x.it, x.v, x.r,
             sum(abs(x.r - x.r_prev)) OVER () AS l1,
             sum(CASE WHEN f.dang THEN x.r ELSE 0 END) OVER () AS dm
      FROM (
        SELECT p.it + 1 AS it, e.dst AS v,
               (1.0 - 0.85) / (SELECT n FROM nv)
                 + 0.85 * (sum(p.r * e.wnorm)
                           + max(p.dm) / (SELECT n FROM nv)) AS r,
               max(CASE WHEN e.src = e.dst THEN p.r END) AS r_prev
        FROM pr p JOIN en2 e ON p.v = e.src
        WHERE p.l1 >= 0.000001 AND p.it < 200
        GROUP BY 1, 2
      ) x JOIN vflag f ON x.v = f.vid
    )
    SELECT rv.repo,
           cast(floor(pr.r * 1000000000 + 0.5) AS BIGINT) AS score_nano
    FROM pr JOIN rverts rv ON rv.vid = pr.v
    WHERE it = (SELECT max(it) FROM pr)
    """,
)
def corpus_repo_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank on the repository-level dependency quotient
    (corpus_repo_graph's edge table): which REPOS hold the citation
    mass once file-level structure is contracted away — the repo
    ranking a monorepo/archive analytics surface serves. Same engine
    kernel, same 1e-6 l1 stopping rule, same oracle recursion as
    corpus_pagerank, over the quotient; dense repo ids are the
    alphabetical row_number on both engines."""
    vertices, edges = corpus_tables(spark)
    sv = vertices.select(F.col("vid").alias("src"), F.col("repo").alias("src_repo"))
    tv = vertices.select(F.col("vid").alias("dst"), F.col("repo").alias("dst_repo"))
    repos = (
        vertices.select("repo")
        .distinct()
        .withColumn(
            "rid",
            F.row_number().over(Window.orderBy("repo")) - 1,
        )
    ).localCheckpoint(eager=True)
    rq = (
        edges.join(sv, "src")
        .join(tv, "dst")
        .filter(F.col("src_repo") != F.col("dst_repo"))
        .join(
            repos.select(F.col("repo").alias("src_repo"), F.col("rid").alias("qsrc")),
            "src_repo",
        )
        .join(
            repos.select(F.col("repo").alias("dst_repo"), F.col("rid").alias("qdst")),
            "dst_repo",
        )
        .groupBy(F.col("qsrc").alias("src"), F.col("qdst").alias("dst"))
        .agg(F.sum("weight").cast("double").alias("weight"))
    )
    ranks = pagerank(rq, vertices=repos.select(F.col("rid").alias("vid")), tol=1e-6)
    return ranks.join(
        repos.select(F.col("rid").alias("vid"), "repo"), "vid"
    ).select(
        "repo",
        F.floor(F.col("score") * 1000000000 + F.lit(0.5))
        .cast("long")
        .alias("score_nano"),
    )


@register(
    "corpus_repo_profile",
    oracle=f"""
    WITH {_CORPUS_CTE},
    vrepo AS (SELECT vid, repo FROM verts),
    outs AS (
      SELECT sv.repo, CAST(sum(e.weight) AS BIGINT) AS out_refs,
             CAST(sum(CASE WHEN sv.repo = tv.repo
                           THEN e.weight ELSE 0 END) AS BIGINT)
               AS intra_refs
      FROM cedges e
        JOIN vrepo sv ON sv.vid = e.src
        JOIN vrepo tv ON tv.vid = e.dst
      GROUP BY sv.repo
    ),
    ins AS (
      SELECT tv.repo, CAST(sum(e.weight) AS BIGINT) AS in_refs
      FROM cedges e
        JOIN vrepo sv ON sv.vid = e.src
        JOIN vrepo tv ON tv.vid = e.dst
      WHERE sv.repo <> tv.repo
      GROUP BY tv.repo
    ),
    files AS (
      SELECT repo, count(*) AS n_files,
             count(DISTINCT d.lang) AS n_langs
      FROM docs d GROUP BY repo
    )
    SELECT f.repo, f.n_files, f.n_langs,
           coalesce(o.out_refs, 0) AS out_refs,
           coalesce(o.intra_refs, 0) AS intra_refs,
           coalesce(i.in_refs, 0) AS in_refs,
           CASE WHEN coalesce(o.out_refs, 0) > 0
                THEN 1000 * o.intra_refs // o.out_refs
                ELSE 0 END AS intra_share_milli
    FROM files f
      LEFT JOIN outs o ON o.repo = f.repo
      LEFT JOIN ins i ON i.repo = f.repo
    """,
)
def corpus_repo_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-repository profile panel: file and language counts,
    outbound/inbound reference mass, and the milli share of
    references that stay inside the repo (the cohesion number a
    monorepo-split analysis starts from). Joins are vid-keyed against
    the extracted edge table; the rollup key is the (small) repo
    dimension."""
    vertices, edges = corpus_tables(spark)
    vrepo_s = vertices.select(F.col("vid").alias("src"), F.col("repo").alias("src_repo"))
    vrepo_t = vertices.select(F.col("vid").alias("dst"), F.col("repo").alias("dst_repo"))
    both = edges.join(vrepo_s, "src").join(vrepo_t, "dst")
    outs = both.groupBy(F.col("src_repo").alias("repo")).agg(
        F.sum("weight").cast("long").alias("out_refs"),
        F.sum(
            F.when(F.col("src_repo") == F.col("dst_repo"), F.col("weight"))
            .otherwise(F.lit(0.0))
        )
        .cast("long")
        .alias("intra_refs"),
    )
    ins = (
        both.filter(F.col("src_repo") != F.col("dst_repo"))
        .groupBy(F.col("dst_repo").alias("repo"))
        .agg(F.sum("weight").cast("long").alias("in_refs"))
    )
    files = vertices.groupBy("repo").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.countDistinct("lang").alias("n_langs"),
    )
    return (
        files.join(outs, "repo", "left")
        .join(ins, "repo", "left")
        .select(
            "repo",
            "n_files",
            "n_langs",
            F.coalesce("out_refs", F.lit(0)).cast("long").alias("out_refs"),
            F.coalesce("intra_refs", F.lit(0)).cast("long").alias("intra_refs"),
            F.coalesce("in_refs", F.lit(0)).cast("long").alias("in_refs"),
            F.when(
                F.coalesce("out_refs", F.lit(0)) > 0,
                F.expr("div(1000 * intra_refs, out_refs)"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("intra_share_milli"),
        )
    )


@register(
    "corpus_repo_scc",
    oracle=f"""
    WITH RECURSIVE {_CORPUS_CTE},
    rverts AS (
      SELECT row_number() OVER (ORDER BY repo) - 1 AS vid, repo
      FROM (SELECT DISTINCT repo FROM verts)
    ),
    rq AS (
      SELECT DISTINCT sr.vid AS src, tr.vid AS dst
      FROM cedges e
        JOIN verts sv ON sv.vid = e.src
        JOIN verts tv ON tv.vid = e.dst
        JOIN rverts sr ON sr.repo = sv.repo
        JOIN rverts tr ON tr.repo = tv.repo
      WHERE sv.repo <> tv.repo
    ),
    reach(v, w) AS (
      SELECT src, dst FROM rq
      UNION
      SELECT r.v, e.dst FROM reach r JOIN rq e ON r.w = e.src
    ),
    mutual AS (
      SELECT a.v AS v, a.w AS w
      FROM reach a JOIN reach b ON a.v = b.w AND a.w = b.v
    )
    SELECT rv.repo,
           greatest(rv.vid, coalesce(max(m.w), rv.vid)) AS scc
    FROM rverts rv LEFT JOIN mutual m ON rv.vid = m.v
    GROUP BY rv.repo, rv.vid
    """,
)
def corpus_repo_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dependency CYCLES between repositories: strongly connected
    components of the repo quotient (graph/scc.py on the contracted
    graph) — repos sharing an scc id mutually depend on each other,
    the first thing a build-order or layering analysis asks. Dense
    repo ids are the alphabetical row_number on both engines; scc
    label = max member id (the corpus_scc convention)."""
    from citation_graph_spark.graph.scc import (
        strongly_connected_components,
    )

    vertices, edges = corpus_tables(spark)
    sv = vertices.select(F.col("vid").alias("src"), F.col("repo").alias("src_repo"))
    tv = vertices.select(F.col("vid").alias("dst"), F.col("repo").alias("dst_repo"))
    repos = (
        vertices.select("repo")
        .distinct()
        .withColumn("rid", F.row_number().over(Window.orderBy("repo")) - 1)
    ).localCheckpoint(eager=True)
    rq = (
        edges.join(sv, "src")
        .join(tv, "dst")
        .filter(F.col("src_repo") != F.col("dst_repo"))
        .join(
            repos.select(F.col("repo").alias("src_repo"), F.col("rid").alias("qsrc")),
            "src_repo",
        )
        .join(
            repos.select(F.col("repo").alias("dst_repo"), F.col("rid").alias("qdst")),
            "dst_repo",
        )
        .select(F.col("qsrc").alias("src"), F.col("qdst").alias("dst"))
        .distinct()
    )
    scc = strongly_connected_components(
        rq, repos.select(F.col("rid").alias("vid"))
    )
    return scc.join(
        repos.select(F.col("rid").alias("vid"), "repo"), "vid"
    ).select("repo", "scc")


@register(
    "corpus_repo_generations",
    oracle=f"""
    WITH RECURSIVE {_CORPUS_CTE},
    rverts AS (
      SELECT row_number() OVER (ORDER BY repo) - 1 AS vid, repo
      FROM (SELECT DISTINCT repo FROM verts)
    ),
    rq0 AS (
      SELECT DISTINCT sr.vid AS src, tr.vid AS dst
      FROM cedges e
        JOIN verts sv ON sv.vid = e.src
        JOIN verts tv ON tv.vid = e.dst
        JOIN rverts sr ON sr.repo = sv.repo
        JOIN rverts tr ON tr.repo = tv.repo
      WHERE sv.repo <> tv.repo
    ),
    rreach(v, w) AS (
      SELECT src, dst FROM rq0
      UNION
      SELECT r.v, e.dst FROM rreach r JOIN rq0 e ON r.w = e.src
    ),
    rmutual AS (
      SELECT a.v AS v, a.w AS w
      FROM rreach a JOIN rreach b ON a.v = b.w AND a.w = b.v
    ),
    rsccm AS (
      SELECT rv.vid, greatest(rv.vid, coalesce(max(m.w), rv.vid)) AS scc
      FROM rverts rv LEFT JOIN rmutual m ON rv.vid = m.v
      GROUP BY rv.vid
    ),
    rcq AS (SELECT DISTINCT s1.scc AS csrc, s2.scc AS cdst
            FROM rq0 e JOIN rsccm s1 ON e.src = s1.vid
                       JOIN rsccm s2 ON e.dst = s2.vid
            WHERE s1.scc <> s2.scc),
    rcomps AS (SELECT DISTINCT scc AS c FROM rsccm),
    rg(c, d) AS (
      SELECT c, 0 FROM rcomps WHERE c NOT IN (SELECT cdst FROM rcq)
      UNION
      SELECT q.cdst, rg.d + 1 FROM rg JOIN rcq q ON rg.c = q.csrc
    ),
    rcg AS (SELECT c, max(d) AS generation FROM rg GROUP BY c)
    SELECT rv.repo, rcg.generation
    FROM rsccm s
      JOIN rverts rv ON rv.vid = s.vid
      JOIN rcg ON s.scc = rcg.c
    """,
)
def corpus_repo_generations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repository dependency layering: longest-path generations of the
    repo quotient's SCC condensation — layer 0 repos reference no
    other layer's repos (transitively), layer g references at least
    one repo at g−1; mutually-dependent repos (one SCC) share a
    layer. The corpus_generations composition (SCC kernel →
    condensation → monotone max-relaxation) run on the contracted
    graph — the build-order / layering view of the archive."""
    vertices, edges = corpus_tables(spark)
    sv = vertices.select(F.col("vid").alias("src"), F.col("repo").alias("src_repo"))
    tv = vertices.select(F.col("vid").alias("dst"), F.col("repo").alias("dst_repo"))
    repos = (
        vertices.select("repo")
        .distinct()
        .withColumn("rid", F.row_number().over(Window.orderBy("repo")) - 1)
    ).localCheckpoint(eager=True)
    rq = (
        edges.join(sv, "src")
        .join(tv, "dst")
        .filter(F.col("src_repo") != F.col("dst_repo"))
        .join(
            repos.select(F.col("repo").alias("src_repo"), F.col("rid").alias("qsrc")),
            "src_repo",
        )
        .join(
            repos.select(F.col("repo").alias("dst_repo"), F.col("rid").alias("qdst")),
            "dst_repo",
        )
        .select(F.col("qsrc").alias("src"), F.col("qdst").alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    from citation_graph_spark.graph.scc import strongly_connected_components
    from citation_graph_spark.operators.topology import (
        generation_relax_lineage,
    )

    scc = strongly_connected_components(
        rq, repos.select(F.col("rid").alias("vid"))
    )
    q = (
        rq.join(
            scc.select(F.col("vid").alias("src"), F.col("scc").alias("csrc")),
            "src",
        )
        .join(
            scc.select(F.col("vid").alias("dst"), F.col("scc").alias("cdst")),
            "dst",
        )
        .filter(F.col("csrc") != F.col("cdst"))
        .select("csrc", "cdst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    gen = (
        scc.select(F.col("scc").alias("c"))
        .distinct()
        .withColumn("generation", F.lit(0))
        .localCheckpoint(eager=True)
    )
    for _ in range(10_000):
        new = generation_relax_lineage(q, gen).localCheckpoint(eager=True)
        changed = not (
            new.alias("n")
            .join(gen.alias("o"), "c")
            .filter(F.col("n.generation") != F.col("o.generation"))
            .isEmpty()
        )
        gen = new
        if not changed:
            break
    return (
        scc.join(gen, scc["scc"] == gen["c"])
        .join(repos.select(F.col("rid").alias("vid"), "repo"), "vid")
        .select("repo", "generation")
    )


@register(
    "corpus_repo_reciprocity",
    oracle=f"""
    WITH {_CORPUS_CTE},
    rq AS (
      SELECT DISTINCT sv.repo AS a, tv.repo AS b
      FROM cedges e
        JOIN verts sv ON sv.vid = e.src
        JOIN verts tv ON tv.vid = e.dst
      WHERE sv.repo <> tv.repo
    ),
    m AS (
      SELECT count(*) AS n_pairs,
             sum(CASE WHEN EXISTS (
                   SELECT 1 FROM rq r2
                   WHERE r2.a = rq.b AND r2.b = rq.a)
                 THEN 1 ELSE 0 END) AS n_mutual
      FROM rq
    )
    SELECT n_pairs, CAST(n_mutual AS BIGINT) AS n_mutual,
           CAST(CASE WHEN n_pairs > 0
                THEN 1000 * n_mutual // n_pairs ELSE 0 END
                AS BIGINT) AS reciprocity_milli
    FROM m
    """,
)
def corpus_repo_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-dependency rate between repositories: of the ordered
    cross-repo dependency pairs, the milli fraction whose reverse pair
    also exists — the repo-granularity dual of corpus_reciprocity, and
    the one-number summary behind corpus_repo_scc's cycle report
    (reciprocated pairs are exactly the 2-cycles). Self-join on the
    (small) quotient pair set."""
    vertices, edges = corpus_tables(spark)
    sv = vertices.select(F.col("vid").alias("src"), F.col("repo").alias("a"))
    tv = vertices.select(F.col("vid").alias("dst"), F.col("repo").alias("b"))
    rq = (
        edges.join(sv, "src").join(tv, "dst")
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    rev = rq.select(F.col("a").alias("b"), F.col("b").alias("a"))
    n_pairs = rq.count()
    n_mutual = rq.join(rev, ["a", "b"], "left_semi").count()
    milli = (1000 * n_mutual) // n_pairs if n_pairs else 0
    return spark.createDataFrame(
        [(n_pairs, n_mutual, milli)],
        "n_pairs long, n_mutual long, reciprocity_milli long",
    )


@register(
    "corpus_components",
    oracle=f"""
    WITH RECURSIVE {_CORPUS_CTE},
    reach(v, l) AS (
      SELECT vid, vid FROM verts
      UNION
      SELECT s.dst, reach.l FROM reach JOIN csym s ON reach.v = s.src
    )
    SELECT v AS vid, min(l) AS component FROM reach GROUP BY v
    """,
)
def corpus_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the extracted corpus graph (min-vid
    label, undirected closure; isolated docs are their own component)
    vs a reachability-closure oracle over the SQL-re-extracted edges."""
    vertices, edges = corpus_tables(spark)
    return connected_components(edges, vertices=vertices.select("vid"))


@register(
    "corpus_label_prop",
    oracle=f"""
    WITH RECURSIVE {_CORPUS_CTE},
    lab(it, v, l) AS (
      SELECT 0, vid, vid FROM verts
      UNION ALL
      SELECT it, v, l FROM (
        SELECT x.it + 1 AS it, x.dst AS v, x.nl AS l,
               row_number() OVER (PARTITION BY x.dst
                                  ORDER BY x.c DESC, x.nl) AS rn
        FROM (
          SELECT lab.it, s.dst, lab.l AS nl, count(*) AS c
          FROM lab JOIN csym s ON lab.v = s.src
          WHERE lab.it < {_LP_ITERS}
          GROUP BY lab.it, s.dst, lab.l
        ) x
      ) WHERE rn = 1
    )
    SELECT vt.vid, coalesce(l5.l, vt.vid) AS label
    FROM verts vt
      LEFT JOIN (SELECT v, l FROM lab WHERE it = {_LP_ITERS}) l5
        ON vt.vid = l5.v
    """,
)
def corpus_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label propagation (5 synchronous rounds, mode-of-neighbors,
    min-label tie-break) on the corpus graph; isolated docs keep their
    own label via the oracle's left join."""
    vertices, edges = corpus_tables(spark)
    return label_propagation(edges, vertices=vertices.select("vid"), max_iter=5)


@register(
    "corpus_triangles",
    oracle=f"""
    WITH {_CORPUS_CTE},
    canon AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM cedges),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM canon e1 JOIN canon e2 ON e2.a = e1.b
                    JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    corners AS (
      SELECT x AS vid FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT vt.vid, coalesce(t.n, 0) AS n_triangles
    FROM verts vt LEFT JOIN
      (SELECT vid, count(*) AS n FROM corners GROUP BY vid) t USING (vid)
    """,
)
def corpus_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts on the canonicalized (least, greatest)
    undirected corpus edges vs the triple-join oracle; all docs served,
    triangle-free ones as 0."""
    vertices, edges = corpus_tables(spark)
    return triangle_counts(edges, vertices=vertices.select("vid"))


# --------------------------------------------------------------------------
# Modularity of the label-propagation communities — the standard
# community-QUALITY metric (Newman-Girvan Q), the graph-side analog of
# what silhouette/DB/CH are for the embedding clusterings (the
# reference scores every clustering run; its community detection has no
# quality readout — this closes that asymmetry).
#
# Q = Σ_c [ L_c/m − (D_c/(2m))² ] over the undirected unit-weight
# graph: L_c = intra-community edges, D_c = Σ degrees, m = |edges|.
# Served per community as q_nano so the gate hashes every community's
# contribution, not one rounded scalar.
#
# Determinism: L_c, D_c, m are exact integers on both engines; doubles
# appear only in the final expression, with EXPLICIT parenthesization
# mirrored in the oracle so both engines run the identical IEEE op
# sequence — the house rule (README "Cross-engine float determinism").
_MOD_LP_LAB_CTE = f"""
    lab(it, v, l) AS (
      SELECT 0, vid, vid FROM verts
      UNION ALL
      SELECT it, v, l FROM (
        SELECT x.it + 1 AS it, x.dst AS v, x.nl AS l,
               row_number() OVER (PARTITION BY x.it, x.dst
                                  ORDER BY x.c DESC, x.nl) AS rn
        FROM (
          SELECT lab.it, s.dst, lab.l AS nl, count(*) AS c
          FROM lab JOIN sym s ON lab.v = s.src
          WHERE lab.it < {_LP_ITERS}
          GROUP BY lab.it, s.dst, lab.l
        ) x
      ) WHERE rn = 1
    )
"""


@register(
    "graph_part_modularity",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTE},
    {_MOD_LP_LAB_CTE},
    fin AS (SELECT v AS vid, l AS label FROM lab WHERE it = {_LP_ITERS}),
    m AS (SELECT count(*) AS m FROM edges),
    deg AS (SELECT src AS vid, count(*) AS d FROM sym GROUP BY src),
    comm AS (
      SELECT label AS community, count(*) AS n_vertices,
             sum(d) AS degree_sum
      FROM fin JOIN deg USING (vid) GROUP BY label
    ),
    intra AS (
      SELECT f1.label AS community, count(*) AS intra_edges
      FROM edges e
        JOIN fin f1 ON e.src = f1.vid
        JOIN fin f2 ON e.dst = f2.vid
      WHERE f1.label = f2.label
      GROUP BY f1.label
    )
    SELECT c.community, c.n_vertices,
           coalesce(i.intra_edges, 0) AS intra_edges,
           cast(c.degree_sum AS BIGINT) AS degree_sum,
           cast(floor(
             ((cast(coalesce(i.intra_edges, 0) AS DOUBLE)
                 * (4.0 * cast(m.m AS DOUBLE))
               - cast(c.degree_sum AS DOUBLE) * cast(c.degree_sum AS DOUBLE))
              / ((4.0 * cast(m.m AS DOUBLE)) * cast(m.m AS DOUBLE)))
             * 1000000000 + 0.5) AS BIGINT) AS q_nano
    FROM comm c LEFT JOIN intra i ON c.community = i.community
    CROSS JOIN m
    """,
)
def graph_part_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community Newman-Girvan modularity contribution of the
    5-round label-propagation communities on the part graph, vs an
    oracle that replays LP as a recursive CTE and the Q algebra with
    the identical double expression. Global Q = sum(q_nano)/1e9."""
    edges = part_graph_edges(spark, sf_dir).select("src", "dst")
    lab = label_propagation(edges, max_iter=_LP_ITERS)

    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("vid")).agg(F.count(F.lit(1)).alias("d"))
    comm = (
        lab.join(deg, "vid")
        .groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_vertices"),
            F.sum("d").cast("long").alias("degree_sum"),
        )
    )
    intra = (
        edges.join(
            lab.select(F.col("vid").alias("src"), F.col("label").alias("l1")), "src"
        )
        .join(lab.select(F.col("vid").alias("dst"), F.col("label").alias("l2")), "dst")
        .filter(F.col("l1") == F.col("l2"))
        .groupBy(F.col("l1").alias("community"))
        .agg(F.count(F.lit(1)).alias("intra_edges"))
    )
    tot = edges.agg(F.count(F.lit(1)).alias("m"))

    md = F.col("m").cast("double")
    ie = F.coalesce(F.col("intra_edges"), F.lit(0)).cast("long")
    ds = F.col("degree_sum")
    q_nano = F.floor(
        (
            (ie.cast("double") * (F.lit(4.0) * md) - ds.cast("double") * ds.cast("double"))
            / ((F.lit(4.0) * md) * md)
        )
        * F.lit(1000000000)
        + F.lit(0.5)
    ).cast("long")
    return (
        comm.join(intra, "community", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "community",
            "n_vertices",
            ie.alias("intra_edges"),
            "degree_sum",
            q_nano.alias("q_nano"),
        )
    )


# --------------------------------------------------------------------------
# 4-clique counting — the next rung of the triangle family (J11 wedge →
# triangle → k-clique ordered expansion). Oracle: the same degree
# orientation spelled as SQL, with the clique's unique rank order
# enumerated by a 6-edge join.
@register(
    "graph_part_four_cliques",
    oracle=f"""
    WITH {_GRAPH_CTE},
    deg AS (SELECT src AS vid, count(*) AS deg FROM sym GROUP BY src),
    o AS (
      SELECT CASE WHEN da.deg < db.deg
                    OR (da.deg = db.deg AND e.src < e.dst)
                  THEN e.src ELSE e.dst END AS u,
             CASE WHEN da.deg < db.deg
                    OR (da.deg = db.deg AND e.src < e.dst)
                  THEN e.dst ELSE e.src END AS v
      FROM edges e JOIN deg da ON e.src = da.vid
                   JOIN deg db ON e.dst = db.vid
    ),
    quads AS (
      SELECT ab.u AS a, ab.v AS b, bc.v AS c, cd.v AS d
      FROM o ab
      JOIN o ac ON ac.u = ab.u
      JOIN o bc ON bc.u = ab.v AND bc.v = ac.v
      JOIN o cd ON cd.u = bc.v
      JOIN o bd ON bd.u = ab.v AND bd.v = cd.v
      JOIN o ad ON ad.u = ab.u AND ad.v = cd.v
    ),
    corners AS (
      SELECT a AS vid FROM quads UNION ALL SELECT b FROM quads
      UNION ALL SELECT c FROM quads UNION ALL SELECT d FROM quads
    ),
    cnt AS (SELECT vid, count(*) AS n_four_cliques FROM corners GROUP BY vid)
    SELECT v.vid, cast(coalesce(cnt.n_four_cliques, 0) AS BIGINT)
             AS n_four_cliques
    FROM verts v LEFT JOIN cnt USING (vid)
    """,
)
def graph_part_four_cliques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex 4-clique counts on the co-order part graph — kClist
    ordered expansion over the degree-oriented DAG (see
    graph/triangles.py:four_clique_counts for the join shape and skew
    bound). Extends graph_part_triangles one clique size up; dense
    same-brand order groups are exactly where 4-cliques live."""
    from citation_graph_spark.graph.triangles import four_clique_counts

    edges = part_graph_edges(spark, sf_dir)
    verts = (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    return four_clique_counts(edges, vertices=verts)


# --------------------------------------------------------------------------
# Bipartite butterfly counting — the bipartite analog of triangles
# (Sanei-Mehri, Sariyuce, Tirthapura 2018): a butterfly is a complete
# 2x2 biclique (c1, c2, p1, p2). Over the customer x part purchase
# graph it measures co-purchase cohesion, the bipartite counterpart of
# the same-brand co-order part graph used by the triangle family.
@register(
    "bipartite_butterflies",
    oracle="""
    WITH be AS (
      SELECT DISTINCT o_custkey AS c, l_partkey AS p
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    wedge AS (
      SELECT x1.c AS c1, x2.c AS c2, count(*) AS m
      FROM be x1 JOIN be x2 ON x1.p = x2.p AND x1.c < x2.c
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    contrib AS (
      SELECT c1 AS c, m * (m - 1) / 2 AS bf FROM wedge
      UNION ALL
      SELECT c2 AS c, m * (m - 1) / 2 AS bf FROM wedge
    ),
    cnt AS (SELECT c, sum(bf) AS n_butterflies FROM contrib GROUP BY c)
    SELECT cu.c_custkey AS custkey,
           cast(coalesce(cnt.n_butterflies, 0) AS BIGINT) AS n_butterflies
    FROM customer cu LEFT JOIN cnt ON cu.c_custkey = cnt.c
    """,
)
def bipartite_butterflies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer butterfly (2x2 biclique) counts over the distinct
    customer x part purchase graph. Wedges are keyed on the shared
    part (pairs of customers per part), so each customer pair (c1, c2)
    sharing m >= 2 parts contributes C(m, 2) butterflies to both
    endpoints — exact integers end-to-end.

    Scale shape: one distinct-edge shuffle, one wedge self-join keyed
    on the part, one (c1, c2) groupBy, one customer-keyed count. Hub
    skew lives in popular parts (O(deg_p^2) wedges); the standard
    mitigation at link-graph scale is side selection (center wedges on
    the side with smaller sum deg^2 — Sanei-Mehri et al. §4) plus a
    degree cap on the handful of super-hubs; the shape here is already
    the per-vertex-count-preserving variant (part-centered wedges give
    customer pair counts directly)."""
    t = load_tables(spark, sf_dir)
    be = (
        t["orders"]
        .select("o_orderkey", "o_custkey")
        .join(
            t["lineitem"].select("l_orderkey", "l_partkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    x1 = be.select(F.col("p").alias("p"), F.col("c").alias("c1"))
    x2 = be.select(F.col("p").alias("p"), F.col("c").alias("c2"))
    wedge = (
        x1.join(x2, "p")
        .filter(F.col("c1") < F.col("c2"))
        .groupBy("c1", "c2")
        .agg(F.count(F.lit(1)).alias("m"))
        .filter(F.col("m") >= 2)
    )
    bf = (F.col("m") * (F.col("m") - 1) / 2).cast("long").alias("bf")
    contrib = wedge.select(F.col("c1").alias("c"), bf).unionByName(
        wedge.select(F.col("c2").alias("c"), bf)
    )
    cnt = contrib.groupBy("c").agg(F.sum("bf").alias("n_butterflies"))
    return (
        t["customer"]
        .select(F.col("c_custkey").alias("custkey"))
        .join(cnt, F.col("custkey") == F.col("c"), "left")
        .select(
            "custkey",
            F.coalesce("n_butterflies", F.lit(0)).cast("long").alias(
                "n_butterflies"
            ),
        )
    )


# --------------------------------------------------------------------------
# Maximal independent set — deterministic-priority Luby rounds
# (graph/mis.py). The oracle replays the identical synchronous
# schedule as a recursive CTE whose working set carries one "card" row
# per active vertex plus the active symmetric adjacency; winner /
# touched flags are pure window functions over that single scan, and
# the per-round priority is the same int64 Lehmer hash both engines
# compute bit-exactly.
_MIS_Q = (
    "((({v}) % 2147483647) * ((48271 * it) % 2147483647)"
    " + ((16807 * it) % 2147483647)) % 2147483647 % 8388608"
    " * 1099511627776 + ({v})"
)


@register(
    "graph_part_mis",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTE},
    peel(it, kind, v, nb) AS (
      SELECT 1, 0, vid, CAST(NULL AS BIGINT) FROM verts
      UNION ALL SELECT 1, 1, src, dst FROM sym
      UNION ALL
      SELECT CASE WHEN kind = 0 AND win_v THEN it ELSE it + 1 END,
             CASE WHEN kind = 0 AND win_v THEN 2 ELSE kind END,
             v, nb
      FROM (
        SELECT *,
               max(CASE WHEN win_nb THEN 1 ELSE 0 END)
                 OVER (PARTITION BY v) AS touch_v,
               max(CASE WHEN win_v THEN 1 ELSE 0 END)
                 OVER (PARTITION BY nb) AS touch_nb
        FROM (
          SELECT *,
                 (minq_v IS NULL OR q_v < minq_v) AS win_v,
                 (kind = 1 AND q_nb < minq_nb) AS win_nb
          FROM (
            SELECT *,
                   min(q_nb) OVER (PARTITION BY v) AS minq_v,
                   min(q_v) OVER (PARTITION BY nb) AS minq_nb
            FROM (
              SELECT it, kind, v, nb,
                     {_MIS_Q.format(v='v')} AS q_v,
                     {_MIS_Q.format(v='nb')} AS q_nb
              FROM peel WHERE kind IN (0, 1) AND it <= 100
            ) q1
          ) q2
        ) q3
      ) q4
      WHERE (kind = 0 AND (win_v OR touch_v = 0))
         OR (kind = 1 AND NOT win_v AND touch_v = 0
             AND NOT win_nb AND touch_nb = 0)
    )
    SELECT vt.vid,
           CAST(CASE WHEN m.v IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS in_mis,
           CAST(coalesce(m.it, 0) AS BIGINT) AS mis_round
    FROM verts vt
    LEFT JOIN (SELECT v, it FROM peel WHERE kind = 2) m ON vt.vid = m.v
    """,
)
def graph_part_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal independent set on the co-order part graph via
    deterministic-priority Luby rounds (graph/mis.py) — distributed
    symmetry breaking: no two chosen parts are co-ordered, and every
    unchosen part conflicts with a chosen one (the seed structure for
    conflict-free scheduling / coloring over the same edge table the
    north-rule kernels run on)."""
    from citation_graph_spark.graph import maximal_independent_set

    edges = part_graph_edges(spark, sf_dir)
    return maximal_independent_set(edges, max_iter=100)


# --------------------------------------------------------------------------
# Maximal matching + 2-approx vertex cover — deterministic-priority
# parallel greedy rounds (graph/matching.py). The oracle replays the
# identical synchronous schedule as a recursive CTE whose working set
# is the active canonical edge list; each round expands every edge to
# its two endpoint views (a side cross join — the single allowed
# self-reference), finds the lexicographic (q, eid) minimum per
# endpoint with stacked window minima, conjoins the two endpoint
# verdicts with an (a, b) window, and retires every edge touching a
# winner — all in bit-exact int64 both engines share.
_MM_Q = (
    "((((a % 2147483647) * 1000003 + (b % 2147483647)) % 2147483647)"
    " * ((48271 * it) % 2147483647) + ((16807 * it) % 2147483647))"
    " % 2147483647"
)

_MM_CTE = f"""
    mm(it, kind, a, b) AS (
      SELECT 1, 0, src, dst FROM edges
      UNION ALL
      SELECT CASE WHEN win_e = 1 THEN it ELSE it + 1 END,
             CASE WHEN win_e = 1 THEN 2 ELSE 0 END,
             a, b
      FROM (
        SELECT *, max(touch_v) OVER (PARTITION BY a, b) AS touch_e
        FROM (
          SELECT *, max(win_e) OVER (PARTITION BY v) AS touch_v
          FROM (
            SELECT *, min(CASE WHEN winrow THEN 1 ELSE 0 END)
                        OVER (PARTITION BY a, b) AS win_e
            FROM (
              SELECT *, (q = mn1 AND eid = mn2) AS winrow
              FROM (
                SELECT *, min(CASE WHEN q = mn1 THEN eid END)
                            OVER (PARTITION BY v) AS mn2
                FROM (
                  SELECT *, min(q) OVER (PARTITION BY v) AS mn1
                  FROM (
                    SELECT it, a, b, side,
                           CASE WHEN side = 0 THEN a ELSE b END AS v,
                           {_MM_Q} AS q,
                           a * 2147483648 + b AS eid
                    FROM mm CROSS JOIN (VALUES (0), (1)) s(side)
                    WHERE kind = 0 AND it <= 100
                  ) q0
                ) q1
              ) q2
            ) q3
          ) q4
        ) q5
      ) q6
      WHERE side = 0 AND (win_e = 1 OR touch_e = 0)
    ),
    mates AS (
      SELECT a AS vid, b AS mate, it FROM mm WHERE kind = 2
      UNION ALL
      SELECT b AS vid, a AS mate, it FROM mm WHERE kind = 2
    )
"""


@register(
    "graph_part_matching",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTE},
    {_MM_CTE}
    SELECT vt.vid,
           CAST(coalesce(mt.mate, -1) AS BIGINT) AS mate,
           CAST(CASE WHEN mt.mate IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS matched,
           CAST(coalesce(mt.it, 0) AS BIGINT) AS match_round
    FROM verts vt LEFT JOIN mates mt ON vt.vid = mt.vid
    """,
)
def graph_part_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal matching on the co-order part graph via
    deterministic-priority parallel greedy rounds (graph/matching.py)
    — one-to-one pairing over the same edge table the north-rule
    kernels run on: each part paired with at most one co-ordered
    partner, no pairable pair left unpaired (the exclusive-pairing
    curation rung the transitive dedup_groups_minhash cannot
    express)."""
    from citation_graph_spark.graph import maximal_matching

    edges = part_graph_edges(spark, sf_dir)
    return maximal_matching(edges, max_iter=100)


@register(
    "graph_part_vertex_cover",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTE},
    {_MM_CTE}
    SELECT DISTINCT vid FROM mates
    """,
)
def graph_part_vertex_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-approximate minimum vertex cover (Gavril): the matched-vertex
    set of the maximal matching — every co-order edge has at least one
    endpoint in the set, and no algorithm can do better than half its
    size. The monitoring-placement / sample-audit primitive over the
    part graph."""
    from citation_graph_spark.graph import maximal_matching

    edges = part_graph_edges(spark, sf_dir)
    return (
        maximal_matching(edges, max_iter=100)
        .filter(F.col("matched") == 1)
        .select("vid")
    )


@register(
    "graph_part_coarsen",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTE},
    {_MM_CTE},
    svmap AS MATERIALIZED (
      SELECT vt.vid,
             CAST(CASE WHEN mt.mate IS NOT NULL
                       THEN least(vt.vid, mt.mate)
                       ELSE vt.vid END AS BIGINT) AS sv
      FROM verts vt LEFT JOIN mates mt ON vt.vid = mt.vid
    )
    SELECT least(sa.sv, sb.sv) AS a, greatest(sa.sv, sb.sv) AS b,
           count(*) AS w
    FROM edges e
      JOIN svmap sa ON sa.vid = e.src
      JOIN svmap sb ON sb.vid = e.dst
    WHERE sa.sv <> sb.sv
    GROUP BY 1, 2
    """,
)
def graph_part_coarsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One multilevel coarsening step (the METIS/Karypis–Kumar
    matching-contraction primitive — how billion-edge graphs get
    partitioned): contract each matched pair of the deterministic
    maximal matching into a supervertex labelled min(v, mate), then
    aggregate the quotient multigraph — (a, b, w) with w = number of
    original edges collapsed onto the supervertex pair, internal edges
    dropped. Matching halves (worst-case bounds) the vertex count per
    level; the quotient groupBy is the only new shuffle, keyed on the
    supervertex pair."""
    from citation_graph_spark.graph import maximal_matching

    edges = part_graph_edges(spark, sf_dir)
    m = maximal_matching(edges, max_iter=100)
    svmap = m.select(
        "vid",
        F.when(
            F.col("matched") == 1, F.least(F.col("vid"), F.col("mate"))
        )
        .otherwise(F.col("vid"))
        .cast("long")
        .alias("sv"),
    )
    sa = svmap.select(F.col("vid").alias("src"), F.col("sv").alias("sva"))
    sb = svmap.select(F.col("vid").alias("dst"), F.col("sv").alias("svb"))
    return (
        edges.select("src", "dst")
        .join(sa, "src")
        .join(sb, "dst")
        .filter(F.col("sva") != F.col("svb"))
        .select(
            F.least("sva", "svb").alias("a"),
            F.greatest("sva", "svb").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
    )


# --------------------------------------------------------------------------
_FIEDLER_ITERS = 40


@register(
    "graph_part_spectral_bisect",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTE},
    reach(v, l) AS (
      SELECT vid, vid FROM verts
      UNION
      SELECT s.dst, reach.l FROM reach JOIN sym s ON reach.v = s.src
    ),
    comp AS MATERIALIZED (SELECT v AS vid, min(l) AS c FROM reach GROUP BY v),
    topc AS MATERIALIZED (
      SELECT c FROM comp GROUP BY c ORDER BY count(*) DESC, c LIMIT 1
    ),
    cverts AS MATERIALIZED (SELECT vid FROM comp JOIN topc ON comp.c = topc.c),
    csym AS MATERIALIZED (
      SELECT s.src, s.dst FROM sym s JOIN cverts cv ON s.src = cv.vid
    ),
    cdeg AS MATERIALIZED (SELECT src AS vid, count(*) AS deg FROM csym GROUP BY src),
    params AS MATERIALIZED (
      SELECT (SELECT max(deg) FROM cdeg) + 1 AS sigma,
             (SELECT count(*) FROM cverts) AS n
    ),
    csyms AS MATERIALIZED (
      SELECT src, dst, CAST(1 AS BIGINT) AS w FROM csym
      UNION ALL
      SELECT d.vid, d.vid, CAST(p.sigma - d.deg AS BIGINT)
      FROM cdeg d CROSS JOIN params p
    ),
    fied(it, v, x, z) AS (
      SELECT 0, vid, CAST((vid % 7) - 3 AS BIGINT),
             CAST((vid % 7) - 3 AS BIGINT) FROM cverts
      UNION ALL
      SELECT z.it, z.v,
             -- overflow-guarded rescale: the wide branch mirrors the
             -- engine's 2^16 pre-shift (graph/spectral.py
             -- FIEDLER_SAFE_SPREAD) so both stay int64-exact past 1M
             -- vertices; every gate-scale graph takes the narrow branch
             CAST(CASE WHEN max(z.z) OVER () = min(z.z) OVER () THEN 0
                  WHEN max(z.z) OVER () - min(z.z) OVER ()
                       <= {FIEDLER_SAFE_SPREAD}
                  THEN (z.z - min(z.z) OVER ()) * {2 * 10000}
                       // (max(z.z) OVER () - min(z.z) OVER ())
                       - 10000
                  ELSE ((z.z - min(z.z) OVER ()) // {FIEDLER_SHIFT})
                       * {2 * 10000}
                       // greatest((max(z.z) OVER () - min(z.z) OVER ())
                                   // {FIEDLER_SHIFT}, 1)
                       - 10000 END AS BIGINT),
             CAST(z.z AS BIGINT)
      FROM (
        SELECT y.it, y.v, p.n * y.y - sum(y.y) OVER () AS z
        FROM (
          SELECT w.it + 1 AS it, s.src AS v, sum(s.w * w.x) AS y
          FROM fied w JOIN csyms s ON w.v = s.dst
          WHERE w.it < {_FIEDLER_ITERS}
          GROUP BY 1, 2
        ) y CROSS JOIN params p
      ) z
    )
    SELECT v AS vid, x AS score_q4, CAST(z > 0 AS INT) AS side
    FROM fied WHERE it = {_FIEDLER_ITERS}
    """,
)
def graph_part_spectral_bisect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fiedler-sign spectral bisection of the part graph's largest
    brand component (graph/spectral.py): 40 rounds of integer deflated
    power iteration on σI − L, per-round mean projection cleared of
    its /n (z = n·y − Σy) and min-shifted before the integer rescale
    so Spark's truncating ``div`` and DuckDB's flooring ``//`` agree —
    the recursive-CTE oracle replays every round bit-exactly. The
    balanced-cut primitive that pairs with graph_part_coarsen into a
    multilevel partitioner."""
    from citation_graph_spark.graph.spectral import spectral_bisect

    edges = part_graph_edges(spark, sf_dir).select("src", "dst")
    return spectral_bisect(edges, max_iter=_FIEDLER_ITERS)


# the coarsen -> quotient-CC -> quotient-Fiedler CTE chain, shared by
# the multilevel query and its refinement stage
_MULTILEVEL_CORE = f"""
    {_MM_CTE},
    svmap AS MATERIALIZED (
      SELECT vt.vid,
             CAST(CASE WHEN mt.mate IS NOT NULL
                       THEN least(vt.vid, mt.mate)
                       ELSE vt.vid END AS BIGINT) AS sv
      FROM verts vt LEFT JOIN mates mt ON vt.vid = mt.vid
    ),
    qedges AS MATERIALIZED (
      SELECT DISTINCT least(sa.sv, sb.sv) AS a, greatest(sa.sv, sb.sv) AS b
      FROM edges e
        JOIN svmap sa ON sa.vid = e.src
        JOIN svmap sb ON sb.vid = e.dst
      WHERE sa.sv <> sb.sv
    ),
    qsym AS MATERIALIZED (SELECT a AS src, b AS dst FROM qedges
             UNION ALL SELECT b, a FROM qedges),
    qreach(v, l) AS (
      SELECT DISTINCT src, src FROM qsym
      UNION
      SELECT s.dst, qreach.l FROM qreach JOIN qsym s ON qreach.v = s.src
    ),
    qcomp AS MATERIALIZED (SELECT v AS vid, min(l) AS c FROM qreach GROUP BY v),
    qtopc AS MATERIALIZED (
      SELECT c FROM qcomp GROUP BY c ORDER BY count(*) DESC, c LIMIT 1
    ),
    qcverts AS MATERIALIZED (SELECT vid FROM qcomp JOIN qtopc ON qcomp.c = qtopc.c),
    qcsym AS MATERIALIZED (
      SELECT s.src, s.dst FROM qsym s JOIN qcverts cv ON s.src = cv.vid
    ),
    qcdeg AS MATERIALIZED (SELECT src AS vid, count(*) AS deg FROM qcsym GROUP BY src),
    qparams AS MATERIALIZED (
      SELECT (SELECT max(deg) FROM qcdeg) + 1 AS sigma,
             (SELECT count(*) FROM qcverts) AS n
    ),
    qcsyms AS MATERIALIZED (
      SELECT src, dst, CAST(1 AS BIGINT) AS w FROM qcsym
      UNION ALL
      SELECT d.vid, d.vid, CAST(p.sigma - d.deg AS BIGINT)
      FROM qcdeg d CROSS JOIN qparams p
    ),
    qfied(it, v, x, z) AS (
      SELECT 0, vid, CAST((vid % 7) - 3 AS BIGINT),
             CAST((vid % 7) - 3 AS BIGINT) FROM qcverts
      UNION ALL
      SELECT z.it, z.v,
             -- overflow-guarded rescale: the wide branch mirrors the
             -- engine's 2^16 pre-shift (graph/spectral.py
             -- FIEDLER_SAFE_SPREAD) so both stay int64-exact past 1M
             -- vertices; every gate-scale graph takes the narrow branch
             CAST(CASE WHEN max(z.z) OVER () = min(z.z) OVER () THEN 0
                  WHEN max(z.z) OVER () - min(z.z) OVER ()
                       <= {FIEDLER_SAFE_SPREAD}
                  THEN (z.z - min(z.z) OVER ()) * {2 * 10000}
                       // (max(z.z) OVER () - min(z.z) OVER ())
                       - 10000
                  ELSE ((z.z - min(z.z) OVER ()) // {FIEDLER_SHIFT})
                       * {2 * 10000}
                       // greatest((max(z.z) OVER () - min(z.z) OVER ())
                                   // {FIEDLER_SHIFT}, 1)
                       - 10000 END AS BIGINT),
             CAST(z.z AS BIGINT)
      FROM (
        SELECT y.it, y.v, p.n * y.y - sum(y.y) OVER () AS z
        FROM (
          SELECT w.it + 1 AS it, s.src AS v, sum(s.w * w.x) AS y
          FROM qfied w JOIN qcsyms s ON w.v = s.dst
          WHERE w.it < {_FIEDLER_ITERS}
          GROUP BY 1, 2
        ) y CROSS JOIN qparams p
      ) z
    )
"""


@register(
    "graph_part_multilevel_partition",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTE},
    {_MULTILEVEL_CORE}
    SELECT sv.vid, CAST(f.z > 0 AS INT) AS side
    FROM svmap sv
      JOIN qfied f ON f.v = sv.sv AND f.it = {_FIEDLER_ITERS}
    """,
)
def graph_part_multilevel_partition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One full multilevel-partitioner cycle (the METIS recipe, run
    end-to-end on engine kernels): matching-contraction coarsening
    (graph_part_coarsen's quotient, unweighted), Fiedler-sign spectral
    bisection of the coarse graph's largest component
    (graph/spectral.py), and projection of the coarse side labels back
    through the supervertex map to every original vertex. Returns
    (vid, side) for the members of the bisected component. Every stage
    is the already-oracle-checked kernel; the oracle chains the same
    three replays in one SQL statement.

    Memoized per (session, sf_dir) like corpus_tables: the refine and
    quality queries chain on this result, and the matching+Fiedler
    chain is ~100 synchronized rounds — re-running it per downstream
    query models nothing (every stage is deterministic, so the memo is
    value-identical to a fresh run)."""
    from citation_graph_spark.graph import maximal_matching
    from citation_graph_spark.graph.spectral import spectral_bisect

    memo_key = (spark.sparkContext.applicationId, sf_dir, "multilevel")
    hit = _memo_lookup(_PARTITION_MEMO, memo_key)
    if hit is not None:
        return hit

    edges = part_graph_edges(spark, sf_dir)
    m = maximal_matching(edges, max_iter=100)
    svmap = m.select(
        "vid",
        F.when(
            F.col("matched") == 1, F.least(F.col("vid"), F.col("mate"))
        )
        .otherwise(F.col("vid"))
        .cast("long")
        .alias("sv"),
    ).localCheckpoint(eager=True)
    sa = svmap.select(F.col("vid").alias("src"), F.col("sv").alias("sva"))
    sb = svmap.select(F.col("vid").alias("dst"), F.col("sv").alias("svb"))
    qedges = (
        edges.select("src", "dst")
        .join(sa, "src")
        .join(sb, "dst")
        .filter(F.col("sva") != F.col("svb"))
        .select(
            F.least("sva", "svb").alias("src"),
            F.greatest("sva", "svb").alias("dst"),
        )
        .distinct()
    )
    coarse = spectral_bisect(qedges, max_iter=_FIEDLER_ITERS)
    out = (
        svmap.join(coarse.select(F.col("vid").alias("sv"), "side"), "sv")
        .select("vid", "side")
        .localCheckpoint(eager=True)
    )
    _PARTITION_MEMO[memo_key] = out
    return out


_REFINE_ROUNDS = 5
_REFINE_P = 8589934592  # 2^33 — (gain, smaller-vid) priority encoding

# per-(session, sf_dir) memo of the partition pipeline's chained
# stages (multilevel sides, refined sides) — quality→refine→multilevel
# is a three-deep call chain and each stage is deterministic, so the
# memoized, eagerly-checkpointed result is value-identical to a fresh
# run while costing a scan instead of the full matching/Fiedler replay
_PARTITION_MEMO: dict[tuple, DataFrame] = {}


# the two-phase refinement recursion body (shared by the refine query
# and the quality rollup)
_REFZ_BODY = f"""
      SELECT 0, vid, side, CAST(0 AS BIGINT) FROM proj
      UNION ALL
      SELECT r.it + 1, m.dst,
        CASE WHEN (r.it % 2) = 0
             THEN max(CASE WHEN m.is_self THEN r.side END)
             WHEN max(CASE WHEN m.is_self THEN r.gain END) > 0
                  AND max(CASE WHEN m.is_self THEN
                        r.gain * {_REFINE_P} + ({_REFINE_P} - r.v) END)
                      > coalesce(max(CASE WHEN NOT m.is_self
                                          AND r.gain > 0 THEN
                        r.gain * {_REFINE_P} + ({_REFINE_P} - r.v) END),
                        -1)
             THEN 1 - max(CASE WHEN m.is_self THEN r.side END)
             ELSE max(CASE WHEN m.is_self THEN r.side END) END,
        CASE WHEN (r.it % 2) = 0 THEN
          CASE WHEN max(CASE WHEN m.is_self THEN r.side END) = 1
               THEN sum(CASE WHEN NOT m.is_self
                             THEN 1 - r.side ELSE 0 END)
                    - sum(CASE WHEN NOT m.is_self
                               THEN r.side ELSE 0 END)
               ELSE sum(CASE WHEN NOT m.is_self
                             THEN r.side ELSE 0 END)
                    - sum(CASE WHEN NOT m.is_self
                               THEN 1 - r.side ELSE 0 END) END
        ELSE CAST(0 AS BIGINT) END
      FROM refz r JOIN rsymx m ON r.v = m.src
      WHERE r.it < {2 * _REFINE_ROUNDS}
      GROUP BY r.it, m.dst"""




@register(
    "graph_part_partition_refine",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTE},
    {_MULTILEVEL_CORE},
    proj AS MATERIALIZED (
      SELECT sv.vid, CAST(f.z > 0 AS INT) AS side
      FROM svmap sv
        JOIN qfied f ON f.v = sv.sv AND f.it = {_FIEDLER_ITERS}
    ),
    rsym AS MATERIALIZED (
      SELECT s.src, s.dst FROM sym s JOIN proj p ON s.src = p.vid
    ),
    rsymx AS MATERIALIZED (
      SELECT src, dst, false AS is_self FROM rsym
      UNION ALL
      SELECT vid, vid, true FROM proj
    ),
    -- two recursive steps per refinement round: even→odd computes
    -- gains (side carried by self-message), odd→even applies the
    -- independent-set flips (positive gain, beats every positive-gain
    -- neighbor on the (gain, smaller-vid) priority)
    refz(it, v, side, gain) AS ({_REFZ_BODY})
    SELECT v AS vid, side FROM refz WHERE it = {2 * _REFINE_ROUNDS}
    """,
)
def graph_part_partition_refine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The third METIS stage: Fiduccia–Mattheyses-style parallel cut
    refinement of the projected multilevel bisection
    (graph/spectral.py ``refine_bisection``) — 5 synchronized rounds
    of independent-set positive-gain flips, cut size strictly
    decreasing whenever a flip happens. The oracle replays the same
    schedule as a two-phase full-state recursive CTE (gain phase /
    flip phase), chained onto the multilevel oracle so engine and SQL
    refine the identical starting partition."""
    from citation_graph_spark.graph.spectral import refine_bisection

    memo_key = (spark.sparkContext.applicationId, sf_dir, "refine")
    hit = _memo_lookup(_PARTITION_MEMO, memo_key)
    if hit is not None:
        return hit

    sides = graph_part_multilevel_partition(spark, sf_dir)
    edges = part_graph_edges(spark, sf_dir).select("src", "dst")
    comp_edges = edges.join(
        sides.select(F.col("vid").alias("src")), "src", "left_semi"
    )
    out = refine_bisection(
        comp_edges, sides, rounds=_REFINE_ROUNDS
    ).localCheckpoint(eager=True)
    _PARTITION_MEMO[memo_key] = out
    return out


@register(
    "graph_part_partition_quality",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTE},
    {_MULTILEVEL_CORE},
    proj AS MATERIALIZED (
      SELECT sv.vid, CAST(f.z > 0 AS INT) AS side
      FROM svmap sv
        JOIN qfied f ON f.v = sv.sv AND f.it = {_FIEDLER_ITERS}
    ),
    rsym AS MATERIALIZED (
      SELECT s.src, s.dst FROM sym s JOIN proj p ON s.src = p.vid
    ),
    rsymx AS MATERIALIZED (
      SELECT src, dst, false AS is_self FROM rsym
      UNION ALL
      SELECT vid, vid, true FROM proj
    ),
    refz(it, v, side, gain) AS ({_REFZ_BODY}),
    fin AS MATERIALIZED (
      SELECT v AS vid, side FROM refz WHERE it = {2 * _REFINE_ROUNDS}
    ),
    cut AS (
      SELECT count(*) AS cut_edges
      FROM edges e
        JOIN fin a ON a.vid = e.src
        JOIN fin b ON b.vid = e.dst
      WHERE a.side <> b.side
    )
    SELECT (SELECT count(*) FROM fin WHERE side = 0) AS n_side0,
           (SELECT count(*) FROM fin WHERE side = 1) AS n_side1,
           (SELECT cut_edges FROM cut) AS cut_edges,
           (SELECT 1000 * least(
              (SELECT count(*) FROM fin WHERE side = 0),
              (SELECT count(*) FROM fin WHERE side = 1))
            // greatest(
              (SELECT count(*) FROM fin WHERE side = 0),
              (SELECT count(*) FROM fin WHERE side = 1), 1))
           AS balance_milli
    """,
)
def graph_part_partition_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-row quality report for the refined multilevel partition:
    side sizes, cut-edge count, and the balance ratio
    1000·min/max (milli) — the numbers a partitioner is judged by,
    emitted by the engine itself and replayed by the oracle off the
    same chained state."""
    sides = graph_part_partition_refine(spark, sf_dir)  # checkpointed memo
    edges = part_graph_edges(spark, sf_dir).select("src", "dst")
    a = sides.select(F.col("vid").alias("src"), F.col("side").alias("sa"))
    b = sides.select(F.col("vid").alias("dst"), F.col("side").alias("sb"))
    cut = (
        edges.join(a, "src").join(b, "dst")
        .filter(F.col("sa") != F.col("sb"))
        .count()
    )
    n0 = sides.filter(F.col("side") == 0).count()
    n1 = sides.filter(F.col("side") == 1).count()
    bal = (1000 * min(n0, n1)) // max(n0, n1, 1)
    return spark.createDataFrame(
        [(n0, n1, cut, bal)],
        "n_side0 long, n_side1 long, cut_edges long, balance_milli long",
    )


# --------------------------------------------------------------------------
@register(
    "graph_part_widest_path",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTE},
    wedges AS (
      SELECT a.pk AS src, b.pk AS dst, count(*) AS w
      FROM wb a JOIN wb b
        ON a.okey = b.okey AND a.brand = b.brand AND a.pk < b.pk
      GROUP BY a.pk, b.pk
    ),
    ex AS (
      SELECT src, dst, w FROM wedges
      UNION ALL SELECT dst, src, w FROM wedges
      UNION ALL SELECT vid, vid, {_WIDEST_INF} FROM verts
    ),
    caps(it, v, d) AS (
      SELECT 0, vid,
             CASE WHEN {_SEED_PRED} THEN cast({_WIDEST_INF} AS BIGINT)
                  ELSE NULL END
      FROM verts
      UNION ALL
      SELECT it, v, d FROM (
        SELECT s.it + 1 AS it, x.dst AS v,
               max(CASE WHEN s.d IS NULL THEN NULL
                        ELSE least(s.d, x.w) END) AS d
        FROM caps s JOIN ex x ON s.v = x.src
        WHERE s.it < {_SSSP_ITERS}
        GROUP BY s.it + 1, x.dst
      )
    )
    SELECT v AS vid,
           CAST(CASE WHEN d = {_WIDEST_INF} THEN -1 ELSE d END AS BIGINT)
             AS width
    FROM caps WHERE it = {_SSSP_ITERS} AND d IS NOT NULL
    """,
)
def graph_part_widest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source widest (bottleneck) paths from the every-100th-part
    seed set, edge capacity = co-order multiplicity, capped at 12
    relaxation rounds on both engines — the max-bandwidth-route dual of
    graph_part_sssp: the engine runs the same frontier relaxation
    (``traversal._relax``) with (max, min) replacing (min, +), from
    ``traversal._WIDEST_INF`` on the seeds. The oracle starts from the
    same imported sentinel and carries the full width vector per round
    via self-loops of that capacity; NULL capacities are explicitly
    guarded because SQL least() skips NULLs."""
    t = load_tables(spark, sf_dir)
    items = t["lineitem"].select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pk")
    ).distinct()
    wb = items.join(
        F.broadcast(t["part"].select("p_partkey", "p_brand")),
        F.col("pk") == F.col("p_partkey"),
    ).select("okey", "pk", F.col("p_brand").alias("brand"))
    a = wb.select("okey", "brand", F.col("pk").alias("src"))
    b = wb.select("okey", "brand", F.col("pk").alias("dst"))
    wedges = (
        a.join(b, ["okey", "brand"])
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    verts = (
        wedges.select(F.col("src").alias("vid"))
        .unionByName(wedges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    seeds = verts.filter(F.col("vid") % 100 == 0)
    return widest_paths(wedges, seeds, max_iter=_SSSP_ITERS, directed=False)


# --------------------------------------------------------------------------
# Greedy graph coloring — Jones–Plassmann deterministic-priority
# rounds (graph/coloring.py). The oracle replays the identical
# synchronous schedule as a recursive CTE: the working set carries one
# card per vertex (nb = vid, so its color is visible to both endpoint
# partitions) plus the permanent symmetric adjacency; winner flags are
# the MIS windows restricted to uncolored endpoints, and the mex is
# computed with three stacked windows (first-occurrence flag over
# (v, color), a running count of distinct colors strictly before, and
# a first-gap minimum with a total-count fallback) — no aggregates in
# the recursive term, everything bit-exact int64.
@register(
    "graph_part_coloring",
    oracle=f"""
    WITH RECURSIVE {_GRAPH_CTE},
    peel(it, kind, v, nb, color, cr) AS (
      SELECT 1, 0, vid, vid, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
      FROM verts
      UNION ALL SELECT 1, 1, src, dst, NULL, NULL FROM sym
      UNION ALL
      SELECT it + 1, kind, v, nb,
             CASE WHEN kind = 0 AND win THEN mex ELSE color END,
             CASE WHEN kind = 0 AND win THEN it ELSE cr END
      FROM (
        SELECT *,
               coalesce(min(CASE WHEN d AND col_nb <> coalesce(pre, 0)
                                 THEN coalesce(pre, 0) END)
                          OVER (PARTITION BY v),
                        coalesce(max(CASE WHEN qual THEN tot END)
                                   OVER (PARTITION BY v), 0)) AS mex
        FROM (
          SELECT *,
                 sum(CASE WHEN d THEN 1 ELSE 0 END)
                   OVER (PARTITION BY v, qual ORDER BY col_nb, nb
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS pre,
                 sum(CASE WHEN d THEN 1 ELSE 0 END)
                   OVER (PARTITION BY v, qual) AS tot
          FROM (
            SELECT *,
                   CASE WHEN qual THEN
                     (row_number() OVER (
                        PARTITION BY v, qual, col_nb ORDER BY nb) = 1)
                   ELSE FALSE END AS d
            FROM (
              SELECT *,
                     (kind = 1 AND win AND col_nb IS NOT NULL) AS qual
              FROM (
                SELECT *,
                       (col_v IS NULL
                        AND (minq_nb IS NULL OR q_v < minq_nb)) AS win
                FROM (
                  SELECT *,
                         min(CASE WHEN kind = 1 AND col_nb IS NULL
                                  THEN q_nb END)
                           OVER (PARTITION BY v) AS minq_nb
                  FROM (
                    SELECT *,
                           max(CASE WHEN kind = 0 THEN color END)
                             OVER (PARTITION BY v) AS col_v,
                           max(CASE WHEN kind = 0 THEN color END)
                             OVER (PARTITION BY nb) AS col_nb,
                           sum(CASE WHEN kind = 0 AND color IS NULL
                                    THEN 1 ELSE 0 END) OVER () AS n_unc
                    FROM (
                      SELECT it, kind, v, nb, color, cr,
                             {_MIS_Q.format(v='v')} AS q_v,
                             {_MIS_Q.format(v='nb')} AS q_nb
                      FROM peel WHERE it <= 100
                    ) q0
                  ) q1
                ) q2
              ) q3
            ) q4
          ) q5
        ) q6
      ) q7
      WHERE n_unc > 0
    )
    SELECT vt.vid,
           CAST(coalesce(c.color, -1) AS BIGINT) AS color,
           CAST(coalesce(c.cr, 0) AS BIGINT) AS color_round
    FROM verts vt LEFT JOIN (
      SELECT DISTINCT v, color, cr
      FROM peel WHERE kind = 0 AND color IS NOT NULL
    ) c ON vt.vid = c.v
    """,
)
def graph_part_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy (Jones–Plassmann) coloring of the co-order part graph —
    the conflict-free scheduling primitive: parts with equal colors are
    pairwise never co-ordered, so each color class can be processed /
    updated / locked concurrently with zero conflicts. Shares the MIS
    winner plan per round plus one winner-keyed mex aggregation."""
    from citation_graph_spark.graph import greedy_coloring

    edges = part_graph_edges(spark, sf_dir)
    return greedy_coloring(edges, max_iter=100)
