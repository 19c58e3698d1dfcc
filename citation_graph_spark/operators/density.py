"""HDBSCAN-class density hierarchy over the embeddings table.

Reference parity: clustering/hdbscan.py:36-42 fits sklearn HDBSCAN
(min_cluster_size/min_samples) on the driver-memory embedding dict and
scores it at :45-64; scripts/optimize_clustering.py sweeps it as one of
the four clustering algorithms.  True HDBSCAN is sequential (Prim over
the implicit complete mutual-reachability graph + condensed-tree
stability selection).  The distributable form implemented here is the
standard approximation with a documented relationship to it:

1. ε-bounded kNN **core distances**: core²(p) = the (min_samples−1)-th
   smallest neighbor dist² within radius ``eps2_max`` (min_samples
   counts the point itself, matching sklearn); points with fewer than
   that many ε-neighbors have undefined (infinite) core distance and
   are noise at every level.
2. **Mutual-reachability graph**, ε-bounded: for each ε-pair with both
   cores defined, w = greatest(dist², core²a, core²b).  max() commutes
   with squaring, so integer squared distances give the exact same
   order as true mutual-reachability distances — all int64,
   cross-engine exact.
3. One distributed **Borůvka MSF** of that graph (graph/msf.py).
4. **Hierarchy cuts**: for each requested level L, clusters = connected
   components of the forest edges with w ≤ L; components smaller than
   ``min_cluster_size`` are noise (the flat analog of HDBSCAN's
   condensed-tree minimum size), everything outside is noise.  This is
   exactly DBSCAN* at each level (Campello et al. 2013): a point
   with core² > L is automatically a singleton because every edge
   touching it weighs ≥ core² > L.

vs true HDBSCAN: (a) the graph is ε-bounded, so merges farther than
``eps2_max`` never happen — pairs beyond it are separate clusters at
every level (HDBSCAN with an ε upper bound, its documented
``cluster_selection_epsilon`` regime); (b) cluster selection is a
fixed-level grid, not excess-of-mass stability — callers get the
levelled hierarchy and pick, rather than the library picking.  Both
trades are what make the kernel a pure composition of scale-safe
pieces: the pluggable ε-join (all-pairs baseline / IVF blocking),
one O(log n)-round MSF, and O(levels) component runs over a forest
that has only n−1 edges.

The DuckDB oracle never builds the MSF: it cuts the mutual-
reachability *graph* directly per level with a recursive-CTE
reachability.  A spanning forest preserves connectivity at every
threshold, so engine (MSF cut) and oracle (graph cut) must agree
exactly — the gate row therefore checks the distributed Borůvka
construction end-to-end, not just the labelling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from citation_graph_spark.graph import connected_components
from citation_graph_spark.graph.msf import boruvka_msf
from citation_graph_spark.operators import register
from citation_graph_spark.operators.dbscan import (
    _IVF_NPROBE_EPS,
    eps_pairs,
)
from citation_graph_spark.tables import load_tables

# ε-bound for the mutual-reachability graph: wide enough that every
# fixture point has a defined core distance (500/500 at sf0.01) while
# the ε-graph stays sparse (~2.8k of 124.7k possible pairs)
_EPS2_MAX = 1_500_000
_MIN_SAMPLES = 4
_MIN_CLUSTER_SIZE = 5
# cut grid chosen on the fixture's k-dist spectrum (p5≈1.28M,
# p95≈1.45M): the three levels produce materially different labelings
# (noise 457 → 240 → ~60 at sf0.01) so the gate exercises the
# hierarchy, not one labelling three times
_LEVELS = (1_310_000, 1_370_000, 1_430_000)


def core_distances(pairs: DataFrame, min_samples: int) -> DataFrame:
    """(v1, v2, dist2) symmetric ε-pairs → (vec_id, core2).

    core2 = the (min_samples−1)-th smallest neighbor dist² (the point
    itself is the remaining sample, per sklearn's min_samples).  Rows
    exist only for points with enough ε-neighbors; the k-th-smallest
    *value* is tie-order-insensitive, so the (dist2, v2) ordering is
    shared with the oracle purely for determinism of the row, not the
    value.  min_samples <= 1 means the point itself satisfies the
    density requirement: every pair endpoint gets core2 = 0 (sklearn's
    min_samples=1 semantics), with no kNN rank pass at all."""
    k = min_samples - 1
    if k <= 0:
        return (
            pairs.select(F.col("v1").alias("vec_id"))
            .distinct()
            .withColumn("core2", F.lit(0).cast("long"))
        )
    w = Window.partitionBy("v1").orderBy("dist2", "v2")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == k)
        .select(F.col("v1").alias("vec_id"), F.col("dist2").alias("core2"))
    )


def mr_lineage(pairs: DataFrame, core: DataFrame) -> DataFrame:
    """Mutual-reachability edge lineage (src, dst, w) from symmetric
    ε-pairs (v1, v2, dist2) and per-point core distances — exposed
    unchecked-pointed so the plan-regression suite can pin the shape
    end-to-end (candidate generation → core window → this join must
    never contain a cartesian product)."""
    return (
        pairs.filter(F.col("v1") < F.col("v2"))
        .join(
            core.select(F.col("vec_id").alias("v1"), F.col("core2").alias("ca")), "v1"
        )
        .join(
            core.select(F.col("vec_id").alias("v2"), F.col("core2").alias("cb")), "v2"
        )
        .select(
            F.col("v1").alias("src"),
            F.col("v2").alias("dst"),
            F.greatest("dist2", "ca", "cb").alias("w"),
        )
    )


def mutual_reachability_edges(
    emb: DataFrame,
    eps2_max: int = _EPS2_MAX,
    min_samples: int = _MIN_SAMPLES,
    candidates: DataFrame | str = "auto",
    nprobe: int = _IVF_NPROBE_EPS,
) -> tuple[DataFrame, DataFrame]:
    """Returns (mr_edges(src, dst, w), core(vec_id, core2)).

    Edge weight w = greatest(dist², core²src, core²dst) over the
    ε-bounded pair graph; endpoints must both have a defined core
    distance.  ``candidates`` plugs the ε-join source exactly as in
    ``dbscan_assign`` (all-pairs baseline below the auto threshold,
    IVF inverted-list blocking above)."""
    pairs = eps_pairs(
        emb, eps2_max, candidates, nprobe=nprobe, keep_dist2=True
    ).persist()
    core = core_distances(pairs, min_samples).persist()
    mr = mr_lineage(pairs, core).localCheckpoint(eager=True)
    pairs.unpersist()
    return mr, core


def hdbscan_cut_labels(
    emb: DataFrame,
    levels: tuple[int, ...] = _LEVELS,
    eps2_max: int = _EPS2_MAX,
    min_samples: int = _MIN_SAMPLES,
    min_cluster_size: int = _MIN_CLUSTER_SIZE,
    candidates: DataFrame | str = "auto",
    nprobe: int = _IVF_NPROBE_EPS,
) -> DataFrame:
    """(vec_id, embedding) → (level, vec_id, cluster) for every level.

    cluster = min vec_id of the component (deterministic,
    order-insensitive, SURVEY §7.2(c)); −1 is noise.  One MSF serves
    every level, and the level cuts are INCREMENTAL: only the lowest
    level runs connected components over the full n-vertex forest;
    every higher level contracts the previous level's components to
    supervertices and runs CC on the quotient graph (vertices = the
    previous level's component ids, edges = forest edges with
    prev < w ≤ level, endpoints mapped to their component).  Cuts of
    the same forest are nested, so quotient connectivity equals direct
    connectivity, and because each component id is already the min vid
    of its members, the quotient CC's min-label IS the merged
    component's min vid — the labelling semantics compose exactly.
    At scale this turns an O(levels) full-graph CC bill into one
    full-graph CC plus (levels−1) runs over #components-sized graphs."""
    mr, core = mutual_reachability_edges(
        emb, eps2_max, min_samples, candidates, nprobe
    )
    vids = core.select(F.col("vec_id").alias("vid")).persist()
    forest = boruvka_msf(mr, vertices=vids).persist()
    non_core = (
        emb.select("vec_id")
        .join(core.select("vec_id"), "vec_id", "left_anti")
        .localCheckpoint(eager=True)
    )
    core.unpersist()

    per_level: list[DataFrame] = []
    prev_lv: int | None = None
    comp: DataFrame | None = None
    for lv in sorted(levels):
        if comp is None:
            comp = connected_components(
                forest.filter(F.col("w") <= lv).select(
                    "src", "dst", F.lit(1.0).alias("weight")
                ),
                vertices=vids,
            ).localCheckpoint(eager=True)
        else:
            inc = forest.filter(
                (F.col("w") > prev_lv) & (F.col("w") <= lv)
            )
            quotient_edges = (
                inc.join(
                    comp.select(
                        F.col("vid").alias("src"),
                        F.col("component").alias("qsrc"),
                    ),
                    "src",
                )
                .join(
                    comp.select(
                        F.col("vid").alias("dst"),
                        F.col("component").alias("qdst"),
                    ),
                    "dst",
                )
                .select(
                    F.col("qsrc").alias("src"),
                    F.col("qdst").alias("dst"),
                    F.lit(1.0).alias("weight"),
                )
                .filter(F.col("src") != F.col("dst"))
            )
            quotient_vids = comp.select(
                F.col("component").alias("vid")
            ).distinct()
            qcomp = connected_components(quotient_edges, vertices=quotient_vids)
            comp = (
                comp.join(
                    qcomp.select(
                        F.col("vid").alias("component"),
                        F.col("component").alias("merged"),
                    ),
                    "component",
                )
                .select("vid", F.col("merged").alias("component"))
                .localCheckpoint(eager=True)
            )
        prev_lv = lv
        sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
        lab = (
            comp.join(F.broadcast(sizes), "component")
            .select(
                F.col("vid").alias("vec_id"),
                F.when(F.col("sz") >= min_cluster_size, F.col("component"))
                .otherwise(F.lit(-1))
                .cast("long")
                .alias("cluster"),
            )
            .unionByName(
                non_core.select(
                    "vec_id", F.lit(-1).cast("long").alias("cluster")
                )
            )
            .select(F.lit(lv).cast("long").alias("level"), "vec_id", "cluster")
        )
        per_level.append(lab)

    out = per_level[0]
    for p in per_level[1:]:
        out = out.unionByName(p)
    out = out.localCheckpoint(eager=True)
    forest.unpersist()
    vids.unpersist()
    return out


def _hdbscan_oracle(
    eps2_max: int,
    min_samples: int,
    min_cluster_size: int,
    levels: tuple[int, ...],
    ivf: bool = False,
) -> str:
    """DuckDB replay: same core distances and mutual-reachability graph,
    but components per level straight off the graph (recursive CTE) —
    no MSF — so agreement proves forest cuts ≡ graph cuts.  ``ivf``
    swaps the exact all-pairs ε-graph for the shared IVF blocking spec
    (dedup.ivf_cand_ctes), mirroring the engine's ``candidates="ivf"``
    path so the blocked pipeline is checked end-to-end too."""
    k = min_samples - 1
    reach_ctes = ",\n".join(
        f"""
    e{i} AS (
      SELECT src, dst FROM mr WHERE w <= {lv}
      UNION ALL
      SELECT dst AS src, src AS dst FROM mr WHERE w <= {lv}
    ),
    reach{i}(v, l) AS (
      SELECT vec_id, vec_id FROM core
      UNION
      SELECT e{i}.dst, reach{i}.l FROM reach{i} JOIN e{i} ON reach{i}.v = e{i}.src
    ),
    comp{i} AS (SELECT v AS vec_id, min(l) AS c FROM reach{i} GROUP BY v),
    sz{i} AS (SELECT c, count(*) AS sz FROM comp{i} GROUP BY c),
    lab{i} AS (
      SELECT CAST({lv} AS BIGINT) AS level, comp{i}.vec_id,
             CASE WHEN sz{i}.sz >= {min_cluster_size}
                  THEN comp{i}.c ELSE -1 END AS cluster
      FROM comp{i} JOIN sz{i} ON comp{i}.c = sz{i}.c
      UNION ALL
      SELECT CAST({lv} AS BIGINT), vec_id, CAST(-1 AS BIGINT)
      FROM n WHERE vec_id NOT IN (SELECT vec_id FROM core)
    )"""
        for i, lv in enumerate(levels)
    )
    selects = "\n    UNION ALL\n    ".join(
        f"SELECT level, vec_id, cluster FROM lab{i}" for i in range(len(levels))
    )
    if ivf:
        from citation_graph_spark.operators.dedup import ivf_cand_ctes

        graph_ctes = f"""q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> cast(floor(cast(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ),
    {ivf_cand_ctes(_IVF_NPROBE_EPS)},
    n AS (SELECT vec_id, qv, list_dot_product(qv, qv) AS nrm FROM q),
    sym AS (
      SELECT v1, v2 FROM cand
      UNION ALL
      SELECT v2 AS v1, v1 AS v2 FROM cand
    ),
    pairs AS (
      SELECT s.v1, s.v2,
             a.nrm + b.nrm - 2 * list_dot_product(a.qv, b.qv) AS dist2
      FROM sym s JOIN n a ON s.v1 = a.vec_id JOIN n b ON s.v2 = b.vec_id
      WHERE a.nrm + b.nrm - 2 * list_dot_product(a.qv, b.qv) <= {eps2_max}
    )"""
    else:
        graph_ctes = f"""q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> cast(floor(cast(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ),
    n AS (SELECT vec_id, qv, list_dot_product(qv, qv) AS nrm FROM q),
    pairs AS (
      SELECT a.vec_id AS v1, b.vec_id AS v2,
             a.nrm + b.nrm - 2 * list_dot_product(a.qv, b.qv) AS dist2
      FROM n a JOIN n b ON a.vec_id <> b.vec_id
      WHERE a.nrm + b.nrm - 2 * list_dot_product(a.qv, b.qv) <= {eps2_max}
    )"""
    return f"""
    WITH RECURSIVE {graph_ctes},
    core AS (
      SELECT v1 AS vec_id, dist2 AS core2 FROM (
        SELECT v1, dist2,
               row_number() OVER (PARTITION BY v1 ORDER BY dist2, v2) AS rn
        FROM pairs
      ) WHERE rn = {k}
    ),
    mr AS (
      SELECT p.v1 AS src, p.v2 AS dst,
             greatest(p.dist2, a.core2, b.core2) AS w
      FROM pairs p
      JOIN core a ON p.v1 = a.vec_id
      JOIN core b ON p.v2 = b.vec_id
      WHERE p.v1 < p.v2
    ),
    {reach_ctes}
    {selects}
    """


@register(
    "hdbscan_embedding",
    oracle=_hdbscan_oracle(_EPS2_MAX, _MIN_SAMPLES, _MIN_CLUSTER_SIZE, _LEVELS),
)
def hdbscan_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levelled density hierarchy for every embedding: one Borůvka MSF
    of the ε-bounded mutual-reachability graph, cut at three levels
    (DBSCAN* per level, min-cluster-size noise rule) — the engine's
    HDBSCAN analog, checked exactly against a no-MSF DuckDB replay."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    # pinned: the oracle replays the exact ε-bounded graph, so the
    # engine must use exact candidates at every scale ("auto" would
    # switch to IVF blocking above its threshold and diverge)
    return hdbscan_cut_labels(emb, candidates="all_pairs")


@register(
    "hdbscan_embedding_ivf",
    oracle=_hdbscan_oracle(
        _EPS2_MAX, _MIN_SAMPLES, _MIN_CLUSTER_SIZE, _LEVELS, ivf=True
    ),
)
def hdbscan_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for ``hdbscan_embedding``: the identical core-
    distance → mutual-reachability → Borůvka MSF → level-cut pipeline,
    but with the ε-graph built from IVF shared-inverted-list candidates
    (the generator already gate-proven by dedup_embedding_ivf and
    dbscan_embedding_ivf).  The DuckDB oracle replays the same blocking,
    so this row checks the blocked density hierarchy end-to-end; the
    recall trade vs the exact ε-graph is pinned in tests/test_dbscan.py
    for the shared candidate source."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return hdbscan_cut_labels(emb, candidates="ivf")
