"""PageRank as join/groupBy message-passing rounds.

The reference serves vertex importance as raw citation counts
(src/citations/neo4j/loader.py:376-390 ``num_articles_cite``; Article
``citations`` property, schemas.py:28). The north rule upgrades this to
full PageRank over the extracted edge table, computed Spark-first:

    contribs = edges ⨝ ranks on src        (co-partitioned, no exchange)
    sums     = contribs.groupBy(dst).sum   (THE one shuffle per round)
    new_rank = (1-α)/N + α·(sums + dangling_mass/N)

Physical-plan invariants this module maintains (SURVEY.md §4.3):
- ``edges`` are hash-repartitioned on ``src`` ONCE and cached; every
  iteration's join reuses that partitioning (no per-round edge shuffle).
- vertex state is always hash-partitioned on ``vid`` (inherited from
  the previous round's aggregation) → the rank-update join is
  exchange-free as well.
- ``localCheckpoint(eager=True)`` per round truncates lineage;
  ``checkpoint_dir`` makes the run resumable (checkpointing.py); the
  state is done when it converges.
- map-side partial aggregation already collapses power-law in-degree
  hubs to ≤ one row per (partition, dst) before the shuffle — the same
  effect explicit salting buys for algebraic aggregates. For
  demonstration and for non-algebraic payloads ``salt_buckets > 0``
  switches to an explicit two-phase salted aggregation
  groupBy(dst, salt)→groupBy(dst).

Weighted semantics: contribution of src→dst is
``rank(src) · weight(src,dst) / Σ_d' weight(src,d')`` — with unit
weights this is classic PageRank. Dangling vertices (zero out-degree)
redistribute their rank mass uniformly.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citation_graph_spark.checkpointing import checkpoints
from citation_graph_spark.metrics import MetricsLogger
from citation_graph_spark.session import (
    kernel,
    kernel_cache,
    kernel_release,
    size_kernel,
)


@kernel
def pagerank(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 200,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
    metrics_path: str | None = None,
    salt_buckets: int = 0,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """Returns ``(vid: long, score: double)``; Σ score = 1.

    ``vertices`` (a DataFrame with a ``vid`` column) defines the vertex
    universe — isolated vertices still receive teleport + dangling mass.
    If omitted it is derived from edge endpoints.

    ``num_partitions`` pins the kernel's shuffle width, for scaling jobs
    that hold it fixed across graph sizes; by default the edge count
    sizes it (``session.size_kernel``).

    ``init_ranks`` — warm start: a ``(vid, score)`` DataFrame (e.g. the
    converged ranks of a previous, smaller snapshot of the graph) used
    as the starting vector instead of uniform 1/n. Vertices absent from
    it get 1/n; the vector is renormalized to Σ=1 and dangling flags
    are recomputed against the CURRENT edge set, so a grown graph is
    handled correctly. Unlike ``resume`` (same graph, same iteration
    counter), warm start begins at iteration 0 with a full budget —
    convergence just arrives in far fewer rounds because the start is
    already near the fixpoint. This is the incremental-refresh path for
    a continuously ingested graph (the reference re-runs analyses from
    scratch after each ingest batch — data_sources/utils.py:23-121;
    warm start is the Spark-native O(drift) version of that refresh).
    """
    spark = edges.sparkSession

    metrics = MetricsLogger(metrics_path, "pagerank")

    # ONE pass over the (possibly expensively derived) input edge table:
    # cache it raw, count it for partition sizing, then build the
    # normalized co-partitioned loop table with a single shuffle. The
    # out-degree side is computed under the kernel's shuffle width, so
    # the normalize join is co-partitioned — no second edge exchange —
    # and its src set doubles as the dangling-vertex detector (replacing
    # a from-scratch edges.select(src).distinct() scan). At 100 TB the
    # edge table is the big object; setup must not materialize it twice.
    # A caller's cache is used as it is and left alone.
    edges_p = kernel_cache(edges)
    edge_count = edges_p.count()
    width = size_kernel(spark, edge_count, num_partitions)

    if vertices is None:
        vertices = (
            edges_p.select(F.col("src").alias("vid"))
            .unionByName(edges_p.select(F.col("dst").alias("vid")))
            .distinct()
        )
    vertices = vertices.select("vid")

    out_deg = kernel_cache(
        edges_p.groupBy("src").agg(F.sum("weight").alias("_wout"))
    )
    # pin the co-partitioning every round reuses (SURVEY §4.3)
    edges_n = kernel_cache(
        edges_p.repartition(width, "src")
        .join(out_deg, "src")
        .select("src", "dst", (F.col("weight") / F.col("_wout")).alias("wnorm"))
    )
    edges_n.count()
    # edges_p stays cached until the initial rank vector is materialized:
    # the derived-vertices lineage and the dangling anti-join read it.

    n = vertices.count()
    if n == 0:
        return spark.createDataFrame([], "vid long, score double")

    ckpt = checkpoints(
        checkpoint_dir, "pagerank", edge_count, checkpoint_interval, resume,
        params={"alpha": alpha, "tol": tol},
    )
    ranks, start_iter, meta = ckpt.restore(spark, width)
    if ranks is None:
        dangling_flags = vertices.join(
            out_deg.select("src"),
            vertices["vid"] == F.col("src"),
            "left_anti",
        ).withColumn("is_dangling", F.lit(True))
        base = vertices.join(
            dangling_flags.select("vid", "is_dangling"), "vid", "left"
        )
        if init_ranks is not None:
            # warm start: seed from prior scores, 1/n for new vertices,
            # renormalize so Σ rank = 1 exactly
            seeded = base.join(
                init_ranks.select("vid", F.col("score").alias("_seed")),
                "vid",
                "left",
            ).select(
                "vid",
                F.coalesce("_seed", F.lit(1.0 / n)).alias("rank"),
                F.coalesce("is_dangling", F.lit(False)).alias("is_dangling"),
            )
            total = seeded.agg(F.sum("rank")).collect()[0][0]
            ranks = (
                seeded.withColumn("rank", F.col("rank") / F.lit(float(total)))
                .repartition(width, "vid")
                .localCheckpoint(eager=True)
            )
        else:
            ranks = (
                base.select(
                    "vid",
                    F.lit(1.0 / n).alias("rank"),
                    F.coalesce("is_dangling", F.lit(False)).alias("is_dangling"),
                )
                .repartition(width, "vid")
                .localCheckpoint(eager=True)
            )

    # ranks is eagerly checkpointed — lineage cut; release the setup
    # caches before the rounds, which hold only edges_n
    kernel_release(out_deg)
    kernel_release(edges_p)
    if meta.get("done"):
        # already at fixpoint — identical results, no extra rounds
        return ranks.select("vid", F.col("rank").alias("score"))

    teleport = (1.0 - alpha) / n
    total_wall = 0.0
    # dangling mass for the first round; later rounds get it for free
    # from the same single-pass stats aggregation that computes Σ|Δ|
    d_mass = (
        ranks.filter(F.col("is_dangling"))
        .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
        .collect()[0][0]
    )
    # with no dangling mass and no convergence test (tol<=0, fixed
    # iteration count) the per-round stats collect is pure driver
    # latency — skip it; d_mass stays 0 and l1 stays inf
    need_stats = (tol > 0.0) or (d_mass > 0.0)

    def one_round(cur: DataFrame) -> DataFrame:
        contribs = edges_n.join(
            cur.select(F.col("vid"), F.col("rank")),
            edges_n["src"] == F.col("vid"),
        ).select(F.col("dst"), (F.col("rank") * F.col("wnorm")).alias("c"))
        if salt_buckets > 0:
            # explicit two-phase salted aggregation for hub dst keys
            salted = contribs.withColumn(
                "_salt", F.pmod(F.xxhash64("dst", "c"), F.lit(salt_buckets))
            )
            sums = (
                salted.groupBy("dst", "_salt")
                .agg(F.sum("c").alias("_partial"))
                .groupBy("dst")
                .agg(F.sum("_partial").alias("s"))
            )
        else:
            sums = contribs.groupBy("dst").agg(F.sum("c").alias("s"))
        return cur.join(sums, cur["vid"] == sums["dst"], "left").select(
            cur["vid"],
            (
                F.lit(teleport)
                + F.lit(alpha)
                * (F.coalesce(F.col("s"), F.lit(0.0)) + F.lit(d_mass / n))
            ).alias("rank"),
            cur["rank"].alias("_prev"),
            cur["is_dangling"],
        )

    it, l1 = start_iter, float("inf")
    while it < max_iter:
        t0 = time.monotonic()
        # lazy checkpoint: when stats run, their collect materializes
        # the checkpoint as a side effect — ONE Spark job per round,
        # not two
        new_ranks = one_round(ranks).localCheckpoint(eager=not need_stats)

        if need_stats:
            stats = new_ranks.agg(
                F.sum(F.abs(F.col("rank") - F.col("_prev"))).alias("l1"),
                F.coalesce(
                    F.sum(F.when(F.col("is_dangling"), F.col("rank"))),
                    F.lit(0.0),
                ).alias("d_mass"),
            ).collect()[0]
            l1, d_mass = stats["l1"], stats["d_mass"]
        ranks = new_ranks.drop("_prev")
        it += 1

        wall = time.monotonic() - t0
        total_wall += wall
        metrics.log(
            it,
            l1_delta=l1 if l1 != float("inf") else None,
            wall_s=round(wall, 4),
            edges=edge_count,
            vertices=n,
            edges_per_sec=round(edge_count / wall, 1) if wall > 0 else None,
        )
        ckpt.end_round(ranks, it, max_iter, done=l1 < tol)
        if l1 < tol:
            break

    metrics.log(
        -1,
        total_wall_s=round(total_wall, 4),
        iterations=it - start_iter,
        iters_per_sec=round((it - start_iter) / total_wall, 3) if total_wall else None,
    )
    return ranks.select("vid", F.col("rank").alias("score"))
