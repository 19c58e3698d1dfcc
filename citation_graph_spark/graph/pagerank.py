"""PageRank as join/groupBy message-passing rounds.

The reference serves vertex importance as raw citation counts
(src/citations/neo4j/loader.py:376-390 ``num_articles_cite``; Article
``citations`` property, schemas.py:28). The north rule upgrades this to
full PageRank over the extracted edge table, computed Spark-first:

    contribs = edges ⨝ ranks on src
    sums     = contribs.groupBy(dst).sum   (THE one shuffle per round)
    new_rank = (1-α)·t + α·(sums + dangling_mass·t)

with the teleport vector t = 1/n (``personalized_pagerank``: the seed
vector). ``_power_iteration`` is the one power iteration: ``pagerank``,
``csr.pagerank_csr`` and ``traversal.personalized_pagerank`` differ only
in their start vector, their teleport vector and their contribution
step (plain groupBy, salted two-phase groupBy, or numpy CSR blocks).

Physical-plan invariants this module maintains (SURVEY.md §4.3):
- ``edges`` are hash-repartitioned on ``src`` ONCE and cached; every
  iteration's join reuses that partitioning (no per-round edge shuffle).
- vertex state is always hash-partitioned on ``vid`` (inherited from
  the previous round's aggregation) → the rank-update join needs no
  exchange on the state side.
- a round runs 2 Spark jobs. The cached edge table fits under the
  session's broadcast threshold at test and benchmark sizes, so the
  contribution join broadcasts it every round, and with AQE off inside
  ``@kernel`` that broadcast exchange runs as a job of its own. The
  stats ``collect`` is the other job; it also materializes the round's
  lazy ``localCheckpoint``. On the 200-vertex test graph with
  caller-cached edges, a 20-round call runs 45 jobs: 5 in set-up, 2
  per round.
- ``checkpoint_dir`` makes the run resumable (checkpointing.py); the
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
redistribute their rank mass along the teleport vector.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citation_graph_spark.checkpointing import checkpoints
from citation_graph_spark.graph.degrees import endpoints
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
    convergence arrives in fewer rounds because the start is already
    near the fixpoint. This is the incremental-refresh path for a
    continuously ingested graph (the reference re-runs analyses from
    scratch after each ingest batch — data_sources/utils.py:23-121).
    """
    return _power_iteration(
        edges,
        vertices,
        init_ranks,
        lambda e, r: contribution_sums(e, r, salt_buckets),
        alpha,
        tol,
        max_iter,
        num_partitions=num_partitions,
        checkpoint_dir=checkpoint_dir,
        checkpoint_interval=checkpoint_interval,
        resume=resume,
        metrics_path=metrics_path,
    )


def contribution_sums(
    edges_n: DataFrame, ranks: DataFrame, salt_buckets: int = 0
) -> DataFrame:
    """``(dst, s)``: Σ rank(src)·wnorm over ``edges_n`` (src, dst, wnorm)
    joined with ``ranks`` (vid, rank); ``salt_buckets > 0`` aggregates
    in two salted phases, for hub dst keys."""
    contribs = edges_n.join(ranks, edges_n["src"] == ranks["vid"]).select(
        F.col("dst"), (F.col("rank") * F.col("wnorm")).alias("c")
    )
    if salt_buckets > 0:
        contribs = (
            contribs.withColumn(
                "_salt", F.pmod(F.xxhash64("dst", "c"), F.lit(salt_buckets))
            )
            .groupBy("dst", "_salt")
            .agg(F.sum("c").alias("c"))
        )
    return contribs.groupBy("dst").agg(F.sum("c").alias("s"))


def _power_iteration(
    edges: DataFrame,
    vertices: DataFrame | None,
    seeds: DataFrame | None,
    contribution: Callable[[DataFrame, DataFrame], DataFrame],
    alpha: float,
    tol: float,
    max_iter: int,
    personalized: bool = False,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
    metrics_path: str | None = None,
) -> DataFrame:
    """The PageRank rounds of ``pagerank`` (see its docstring) from the
    start vector ``seeds`` (vid, score), renormalized to Σ=1. A vertex
    with no seed starts at 1/n and teleports to 1/n; ``personalized``
    starts it at 0 and teleports every vertex to its start value
    instead. ``contribution(edges_n, ranks)`` returns a round's
    ``(dst, s)`` sums (``contribution_sums``' contract)."""
    spark = edges.sparkSession
    metrics = MetricsLogger(
        metrics_path, "personalized_pagerank" if personalized else "pagerank"
    )

    # ONE pass over the (possibly expensively derived) input edge table:
    # cache it raw, count it for partition sizing, then build the
    # normalized co-partitioned loop table with a single shuffle. Its
    # out-degree keys double as the dangling-vertex detector. At 100 TB
    # the edge table is the big object; setup must not materialize it
    # twice. A caller's cache is used as it is and left alone.
    edges_p = kernel_cache(edges)
    edge_count = edges_p.count()
    width = size_kernel(spark, edge_count, num_partitions)

    if vertices is None:
        vertices = endpoints(edges_p)

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

    ckpt = checkpoints(
        checkpoint_dir, "pagerank", edge_count, checkpoint_interval, resume,
        params={"alpha": alpha, "tol": tol},
    )
    restored, start_iter, meta = ckpt.restore(spark, width)
    if meta.get("done"):
        # already at fixpoint — identical results, no extra rounds
        return restored.select("vid", F.col("rank").alias("score"))
    if restored is not None:
        state = restored.select("vid", F.col("rank").alias("_seed"), "is_dangling")
    else:
        # a cold start is a warm start with no seeds
        if seeds is None:
            seeds = spark.createDataFrame([], "vid long, score double")
        state = (
            vertices.select("vid")
            .join(
                out_deg.select(F.col("src").alias("vid"), F.lit(False).alias("_out")),
                "vid",
                "left",
            )
            .join(seeds.select("vid", F.col("score").alias("_seed")), "vid", "left")
            .select(
                "vid", "_seed", F.coalesce("_out", F.lit(True)).alias("is_dangling")
            )
            .repartition(width, "vid")
            .localCheckpoint(eager=False)
        )
    # one aggregate, which also materializes the state: the vertex count,
    # the start total and the first round's dangling mass
    dangling, unseeded = F.col("is_dangling"), F.col("_seed").isNull()
    n, n_dangling, seeded, d_seeded, n_new, d_new = state.agg(
        F.count(F.lit(1)),
        F.count(F.when(dangling, 1)),
        F.sum("_seed"),
        F.sum(F.when(dangling, F.col("_seed"))),
        F.count(F.when(unseeded, 1)),
        F.count(F.when(dangling & unseeded, 1)),
    ).collect()[0]
    # state is materialized: release the setup caches before the rounds,
    # which hold only edges_n
    kernel_release(out_deg)
    kernel_release(edges_p)
    fill = 1.0 / n if n and not personalized else 0.0
    total = (seeded or 0.0) + n_new * fill
    if not total:
        # no vertices, or no seed to teleport to
        return spark.createDataFrame([], "vid long, score double")
    d_mass = ((d_seeded or 0.0) + d_new * fill) / total
    start = F.coalesce("_seed", F.lit(fill)) / F.lit(total)
    ranks = state.select(
        "vid",
        start.alias("rank"),
        "is_dangling",
        *([start.alias("teleport")] if personalized else []),
    )

    def teleport(mass: float):
        """``mass`` spread along the teleport vector."""
        return F.lit(mass) * F.col("teleport") if personalized else F.lit(mass / n)

    # with no dangling vertex and no convergence test (tol<=0, fixed
    # iteration count) the per-round stats collect is pure driver
    # latency — skip it; d_mass stays 0 and l1 stays inf
    need_stats = tol > 0.0 or n_dangling > 0

    def one_round(cur: DataFrame) -> DataFrame:
        sums = contribution(edges_n, cur.select("vid", "rank"))
        return cur.join(sums, cur["vid"] == sums["dst"], "left").select(
            cur["vid"],
            (
                teleport(1.0 - alpha)
                + F.lit(alpha) * (F.coalesce(sums["s"], F.lit(0.0)) + teleport(d_mass))
            ).alias("rank"),
            cur["rank"].alias("_prev"),
            *(cur[c] for c in cur.columns[2:]),
        )

    it, l1, total_wall = start_iter, float("inf"), 0.0
    while it < max_iter:
        t0 = time.monotonic()
        # lazy checkpoint: when stats run, their collect materializes
        # the checkpoint as a side effect
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
