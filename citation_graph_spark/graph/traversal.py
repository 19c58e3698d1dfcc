"""Seed-set traversal kernels: one frontier relaxation behind BFS,
per-source BFS, shortest paths and widest paths, plus personalized
PageRank.

The reference serves neighborhood expansion interactively — Bloom's
'Find papers citing $title' / 'Find coauthors of $person_name' scene
actions expand 1-2 hops from a picked node (reference
bloom/perspective.json search phrases; neo4j/loader.py relationship
fan-out). These kernels are the batch-analytics generalization: whole
distance tables from a seed set, to a round cap.

``_relax`` is the only frontier loop. Its state holds one value ``d``
per key (``vid``, or ``(seed, vid)`` for per-source BFS), starting at
the seeds. A round relaxes the out-edges of the keys that improved in
the round before, reduces the candidates per key, full-joins them onto
the state and keeps the better value. The kernels differ only in their
keys, start value and semiring:

- ``bfs_distances`` and ``bfs_per_source``: (min, +) over unit
  lengths from 0, i.e. hop counts;
- ``sssp``: (min, +) over the ``weight`` column cast to long, from 0;
- ``widest_paths``: (max, min) over ``weight``, from ``_WIDEST_INF``.

Relaxing only the improved keys gives the same per-round state as
relaxing every key, since a key unchanged in round r-1 offers nothing
new in round r. So after r rounds every key holds the best value over
paths of at most r edges, the state the round-capped SQL oracles
mirror; on unit lengths that is level-synchronous BFS. Work per round
follows the frontier's out-edges, not the reached set.

The edge set is cached once, hash-partitioned on ``src``
(``kernel_edges``, two jobs). A round is one Spark job: the merged
state is lazily ``localCheckpoint``ed, the improved-key count
materializes it, and the next frontier and state both read that one
checkpoint. The ``shuffle_hash`` hints keep the joins from
broadcasting, which with AQE off in a kernel would run each exchange
as a job of its own. On a 200-vertex, 800-edge random graph from three
seeds, bfs_distances / bfs_per_source / sssp / widest_paths run
5 / 6 / 5 / 5 jobs per call: 3 / 4 / 3 / 3 rounds, the last of which
improves nothing.

Personalized PageRank is ``pagerank``'s power iteration
(``pagerank._power_iteration``) started from, and teleporting to, the
seed set.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from citation_graph_spark.graph.pagerank import _power_iteration, contribution_sums
from citation_graph_spark.metrics import MetricsLogger
from citation_graph_spark.session import kernel, kernel_edges


_WIDEST_INF = 4611686018427387904  # 2^62 — internal "unbounded" capacity

# (reduce candidates per key, merge with the state, extend across an edge)
_MIN_PLUS = (F.min, F.least, lambda d, w: d + w)
_MAX_MIN = (F.max, F.greatest, F.least)


def _relax(
    edges: DataFrame,
    w: Column,
    directed: bool,
    seeds: DataFrame,
    keys: list[str],
    start: int,
    semiring,
    max_iter: int,
    metrics: MetricsLogger,
) -> DataFrame:
    """The frontier loop: ``(*keys, d)`` for every key reached from
    ``seeds`` within ``max_iter`` rounds. ``keys`` ends in ``vid``; the
    seed's vid fills every key column of its start row. ``w`` is the
    edge length column; undirected edges relax both ways."""
    agg, merge, extend = semiring
    e = edges.select("src", "dst", w.alias("w"))
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
    e, _, width = kernel_edges(e, "src")

    # lazy: round 1's job computes the seeds once for both its branches
    state = (
        seeds.select("vid")
        .distinct()
        .select(
            *(F.col("vid").alias(k) for k in keys),
            F.lit(start).cast("long").alias("d"),
        )
        .localCheckpoint(eager=False)
    )
    frontier = state
    for it in range(1, max_iter + 1):
        t0 = time.monotonic()
        cand = (
            e.join(frontier.hint("shuffle_hash"), e["src"] == frontier["vid"])
            .select(
                *keys[:-1],
                F.col("dst").alias("vid"),
                extend(F.col("d"), F.col("w")).alias("c"),
            )
            .groupBy(*keys)
            .agg(agg("c").alias("c"))
        )
        # merge skips NULLs, so a key with no candidate keeps its value
        # and a newly reached key takes its candidate
        new = merge("d", "c")
        merged = (
            state.hint("shuffle_hash")
            .join(cand.hint("shuffle_hash"), keys, "full")
            .select(
                *keys,
                new.alias("d"),
                (F.col("d").isNull() | (new != F.col("d"))).alias("_improved"),
            )
            .repartition(width, "vid")
            # lazy: the count below materializes it — one job per round
            .localCheckpoint(eager=False)
        )
        improved = merged.filter("_improved").drop("_improved")
        n = improved.count()
        metrics.log(it, frontier=n, wall_s=round(time.monotonic() - t0, 4))
        state = merged.drop("_improved")
        if n == 0:
            break
        frontier = improved
    return state


@kernel
def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_iter: int = 30,
    directed: bool = False,
    metrics_path: str | None = None,
) -> DataFrame:
    """Multi-source BFS: ``(vid: long, dist: int)`` for every vertex
    reachable from ``seeds`` (a DataFrame with a ``vid`` column) within
    ``max_iter`` hops; unreached vertices emit no row."""
    dist = _relax(
        edges, F.lit(1), directed, seeds, ["vid"], 0, _MIN_PLUS, max_iter,
        MetricsLogger(metrics_path, "bfs"),
    )
    return dist.select("vid", F.col("d").cast("int").alias("dist"))


@kernel
def bfs_per_source(
    edges: DataFrame,
    seeds: DataFrame,
    max_iter: int = 30,
    directed: bool = False,
) -> DataFrame:
    """Per-source BFS: ``(seed: long, vid: long, dist: int)`` — the
    full distance table from EACH seed separately (the multi-source
    ``bfs_distances`` collapses to the min). The same relaxation keyed
    on (seed, vid); the edge join still keys on vid alone, so per-round
    work is proportional to Σ frontier out-edges across seeds.

    This is the sampled-source primitive behind centrality estimation
    on web-scale graphs: exact per-source distances for a K-seed
    sample instead of O(n) BFS runs (cf. the harmonic-centrality query
    built on it)."""
    dist = _relax(
        edges, F.lit(1), directed, seeds, ["seed", "vid"], 0, _MIN_PLUS,
        max_iter, MetricsLogger(None, "bfs_per_source"),
    )
    return dist.select("seed", "vid", F.col("d").cast("int").alias("dist"))


@kernel
def sssp(
    edges: DataFrame,
    seeds: DataFrame,
    max_iter: int = 30,
    directed: bool = False,
    metrics_path: str | None = None,
) -> DataFrame:
    """Multi-source weighted shortest paths (non-negative integer edge
    lengths in the ``weight`` column): ``(vid: long, dist: long)`` for
    every vertex reachable from ``seeds`` within ``max_iter``
    relaxation rounds — i.e. exactly the shortest distance using at
    most ``max_iter`` edges (delta-optimized Bellman-Ford)."""
    dist = _relax(
        edges, F.col("weight").cast("long"), directed, seeds, ["vid"], 0,
        _MIN_PLUS, max_iter, MetricsLogger(metrics_path, "sssp"),
    )
    return dist.select("vid", F.col("d").alias("dist"))


@kernel
def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    alpha: float = 0.85,
    max_iter: int = 20,
    metrics_path: str | None = None,
) -> DataFrame:
    """Personalized PageRank: teleport (and dangling) mass returns to
    the seed set instead of the whole vertex universe. Fixed
    ``max_iter`` synchronous rounds (cross-engine determinism — same
    posture as the fixed-round global PageRank oracle). Returns
    ``(vid: long, score: double)`` over all vertices that appear as an
    edge endpoint or a seed; Σ score = 1, and no rows when ``seeds`` is
    empty. ``pagerank``'s set-up and rounds
    (``pagerank._power_iteration``), started from and teleporting to
    s = 1/|S| on the seeds, 0 elsewhere.
    """
    seed_set = seeds.select("vid").distinct()
    vertices = (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
        .unionByName(seed_set)
        .distinct()
    )
    return _power_iteration(
        edges,
        vertices,
        seed_set.withColumn("score", F.lit(1.0)),
        contribution_sums,
        alpha,
        0.0,
        max_iter,
        personalized=True,
        metrics_path=metrics_path,
    )


@kernel
def widest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    max_iter: int = 30,
    directed: bool = False,
    metrics_path: str | None = None,
) -> DataFrame:
    """Multi-source widest (bottleneck / maximum-capacity) paths over
    positive integer edge capacities in the ``weight`` column:
    ``(vid: long, width: long)`` for every vertex reachable from
    ``seeds`` within ``max_iter`` relaxation rounds — the maximum over
    paths of the minimum edge capacity along the path, using at most
    ``max_iter`` edges (the state the round-capped SQL oracle
    mirrors). Seeds report the documented sentinel ``width = -1``
    (unbounded). The max-bandwidth-route / percolation primitive over
    the same edge table SSSP runs on: the (max, min) dual of ``sssp``.
    """
    cap = _relax(
        edges, F.col("weight").cast("long"), directed, seeds, ["vid"],
        _WIDEST_INF, _MAX_MIN, max_iter, MetricsLogger(metrics_path, "widest"),
    )
    return cap.select(
        "vid",
        F.when(F.col("d") == _WIDEST_INF, F.lit(-1))
        .otherwise(F.col("d"))
        .cast("long")
        .alias("width"),
    )
