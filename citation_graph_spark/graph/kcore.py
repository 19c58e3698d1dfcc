"""k-core decomposition — synchronous peeling.

The k-core of a graph is the maximal subgraph in which every vertex
has degree ≥ k; it is the standard structural filter for link graphs
(dense-community extraction, spam/boilerplate pruning in web-scale
citation and hyperlink graphs). The reference surfaces graph density
only through its clustering views; k-core makes it a first-class
result table, consistent with the engine's other fixpoint kernels.

Algorithm: synchronous peel rounds. Each round computes every
surviving vertex's degree counting only surviving neighbors, then
drops all vertices below k at once. The surviving set shrinks
monotonically; the fixpoint is the k-core. Synchronous rounds (rather
than sequential peeling) make the result independent of any vertex
order and let both engines (Spark and the DuckDB recursive-CTE
oracle in operators/graphq.py) run the identical schedule.

Scale posture: edges cached hash-partitioned on ``src`` once; each
round is two semi-joins against the shrinking alive set (alive is
vertex-sized and shrinks — the cheap side) plus one groupBy count (the
round's one shuffle). Per-round ``localCheckpoint`` truncates lineage;
the driver-side value per round is the survivor count — the
termination decision.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citation_graph_spark.graph.degrees import undirect
from citation_graph_spark.metrics import MetricsLogger
from citation_graph_spark.session import kernel, kernel_edges


@kernel
def k_core(
    edges: DataFrame,
    k: int,
    max_iter: int = 100,
    metrics_path: str | None = None,
) -> DataFrame:
    """Returns ``(vid: long)`` — the vertices of the k-core (undirected
    closure of ``edges``), i.e. the fixpoint of synchronous
    remove-all-below-k rounds. ``max_iter`` caps the rounds; with a cap
    the result is the (still well-defined) state after exactly that
    many synchronous peels, which the SQL oracle mirrors."""
    metrics = MetricsLogger(metrics_path, "k_core")
    e, _, width = kernel_edges(undirect(edges).select("src", "dst"), "src")

    alive = (
        e.select(F.col("src").alias("vid"))
        .distinct()
        .repartition(width, "vid")
        .localCheckpoint(eager=True)
    )
    n_alive = alive.count()

    for it in range(1, max_iter + 1):
        t0 = time.monotonic()
        # edges whose BOTH endpoints survive, then surviving degree
        e_alive = e.join(
            alive.select(F.col("vid").alias("src")), "src", "left_semi"
        ).join(alive.select(F.col("vid").alias("dst")), "dst", "left_semi")
        survivors = (
            e_alive.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select(F.col("src").alias("vid"))
            .repartition(width, "vid")
            .localCheckpoint(eager=True)
        )
        n_new = survivors.count()
        metrics.log(
            it,
            alive=n_new,
            dropped=n_alive - n_new,
            wall_s=round(time.monotonic() - t0, 4),
        )
        converged = n_new == n_alive
        alive, n_alive = survivors, n_new
        if converged or n_alive == 0:
            break

    return alive
