"""Katz centrality — attenuated walk-count prestige, synchronous rounds.

On a citation graph Katz centrality is the classic bibliometric
prestige measure that PageRank historically refined (a paper is
important if cited by important papers, with walks of length k damped
by alpha^k) — the reference serves exactly this family of per-paper
prestige scores through its Neo4j layer (reference:
neo4j/loader.py:359-444 degree fan-outs, scripts/run_graph_metrics.py
PageRank proxies); Katz extends the engine's served kernel set with no
new infrastructure.

Update rule (Jacobi, fixed synchronous rounds):

    x'(v) = beta + alpha * SUM_{u -> v} x(u)

i.e. the truncated Neumann series  x = SUM_k (alpha A^T)^k * beta*1.
``alpha`` must satisfy ``alpha * lambda_max < 1`` for the infinite
series; with a FIXED round count the iteration is well-defined
regardless, and both engines (this kernel and the DuckDB recursive-CTE
oracle in operators/bibliometrics.py) run the identical schedule, so
scores agree to summation order (~1e-15), floored at 1e-9 for the
gate — the same determinism contract as PageRank/HITS.

Scale posture (mirrors graph/hits.py): the edge table is deduplicated,
cached hash-partitioned on ``src`` once; each round is one join
(exchange-free against the pinned layout) + one groupBy (the round's
only shuffle) at a pinned data-proportional width; state is
vertex-sized and localCheckpointed per round to truncate lineage.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citation_graph_spark.checkpointing import checkpoints
from citation_graph_spark.graph.degrees import endpoints
from citation_graph_spark.metrics import MetricsLogger
from citation_graph_spark.session import kernel, kernel_edges


def round_lineage(
    e: DataFrame, state: DataFrame, alpha: float, beta: float
) -> DataFrame:
    """One synchronous Katz round as a pure lineage (audited in
    PLANS.md / tests/test_plan_regressions.py): join the pinned edge
    layout against the state, one groupBy shuffle, left-join back onto
    the state's vertex universe."""
    msgs = e.join(state, e["src"] == state["vid"]).select(
        F.col("dst"), F.col("x").alias("xin")
    )
    sums = msgs.groupBy("dst").agg(F.sum("xin").alias("xsum"))
    # join onto the checkpointed state (identical vertex universe) so
    # the derived-vertices shuffle never reruns
    return (
        state.select("vid")
        .join(sums, F.col("vid") == sums["dst"], "left")
        .select(
            "vid",
            (
                F.lit(float(beta))
                + F.lit(float(alpha)) * F.coalesce("xsum", F.lit(0.0))
            ).alias("x"),
        )
    )


@kernel
def katz_centrality(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    alpha: float = 0.001,
    beta: float = 1.0,
    max_iter: int = 8,
    metrics_path: str | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 4,
    resume: bool = False,
) -> DataFrame:
    """Returns ``(vid: long, score: double)`` after ``max_iter`` fixed
    synchronous rounds from ``x0 = beta`` on the DISTINCT directed edge
    set (multiplicity is ignored: one citation link, one walk edge).

    ``checkpoint_dir`` makes the run resumable (checkpointing.py) with
    bit-identical final scores: doubles round-trip parquet exactly and
    the resumed run replays the identical remaining schedule."""
    spark = edges.sparkSession
    metrics = MetricsLogger(metrics_path, "katz")

    if vertices is None:
        vertices = endpoints(edges)
    vertices = vertices.select("vid")
    n = vertices.count()
    if n == 0:
        return spark.createDataFrame([], "vid long, score double")

    e, n_edges, width = kernel_edges(
        edges.select("src", "dst").distinct(), "src"
    )

    ckpt = checkpoints(
        checkpoint_dir, "katz", n_edges, checkpoint_interval, resume,
        params={"alpha": alpha, "beta": beta},
    )
    state, start_iter, _ = ckpt.restore(spark, width)
    if state is None:
        state = (
            vertices.select("vid", F.lit(float(beta)).alias("x"))
            .repartition(width, "vid")
            .localCheckpoint(eager=True)
        )

    for it in range(start_iter + 1, max_iter + 1):
        t0 = time.monotonic()
        state = (
            round_lineage(e, state, alpha, beta)
            .repartition(width, "vid")
            .localCheckpoint(eager=True)
        )
        metrics.log(
            it, wall_s=round(time.monotonic() - t0, 4), msgs=n_edges
        )
        ckpt.end_round(state, it, max_iter)

    return state.select("vid", F.col("x").alias("score"))
