"""Eigenvector centrality — integer-rescaled power iteration.

Completes the centrality family the reference's Neo4j serving layer
implies (neo4j/loader.py degree fan-outs; PageRank/Katz/HITS/harmonic/
betweenness already served): the Perron eigenvector of the symmetric
adjacency, the classic "important because connected to the important"
score, and the zero-teleport limit of the PageRank the engine already
runs.

Cross-engine exactness device: instead of float normalization (whose
summation order diverges between engines), each round is INTEGER —

    y(v)  = x(v) + Σ_{u ~ v} x(u)          (int64 neighbor sum)
    x'(v) = floor(y(v) · 10^6 / max_w y(w))  (rescale to ppm of max)

The own-value term makes this the SHIFTED iteration (A + I): the
Perron eigenvalue becomes strictly dominant, so the iterate converges
on bipartite graphs too (pure A oscillates in 2-cycles there — a path
graph never settles), and A + I's Perron vector equals A's.

Sums of int64 commute under any partitioning, the per-round max is a
single scalar, and floor-division is deterministic — so a recursive-CTE
SQL oracle replays every round bit-exactly, the same discipline as the
WL multiset hash (graph/wl.py). The quantized iterate converges to the
Perron direction with max-norm fixed at 10^6; per-round quantization
error (≤1 ppm per entry) perturbs the ranking far below score gaps of
interest.

int64 safety: x ≤ 10^6, so y ≤ deg_max · 10^6 and the rescale
numerator y · 10^6 ≤ deg_max · 10^12 — safe while deg_max < 9.2 · 10^6.
A hub beyond that (unseen even at web scale after dedup) would need a
pre-scale by deg_max's bit length; the shape would not change.

Scale posture: identical to one WL/PageRank round — the symmetric edge
table is normalized and co-partitioned once and cached, each round is
one equi-join against that pinned layout + one vertex-keyed groupBy
(the round's only shuffle) + a 1-value scalar collect for the max,
with per-round localCheckpoint bounding lineage. The shift's
self-loop rows double as the isolated-vertex keep-alive (the WL
oracle's own-color device), so both engines keep the full vertex set
without a second join.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citation_graph_spark.checkpointing import checkpoints
from citation_graph_spark.graph.degrees import undirect
from citation_graph_spark.metrics import MetricsLogger
from citation_graph_spark.session import kernel, kernel_cache, size_kernel

EV_SCALE = 1000000


def eigenvector_round_lineage(sym2: DataFrame, x: DataFrame) -> DataFrame:
    """One integer power-iteration round (pre-checkpoint lineage,
    pre-rescale): the A + I sum over the self-loop-augmented symmetric
    edges — the flagged self-loop delivers each vertex its own value,
    which both keeps isolated vertices alive and applies the shift.
    Exposed for the plan-regression suite."""
    return (
        sym2.join(
            x.select(F.col("vid").alias("dst"), F.col("x").alias("xn")),
            "dst",
        )
        .groupBy(F.col("src").alias("vid"))
        .agg(F.sum("xn").alias("y"))
    )


@kernel
def eigenvector_centrality(
    edges: DataFrame,
    max_iter: int = 10,
    metrics_path: str | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 4,
    resume: bool = False,
) -> DataFrame:
    """``(vid, score_ppm)`` after ``max_iter`` integer-rescaled power
    iteration rounds on the undirected simple graph of ``edges``;
    score_ppm ∈ [0, 10^6] with the max vertex pinned at 10^6.

    ``checkpoint_dir`` makes the run resumable (checkpointing.py) with
    bit-identical final scores — the ``(vid, x)`` state is int64, so
    the parquet round-trip is exact by construction (stronger than the
    double-precision kernels' IEEE-round-trip argument)."""
    spark = edges.sparkSession
    metrics = MetricsLogger(metrics_path, "eigenvector")
    sym = undirect(edges.select("src", "dst"))
    verts = sym.select(F.col("src").alias("vid")).distinct()
    sym2 = kernel_cache(
        sym.unionByName(
            verts.select(F.col("vid").alias("src"), F.col("vid").alias("dst"))
        )
    )
    n_edges = sym2.count()
    width = size_kernel(spark, n_edges)

    ckpt = checkpoints(
        checkpoint_dir, "eigenvector", n_edges, checkpoint_interval, resume
    )
    x, start_iter, _ = ckpt.restore(spark, width)
    if x is None:
        x = (
            verts.select(
                "vid", F.lit(EV_SCALE).cast("long").alias("x")
            )
            .repartition(width, "vid")
            .localCheckpoint(eager=True)
        )

    for it in range(start_iter + 1, max_iter + 1):
        t0 = time.monotonic()
        y = eigenvector_round_lineage(sym2, x)
        m = y.agg(F.max("y")).first()[0]  # scalar-only collect
        if not m:  # edgeless graph: all mass is gone, stop
            return x.select(
                "vid", F.lit(0).cast("long").alias("score_ppm")
            )
        x = (
            y.select(
                "vid",
                F.expr(f"div(y * {EV_SCALE}, {m})").alias("x"),
            )
            .repartition(width, "vid")
            .localCheckpoint(eager=True)
        )
        metrics.log(
            it,
            wall_s=round(time.monotonic() - t0, 4),
            msgs=n_edges,
            max_y=int(m),
        )
        ckpt.end_round(x, it, max_iter)
    return x.select("vid", F.col("x").alias("score_ppm"))
