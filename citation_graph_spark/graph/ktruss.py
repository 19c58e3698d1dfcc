"""k-truss decomposition — synchronous edge peeling.

The k-truss of a graph is the maximal subgraph in which every edge is
supported by at least k−2 triangles. It is the standard cohesive-
subgraph refinement of k-core for link graphs (a k-truss is always a
subgraph of the (k−1)-core but far denser), used to extract citation
cliques and filter spurious co-occurrence edges. The reference
surfaces cohesion only through clustering views (clustering/
hdbscan.py:36-42); k-truss makes edge-level cohesion a first-class
result table, consistent with the engine's other fixpoint kernels
(kcore.py, components.py).

Algorithm: synchronous peel rounds. Each round computes every
surviving edge's support (the number of triangles it closes within
the surviving edge set) via the degree-oriented wedge join from
triangles.py — each triangle is enumerated exactly once, hub fan-out
bounded by orientation — then drops ALL edges below k−2 at once.
Synchronous rounds make the fixpoint independent of edge order and
let the DuckDB oracle (an unrolled fixed-round SQL pipeline in
operators/graphq.py) run the identical schedule: the engine breaks
early at the fixpoint, post-fixpoint oracle rounds are no-ops, so the
capped states agree.

Scale posture: the per-round cost is one triangle enumeration over
the shrinking edge set — wedges shuffle on the shared lower endpoint,
closure is an equi-join on the (v, w) pair, support is one groupBy on
the canonical edge. The edge set only shrinks, so the most expensive
round is the first (same bill as one triangle_counts run). Per-round
``localCheckpoint`` truncates lineage; the driver-side value per
round is the surviving-edge count — the termination decision.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citation_graph_spark.graph.triangles import (
    _canonical_edges,
    oriented_edges,
    triangle_rows,
)
from citation_graph_spark.metrics import MetricsLogger
from citation_graph_spark.session import kernel, kernel_edges


def _support_from_oriented(o: DataFrame) -> DataFrame:
    """Per-edge triangle support given a MATERIALIZED degree-oriented
    edge set (u, v) — ``triangles.triangle_rows`` reads it four times
    (both wedge arms and both closure directions), so the caller must
    checkpoint it first or the whole degree computation re-runs
    four-fold.

    Charges each triangle, enumerated once, to its three edges as
    canonical (least, greatest) pairs. Edges in no triangle get no
    row — the caller treats absence as support 0.
    """
    tri = triangle_rows(o)
    sides = (
        tri.select(
            F.least("w0", "w1").alias("a"), F.greatest("w0", "w1").alias("b")
        )
        .unionByName(
            tri.select(
                F.least("w0", "w2").alias("a"),
                F.greatest("w0", "w2").alias("b"),
            )
        )
        .unionByName(
            tri.select(
                F.least("w1", "w2").alias("a"),
                F.greatest("w1", "w2").alias("b"),
            )
        )
    )
    return sides.groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))


@kernel
def k_truss(
    edges: DataFrame,
    k: int,
    max_iter: int = 50,
    metrics_path: str | None = None,
) -> DataFrame:
    """Returns ``(a: long, b: long, support: long)`` with a < b — the
    edges of the k-truss (undirected closure of ``edges``) and their
    triangle support at the fixpoint, i.e. the fixpoint of synchronous
    drop-all-below-(k−2) rounds. ``max_iter`` caps the rounds; with a
    cap the result is the (still well-defined) state after exactly
    that many synchronous peels, which the SQL oracle mirrors."""
    if k < 3:
        raise ValueError(f"k-truss needs k >= 3, got {k}")
    metrics = MetricsLogger(metrics_path, "k_truss")

    alive, n_alive, width = kernel_edges(_canonical_edges(edges), "a")

    for it in range(1, max_iter + 1):
        t0 = time.monotonic()
        survivors = (
            _edge_support(alive, width)
            .filter(F.col("support") >= k - 2)
            .repartition(width, "a")
            .localCheckpoint(eager=True)
        )
        n_new = survivors.count()
        metrics.log(
            it,
            edges=n_new,
            dropped=n_alive - n_new,
            wall_s=round(time.monotonic() - t0, 4),
        )
        converged = n_new == n_alive
        alive, n_alive = survivors.select("a", "b"), n_new
        if converged or n_alive == 0:
            # converged: this round's support is the fixpoint
            # support — reuse it instead of one more enumeration
            return survivors.select("a", "b", "support")

    # round cap hit: report the capped state with its support
    return alive.join(_edge_support(alive, width), ["a", "b"], "left").select(
        "a", "b", F.coalesce("support", F.lit(0)).alias("support")
    )


def _edge_support(canon: DataFrame, width: int) -> DataFrame:
    """Orient, MATERIALIZE the orientation (it is read four times by
    the wedge/closure joins), then count per-edge support."""
    o = (
        oriented_edges(
            canon.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        )
        .repartition(width, "u")
        .localCheckpoint(eager=True)
    )
    return _support_from_oriented(o)
