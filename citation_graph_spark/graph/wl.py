"""Weisfeiler-Leman (1-WL) color refinement over the edge table.

WL refinement is the standard structural-feature primitive of graph
ML (graph kernels, GNN expressiveness, isomorphism screening): start
from degree colors and repeatedly re-color every vertex by a hash of
(own color, multiset of neighbor colors). Two vertices that 1-WL
distinguishes are structurally different; the per-round color
histogram is the classic WL subtree kernel feature vector.

Cross-engine determinism: the multiset hash is ORDER-INSENSITIVE by
construction — neighbors contribute ``pmod(color * C2 + C3, P)`` terms
that are SUMMED, then combined with the own color as
``pmod(own * C1 + sum, P)``. Addition commutes, so any partitioning /
aggregation order gives the same integer, and a recursive-CTE SQL
oracle replays the rounds exactly. (A sum-combined multiset hash can
collide where a sorted-concatenation hash would not; collisions only
ever MERGE color classes — the refinement stays sound for the kernel
feature use, and the constants make collisions vanishingly rare.)

int64 safety: colors live in [0, P) with P = 2^31 - 1; ``color * C2``
is < 2^62, and the per-vertex neighbor sum is < deg · P — safe while
max degree < 2^32, far above any real vertex. At 10^12-edge scale a
hub beyond that would need one extra pmod inside a two-level
aggregation (same trick as the salted aggregations elsewhere); the
shape does not change.

Scale posture: one round = one edge join + one vertex-keyed groupBy
sum — identical shuffle structure to a PageRank round, per-round
localCheckpoint, data-proportional partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citation_graph_spark.graph.degrees import undirect
from citation_graph_spark.session import kernel, kernel_cache, size_kernel

WL_P = 2147483647
WL_C1 = 1000003
WL_C2 = 999983
WL_C3 = 12345


def wl_round_lineage(sym: DataFrame, colors: DataFrame) -> DataFrame:
    """One WL round (pre-checkpoint lineage): neighbor-term sum then
    own-color combine. Exposed for the plan-regression suite."""
    terms = (
        sym.join(
            colors.select(
                F.col("vid").alias("dst"), F.col("color").alias("nc")
            ),
            "dst",
        )
        .groupBy(F.col("src").alias("vid"))
        .agg(
            F.sum(
                F.pmod(F.col("nc") * F.lit(WL_C2) + F.lit(WL_C3), F.lit(WL_P))
            ).alias("nsum")
        )
    )
    return colors.join(terms, "vid", "left").select(
        "vid",
        F.pmod(
            F.col("color") * F.lit(WL_C1) + F.coalesce(F.col("nsum"), F.lit(0)),
            F.lit(WL_P),
        ).alias("color"),
    )


@kernel
def wl_refinement(
    edges: DataFrame,
    rounds: int = 3,
) -> DataFrame:
    """``(vid, color)`` after ``rounds`` WL refinement rounds on the
    undirected simple graph of ``edges``, starting from degree colors.
    """
    sym = kernel_cache(undirect(edges.select("src", "dst")))
    width = size_kernel(edges.sparkSession, sym.count())
    colors = (
        sym.groupBy(F.col("src").alias("vid"))
        .agg(F.count(F.lit(1)).cast("long").alias("color"))
        .repartition(width, "vid")
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        colors = (
            wl_round_lineage(sym, colors)
            .repartition(width, "vid")
            .localCheckpoint(eager=True)
        )
    return colors
