"""Louvain-style modularity local moves, synchronous and exact-integer.

The engine already serves label-propagation communities and
per-community Newman-Girvan modularity (reference parity:
neo4j community perspectives; operators/graphq.py
``graph_part_modularity``). This kernel adds the *modularity-ascending*
community step those two compose into: each round, every vertex
simultaneously considers moving to a neighboring community and takes
the move with the best modularity gain — the local-move half of the
Louvain method (Blondel et al. 2008, public), in the synchronous
variant used by distributed implementations (Spark/GraphX community
ports), since sequential vertex visiting does not distribute.

Cross-engine determinism: for an unweighted graph the gain comparison
is done in EXACT INTEGERS. Moving v (degree d_v) from community o to
candidate c changes Q by

    dQ = (k_vc - k_vo)/m  -  d_v * (vol_c - (vol_o - d_v)) / (2 m^2)

where k_vX = # edges from v into X and vol_X = total degree of X.
Scaling by the positive constant 2 m^2 gives the integer score

    S(v, c) = 2 m (k_vc - k_vo) - d_v (vol_c - vol_o + d_v)

with S(v, o) = 0 for staying; the vertex takes argmax by (S desc,
community id asc) — no float ever enters the decision, so a SQL oracle
replays the rounds bit-exactly.

Scale posture: one round = two grouped aggregations (community
volumes; per-(vertex, neighbor-community) edge counts) and one
per-vertex window argmax — shuffle keys are community id and vertex
id, per-round bytes O(E). Hub-degree skew lands in the k_vc groupBy,
which is keyed (vid, community) — already salted by the community
dimension. Per-round localCheckpoint truncates lineage like every
iterative kernel here.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from citation_graph_spark.checkpointing import checkpoints
from citation_graph_spark.graph.degrees import undirect
from citation_graph_spark.metrics import MetricsLogger
from citation_graph_spark.session import kernel, kernel_cache, size_kernel


def louvain_round_lineage(
    sym: DataFrame, deg: DataFrame, comm: DataFrame, m: int
) -> DataFrame:
    """One synchronous local-move round (pre-checkpoint lineage):
    community volumes, per-(vertex, neighbor-community) edge counts,
    integer gain, per-vertex window argmax. Exposed for the
    plan-regression suite — equi-joins and grouped aggregations only,
    never a cartesian shape.

    ``sym`` may carry a ``w`` weight column (the level-2 quotient
    path); absent, every edge counts 1 — identical integers to the
    original unweighted rule. ``2 * m`` must equal the TOTAL volume
    Σ_v d(v) (for a weighted graph with self-loops pass
    total_volume // 2)."""
    if "w" not in sym.columns:
        sym = sym.withColumn("w", F.lit(1).cast("long"))
    vol = (
        comm.join(deg, "vid").groupBy("community").agg(F.sum("d").alias("vol"))
    )
    k = (
        sym.join(
            comm.select(
                F.col("vid").alias("dst"), F.col("community").alias("c")
            ),
            "dst",
        )
        .groupBy(F.col("src").alias("vid"), "c")
        .agg(F.sum("w").alias("k"))
    )
    own = comm.select("vid", F.col("community").alias("own_c"))
    k_own = (
        k.join(own, (k["vid"] == own["vid"]) & (k["c"] == own["own_c"]))
        .select(k["vid"], F.col("k").alias("k_own"))
    )
    base = (
        k.join(own, "vid")
        .join(k_own, "vid", "left")
        .na.fill({"k_own": 0})
        .join(deg, "vid")
        .join(vol.withColumnRenamed("community", "c"), "c")
        .join(
            vol.select(
                F.col("community").alias("own_c"),
                F.col("vol").alias("own_vol"),
            ),
            "own_c",
        )
    )
    moves = base.filter(F.col("c") != F.col("own_c")).select(
        "vid",
        "c",
        (
            F.lit(2 * m) * (F.col("k") - F.col("k_own"))
            - F.col("d") * (F.col("vol") - F.col("own_vol") + F.col("d"))
        ).alias("score"),
    )
    stay = comm.select(
        "vid",
        F.col("community").alias("c"),
        F.lit(0).cast("long").alias("score"),
    )
    w = Window.partitionBy("vid").orderBy(F.col("score").desc(), F.col("c"))
    return (
        moves.unionByName(stay)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vid", F.col("c").alias("community"))
    )


@kernel
def louvain_local_moves(
    edges: DataFrame,
    rounds: int = 2,
    metrics_path: str | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 2,
    resume: bool = False,
) -> DataFrame:
    """``(vid, community)`` after ``rounds`` synchronous local-move
    rounds from the singleton partition, over the undirected simple
    graph of ``edges`` (any direction/duplication is normalized away).

    ``checkpoint_dir`` makes the run resumable (checkpointing.py).
    Community ids are integers, so the round-trip is exact and the
    resumed fixpoint is bit-identical.
    """
    spark = edges.sparkSession
    e = kernel_cache(
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
    )
    m = e.count()
    width = size_kernel(spark, m)
    sym = kernel_cache(undirect(e))
    deg = kernel_cache(
        sym.groupBy(F.col("src").alias("vid"))
        .agg(F.count(F.lit(1)).alias("d"))
        .repartition(width, "vid")
    )
    deg.count()

    metrics = MetricsLogger(metrics_path, "louvain")
    ckpt = checkpoints(checkpoint_dir, "louvain", m, checkpoint_interval, resume)
    comm, start_round, _ = ckpt.restore(spark, width)
    if comm is None:
        comm = deg.select("vid", F.col("vid").alias("community"))
    for it in range(start_round + 1, rounds + 1):
        t0 = time.monotonic()
        comm = (
            louvain_round_lineage(sym, deg, comm, m)
            .repartition(width, "vid")
            .localCheckpoint(eager=True)
        )
        metrics.log(
            it, wall_s=round(time.monotonic() - t0, 4), msgs=2 * m
        )
        ckpt.end_round(comm, it, rounds)
    return comm


@kernel
def louvain_local_moves_weighted(
    wedges: DataFrame,
    self_weights: DataFrame | None = None,
    rounds: int = 2,
    metrics_path: str | None = None,
) -> DataFrame:
    """Weighted local moves — the LEVEL-2 (and deeper) step of the
    full Louvain method: run on the community quotient where edge
    weights are collapsed inter-community edge counts and
    ``self_weights`` (vid, sw) carries 2× the intra-community count
    (the standard self-loop convention, so quotient modularity equals
    the original graph's for the induced partition). Same integer gain
    rule as the unweighted kernel with T = Σ_v d(v) in place of 2m —
    the self-loop weight moves with the vertex and cancels from every
    gain comparison, so it enters degrees/volumes only.

    ``wedges``: (src, dst, w) — undirected, one row per unordered pair
    (src < dst), no self rows. Returns (vid, community)."""
    spark = wedges.sparkSession
    e = kernel_cache(
        wedges.select("src", "dst", F.col("w").cast("long").alias("w"))
        .filter(F.col("src") != F.col("dst"))
    )
    width = size_kernel(spark, e.count())
    sym = kernel_cache(
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
    )
    wdeg = sym.groupBy(F.col("src").alias("vid")).agg(
        F.sum("w").alias("dw")
    )
    sw = (
        self_weights.select(
            "vid", F.col("sw").cast("long").alias("sw")
        )
        if self_weights is not None
        else spark.createDataFrame([], "vid long, sw long")
    )
    deg = kernel_cache(
        sw.join(wdeg, "vid", "full")
        .select(
            "vid",
            (
                F.coalesce("dw", F.lit(0)) + F.coalesce("sw", F.lit(0))
            ).alias("d"),
        )
        .repartition(width, "vid")
    )
    total_vol = deg.agg(F.sum("d")).first()[0] or 0
    assert total_vol % 2 == 0, "self_weights must use the 2x convention"
    metrics = MetricsLogger(metrics_path, "louvain_weighted")
    comm = deg.select("vid", F.col("vid").alias("community"))
    for it in range(1, rounds + 1):
        t0 = time.monotonic()
        comm = (
            louvain_round_lineage(sym, deg, comm, total_vol // 2)
            .repartition(width, "vid")
            .localCheckpoint(eager=True)
        )
        metrics.log(
            it,
            wall_s=round(time.monotonic() - t0, 4),
            msgs=total_vol,
        )
    return comm
