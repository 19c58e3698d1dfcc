"""Spectral bisection — integer-rescaled deflated power iteration for
the Fiedler direction.

The partitioning companion to the matching-contraction coarsening step
(operators/graphq.py graph_part_coarsen): multilevel partitioners
(METIS lineage) coarsen, then split the coarse graph — classically on
the sign pattern of the Fiedler vector, the eigenvector of the second-
smallest Laplacian eigenvalue (Fiedler 1973; Pothen–Simon–Liou 1990).
The reference ranks and clusters its citation graph but never
partitions it; this kernel adds the balanced-cut axis as a first-class
result table over the same edge tables the north-rule kernels run on.

Algorithm: power iteration on the PSD operator M = σI − L (σ = deg_max
+ 1, so M's spectrum is σ − λ_i(L) ≥ 0). M's dominant eigenvector is
the constant vector (λ_L = 0); the Fiedler direction is the dominant
eigenvector of M restricted to the constant's orthogonal complement —
so each round multiplies by M and then projects the constant OUT
(deflation), which in exact arithmetic is y ↦ y − ȳ·1.

Cross-engine exactness device (the eigenvector-centrality discipline,
graph/eigenvector.py, extended to signed state): every round is
integer —

    y(v)  = (σ − deg(v))·x(v) + Σ_{u ~ v} x(u)     (int64, M·x)
    z(v)  = n·y(v) − Σ_w y(w)                       (mean projection
                                                     cleared of /n)
    x'(v) = div((z(v) − min z)·2·10^4,
                max z − min z) − 10^4               (rescale to
                                                     [−10^4, 10^4])

The min-shift keeps the division numerator NON-NEGATIVE — Spark's
``div`` truncates toward zero while DuckDB's ``//`` floors, and the
two only agree on non-negative operands; shifting before dividing
makes the recursive-CTE oracle replay every round bit-exactly. If a
round degenerates (max z = min z — possible only when the iterate hits
an exact fixed point of the projection), x' is defined as 0 on both
engines.

int64 safety: |x| ≤ 10^4, so |y| ≤ σ·10^4 ≤ (n+1)·10^4,
|z| ≤ 2n·(n+1)·10^4, and the rescale numerator ≤ 8n²·10^8 — safe
while the COMPONENT size n < 3·10^6. Billion-vertex components would
pre-scale by n's bit length; the shape would not change.

The iteration runs on ONE connected component (the Fiedler vector is a
per-component object; mean-projection across components mixes them):
``spectral_bisect`` picks the largest component (tie → smallest
label) via the engine's own CC kernel and bisects it. Convergence is a
fixed round count — the quantized iterate settles to the Fiedler sign
pattern long before 40 rounds at the gate scales, and the fixed count
is what lets the SQL oracle replay the exact state.

Scale posture: per round, one equi-join of the state against the
cached self-loop-augmented edge layout + one vertex-keyed groupBy (the
round's only shuffle) + four scalar aggregates (n, S, min, max);
per-round localCheckpoint bounds lineage, and ``checkpoint_dir`` makes
the run resumable (checkpointing.py) with bit-identical output (int64
``(vid, x, z)`` state, exact parquet round trip).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citation_graph_spark.checkpointing import checkpoints
from citation_graph_spark.graph.degrees import undirect
from citation_graph_spark.metrics import MetricsLogger
from citation_graph_spark.session import (
    kernel,
    kernel_cache,
    kernel_edges,
    size_kernel,
)

FIEDLER_SCALE = 10000

# int64-overflow guard for the rescale (found by the 1.8M-vertex
# partition stress run, tools/stress_partition.py): (z − zmin) can
# reach ~n²·σ·10⁴ (1.6e16 at 1M coarse vertices), so multiplying by
# 2·10⁴ overflows long — DuckDB's replay survives via int128, Spark
# raises under ANSI. When the spread exceeds SAFE_SPREAD (2^45:
# spread·2·10⁴ ≤ 7e17 < 2^63), both engines first floor-divide the
# non-negative (z − zmin) AND the spread by SHIFT = 2^16 (trunc ==
# floor for non-negatives, so Spark div == DuckDB //), then rescale.
# spread ≤ 2^63 ⇒ shifted spread ≤ 2^47 ⇒ product ≤ 2.9e18 < 2^63.
# Same deterministic map on both engines; the narrow branch (every
# gate-scale graph) is bit-for-bit the historical formula.
FIEDLER_SAFE_SPREAD = 1 << 45
FIEDLER_SHIFT = 1 << 16


def fiedler_round_lineage(syms: DataFrame, x: DataFrame) -> DataFrame:
    """One M·x round (pre-projection lineage, exposed for the
    plan-regression suite): the self-loop rows carry weight σ − deg(v)
    (shift minus the diagonal), neighbor rows weight 1, so a single
    weighted sum realizes (σI − L)·x."""
    return (
        syms.join(
            x.select(F.col("vid").alias("dst"), F.col("x").alias("xn")),
            "dst",
        )
        .groupBy(F.col("src").alias("vid"))
        .agg(F.sum(F.col("w") * F.col("xn")).alias("y"))
    )


@kernel
def fiedler_scores(
    edges: DataFrame,
    max_iter: int = 40,
    metrics_path: str | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 8,
    resume: bool = False,
) -> DataFrame:
    """``(vid, score_q4, z)`` after ``max_iter`` integer deflated
    power-iteration rounds over the (assumed connected) undirected
    graph of ``edges``; score_q4 ∈ [−10^4, 10^4] is the min-shift
    rescaled value (its zero sits at the z MIDRANGE), ``z`` is the
    final round's exact-integer deflated projection n·y − Σy whose
    sign is the classic Fiedler sign. The caller guarantees
    connectivity (see ``spectral_bisect``); on a disconnected input the
    result is still deterministic and oracle-replayable, just not a
    Fiedler vector of anything."""
    spark = edges.sparkSession
    metrics = MetricsLogger(metrics_path, "fiedler")
    sym = undirect(edges.select("src", "dst"))
    deg = sym.groupBy(F.col("src").alias("vid")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    stats = deg.agg(
        F.max("deg").alias("dmax"), F.count(F.lit(1)).alias("n")
    ).first()
    sigma = int(stats["dmax"]) + 1
    n = int(stats["n"])
    width = size_kernel(spark, sym.count())
    # self-loop rows carry σ − deg(v); neighbor rows carry 1
    syms = kernel_cache(
        sym.select("src", "dst", F.lit(1).cast("long").alias("w"))
        .unionByName(
            deg.select(
                F.col("vid").alias("src"),
                F.col("vid").alias("dst"),
                (F.lit(sigma) - F.col("deg")).cast("long").alias("w"),
            )
        )
        .repartition(width, "dst")
    )
    n_syms = syms.count()

    ckpt = checkpoints(checkpoint_dir, "fiedler", n_syms, checkpoint_interval, resume)
    x, start_iter, _ = ckpt.restore(spark, width)
    if x is None:
        # deterministic non-constant seed, guaranteed not the
        # all-ones direction; magnitude already within scale.
        # z seeds as the seed value itself (no projection exists
        # before round 1; the final z always comes from a round).
        x = (
            deg.select(
                "vid",
                ((F.col("vid") % 7) - F.lit(3))
                .cast("long")
                .alias("x"),
                ((F.col("vid") % 7) - F.lit(3))
                .cast("long")
                .alias("z"),
            )
            .repartition(width, "vid")
            .localCheckpoint(eager=True)
        )

    for it in range(start_iter + 1, max_iter + 1):
        t0 = time.monotonic()
        y = fiedler_round_lineage(syms, x)
        agg = y.agg(
            F.sum("y").alias("s"),
            F.min(F.lit(n) * F.col("y")).alias("zl"),
            F.max(F.lit(n) * F.col("y")).alias("zh"),
        ).first()
        s, zl, zh = int(agg["s"]), int(agg["zl"]), int(agg["zh"])
        zmin, zmax = zl - s, zh - s
        # z = n·y − Σy is the exact-integer deflated projection
        # BEFORE the min-shift rescale; its sign is the classic
        # Fiedler sign (the rescale's zero sits at the z
        # MIDRANGE, so thresholding x>0 on a skewed score
        # distribution is NOT the sign cut — carry z so the
        # bisector can threshold the true zero crossing)
        zcol = (F.lit(n) * F.col("y") - F.lit(s)).cast("long")
        if zmax == zmin:
            x = (
                y.select(
                    "vid",
                    F.lit(0).cast("long").alias("x"),
                    zcol.alias("z"),
                )
                .repartition(width, "vid")
                .localCheckpoint(eager=True)
            )
        else:
            spread = zmax - zmin
            if spread <= FIEDLER_SAFE_SPREAD:
                x_expr = (
                    f"div(({n}L * y - {s}L - {zmin}L)"
                    f" * {2 * FIEDLER_SCALE}L,"
                    f" {spread}L)"
                )
            else:
                x_expr = (
                    f"div(div({n}L * y - {s}L - {zmin}L,"
                    f" {FIEDLER_SHIFT}L)"
                    f" * {2 * FIEDLER_SCALE}L,"
                    f" {max(spread // FIEDLER_SHIFT, 1)}L)"
                )
            x = (
                y.select(
                    "vid",
                    (F.expr(x_expr) - F.lit(FIEDLER_SCALE))
                    .cast("long")
                    .alias("x"),
                    zcol.alias("z"),
                )
                .repartition(width, "vid")
                .localCheckpoint(eager=True)
            )
        metrics.log(
            it,
            wall_s=round(time.monotonic() - t0, 4),
            z_spread=zmax - zmin,
        )
        ckpt.end_round(x, it, max_iter)
    return x.select("vid", F.col("x").alias("score_q4"), "z")


def spectral_bisect(
    edges: DataFrame,
    max_iter: int = 40,
    metrics_path: str | None = None,
) -> DataFrame:
    """Fiedler-sign bisection of the LARGEST connected component
    (ties → smallest component label) of the undirected graph of
    ``edges``: ``(vid, score_q4, side)`` with side = 1 where the final
    pre-rescale projection z = n·y − Σy is > 0 — the classic spectral
    sign split, integer-exact and replayable on both engines. (The
    rescaled score_q4's zero sits at the z midrange, so thresholding
    it would mis-side vertices near zero whenever the score
    distribution is skewed.) Vertices outside the chosen component
    emit no row (bisect them by recursing per component)."""
    from citation_graph_spark.graph.components import connected_components

    sym = undirect(edges.select("src", "dst"))
    verts = sym.select(F.col("src").alias("vid")).distinct()
    cc = connected_components(edges, verts)
    top = (
        cc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("sz"))
        .orderBy(F.desc("sz"), F.asc("component"))
        .first()
    )
    comp_edges = (
        sym.join(
            cc.filter(F.col("component") == int(top["component"])).select(
                F.col("vid").alias("src")
            ),
            "src",
            "left_semi",
        )
        .filter(F.col("src") < F.col("dst"))
        .localCheckpoint(eager=True)
    )
    scores = fiedler_scores(comp_edges, max_iter=max_iter, metrics_path=metrics_path)
    return scores.select(
        "vid",
        "score_q4",
        (F.col("z") > 0).cast("int").alias("side"),
    )


@kernel
def refine_bisection(
    edges: DataFrame,
    sides: DataFrame,
    rounds: int = 5,
) -> DataFrame:
    """Deterministic parallel cut refinement (the Fiduccia–Mattheyses
    move step, synchronized): per round, every vertex computes its
    flip gain = (cut neighbors) − (uncut neighbors); the vertices that
    flip are the positive-gain vertices that beat every positive-gain
    NEIGHBOR on the priority (gain, smaller vid) — an independent set,
    so each realized flip improves the cut by exactly its gain and the
    cut size strictly decreases every round that flips anything (the
    Jones–Plassmann/Luby symmetry-breaking discipline,
    graph/coloring.py). No balance constraint: this is the pure
    cut-descent move; balance is the bisector's job.

    ``sides``: (vid, side) over a vertex set closed under ``edges``
    (side ∈ {0, 1}). Returns (vid, side) after ``rounds`` rounds.
    Priority encoding p = gain·2^33 + (2^33 − vid) keeps the pair
    order in one int64 (vid < 2^33 — part keys and corpus ids are far
    below; an id past that would widen the encoding, not the shape).
    """
    sym, _, width = kernel_edges(undirect(edges.select("src", "dst")), "dst")
    state = (
        sides.select("vid", F.col("side").cast("int").alias("side"))
        .repartition(width, "vid")
        .localCheckpoint(eager=True)
    )
    p_self = (
        F.col("gain").cast("long") * F.lit(2**33)
        + (F.lit(2**33) - F.col("vid"))
    )
    for _ in range(rounds):
        # phase A: per-vertex same/other-side neighbor counts
        nbr = (
            sym.join(
                state.select(
                    F.col("vid").alias("dst"),
                    F.col("side").alias("nside"),
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("vid"))
            .agg(
                F.sum(F.col("nside")).alias("s1"),
                F.sum(1 - F.col("nside")).alias("s0"),
            )
        )
        gains = (
            state.join(nbr, "vid", "left")
            .select(
                "vid",
                "side",
                F.when(
                    F.col("side") == 1,
                    F.coalesce("s0", F.lit(0))
                    - F.coalesce("s1", F.lit(0)),
                )
                .otherwise(
                    F.coalesce("s1", F.lit(0))
                    - F.coalesce("s0", F.lit(0))
                )
                .cast("long")
                .alias("gain"),
            )
            .localCheckpoint(eager=True)
        )
        # phase B: positive-gain vertices that beat every
        # positive-gain neighbor flip (independent set)
        cand_nbr_best = (
            sym.join(
                gains.filter(F.col("gain") > 0).select(
                    F.col("vid").alias("dst"),
                    p_self.alias("np"),
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("vid"))
            .agg(F.max("np").alias("best_nbr_p"))
        )
        state = (
            gains.join(cand_nbr_best, "vid", "left")
            .select(
                "vid",
                F.when(
                    (F.col("gain") > 0)
                    & (
                        F.col("best_nbr_p").isNull()
                        | (p_self > F.col("best_nbr_p"))
                    ),
                    1 - F.col("side"),
                )
                .otherwise(F.col("side"))
                .cast("int")
                .alias("side"),
            )
            .repartition(width, "vid")
            .localCheckpoint(eager=True)
        )
    return state
