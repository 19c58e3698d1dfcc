"""Connected components — min-label exchange with hooks and shortcuts.

The reference shows graph connectivity only visually (Bloom scenes);
the north rule makes it a first-class result table
``components(vid, component)`` with component = min vid reachable.

Algorithm: one ``(vid, label)`` table, starting at ``label = vid``.
Each round applies three steps over the undirected edge closure, where
``N(v)`` is the set of v's neighbours:

1. Neighbour minimum: ``m[v] = min(label[v], min label[u] for u in N(v))``.
2. Hook: every vertex also sends ``m[v]`` to the vertex its label
   names, ``l[x] = min(m[x], min{m[v] : label[v] = x})``.
3. Shortcut: ``new[v] = l[l[v]]`` (``l[v]`` when ``l[v]`` has no row).

The run has converged when no label changes. Step 1 alone is plain
min-label propagation, O(diameter) rounds. Shortcutting alone does not
fix that: on a path with shuffled ids the minimum still crawls. Hooking
lets a label that reaches a vertex jump to every vertex pointing at it,
and shortcutting then halves the pointer chains, so the rounds grow
like log n (the Hash-to-Min family, cf. PAPERS.md "Finding connected
components in map-reduce in logarithmic rounds"): a 1,024-vertex path
converges in about 10 rounds with sorted or shuffled ids. Each round
is one Spark job: a lazy ``localCheckpoint`` that the convergence count
materializes.

Correctness needs two invariants of the state: every label names a
vertex of v's own component, and ``label[x] <= x``. Each step keeps
both and never raises a label, and a state where no step lowers a
label has one label per component, which by the second invariant is
the component's minimum vid. Every state plain min-label propagation
ever wrote meets both invariants too, so its checkpoints (manifest
format 3) resume here unchanged.

Graphs whose undirected rows ``finish_locally`` takes, with no
checkpoint or warm start asked for, skip the rounds: one vectorized
driver union-find computes the same labels.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citation_graph_spark.checkpointing import checkpoints
from citation_graph_spark.graph.degrees import undirect
from citation_graph_spark.metrics import MetricsLogger
from citation_graph_spark.session import (
    finish_locally,
    kernel,
    kernel_cache,
    kernel_edges,
)


def _local_components(und: DataFrame, vertices: DataFrame) -> DataFrame:
    """Exact min-vid component labels for a graph small enough to
    collect — vectorized hook-and-compress union-find (numpy), no
    Python per-edge loop.  Returns the same ``(vid, component)`` frame
    as the distributed kernels: labels for edge-incident vertices are
    computed locally; isolated vertices coalesce to their own vid via
    the (distributed) left join, so ``vertices`` may be arbitrarily
    large."""
    import numpy as np

    spark = und.sparkSession
    pdf = und.select("src", "dst").toPandas()
    if len(pdf):
        src = pdf["src"].to_numpy()
        dst = pdf["dst"].to_numpy()
        nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        a, b = inv[: len(src)], inv[len(src):]
        # hook (adopt the min parent across each edge) + full pointer
        # compression per round; monotone non-increasing and bounded, so
        # the fixpoint — parent == min index in the component, constant
        # along every edge — is reached in O(log n) vectorized rounds
        parent = np.arange(len(nodes))
        while True:
            prev = parent
            parent = parent.copy()
            np.minimum.at(parent, a, prev[b])
            np.minimum.at(parent, b, prev[a])
            parent = parent[parent[parent]]
            if np.array_equal(parent, prev):
                break
        import pandas as pd

        lab = spark.createDataFrame(
            pd.DataFrame({"vid": nodes, "component": nodes[parent]}),
            "vid long, component long",
        )
    else:
        lab = spark.createDataFrame([], "vid long, component long")
    return (
        vertices.select("vid")
        .join(lab.withColumnRenamed("component", "_c"), "vid", "left")
        .select("vid", F.coalesce("_c", F.col("vid")).alias("component"))
    )


@kernel
def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
    metrics_path: str | None = None,
    init_labels: DataFrame | None = None,
) -> DataFrame:
    """Returns ``(vid: long, component: long)``; component = min vid in
    the component (deterministic, order-insensitive reducer — min —
    per SURVEY.md §7.2(c)). When ``finish_locally`` takes the
    undirected rows, and with no checkpoint or warm start asked for, the
    labels come from one vectorized driver union-find instead of
    distributed rounds; identical labels either way.

    ``init_labels`` — warm start for APPEND-ONLY graph growth (the
    incremental-ingest model): a ``(vid, label)`` DataFrame from a
    previous snapshot seeds the labels; vertices absent from it start
    at their own vid. Under pure growth every old label is the min vid
    of an old component, so it names a vertex still in the (possibly
    merged) component and is at most the vid it labels: both invariants
    of the module docstring hold, and the fixpoint is identical to a
    cold run's, usually in fewer rounds. NOT valid if edges/vertices
    were REMOVED (stale labels could be lower than any surviving
    member); rerun cold then."""
    spark = edges.sparkSession
    metrics = MetricsLogger(metrics_path, "connected_components")

    und0 = kernel_cache(undirect(edges))
    n_und = und0.count()
    # no durable-checkpoint / warm-start contract → vectorized local
    # union-find (identical labels, one job instead of O(rounds))
    if (
        finish_locally(n_und)
        and checkpoint_dir is None
        and not resume
        and init_labels is None
    ):
        if vertices is None:
            vertices = und0.select(F.col("src").alias("vid")).distinct()
        return _local_components(und0, vertices)
    und, _, width = kernel_edges(und0, "src", n_und)

    if vertices is None:
        vertices = und.select(F.col("src").alias("vid")).distinct()
    vertices = vertices.select("vid")

    ckpt = checkpoints(
        checkpoint_dir, "components", n_und, checkpoint_interval, resume
    )
    labels, start_iter, meta = ckpt.restore(spark, width)
    if meta.get("done"):
        return labels.select("vid", F.col("label").alias("component"))
    if labels is None:
        if init_labels is not None:
            labels = (
                vertices.join(
                    init_labels.select("vid", F.col("label").alias("_seed")),
                    "vid",
                    "left",
                )
                .select("vid", F.coalesce("_seed", F.col("vid")).alias("label"))
                .repartition(width, "vid")
                .localCheckpoint(eager=True)
            )
        else:
            labels = (
                vertices.select("vid", F.col("vid").alias("label"))
                .repartition(width, "vid")
                .localCheckpoint(eager=True)
            )

    # F.least skips nulls, so a vertex with no message keeps its value.
    # The shuffle_hash hints keep a round at one Spark job: with AQE off
    # in the kernel scope, every broadcast join would run its exchange
    # as a job of its own. m and hooked each feed two branches of the
    # round. Spark re-plans each branch from scratch (the checkpointed
    # state defeats exchange reuse), so as plain lineage the round would
    # compute the neighbour minimum four times; lazily checkpointed,
    # every branch reads the one RDD the round's job computes once.
    for it in range(start_iter, max_iter):
        t0 = time.monotonic()
        # 1. neighbour minimum m
        nbr_min = (
            und.join(labels.hint("shuffle_hash"), und["src"] == labels["vid"])
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_min"))
            .hint("shuffle_hash")
        )
        m = (
            labels.join(nbr_min, labels["vid"] == nbr_min["dst"], "left")
            .select(
                labels["vid"],
                labels["label"],
                F.least(labels["label"], F.col("nbr_min")).alias("m"),
            )
            .localCheckpoint(eager=False)
        )
        # 2. hook: every vertex also sends m to the vertex its label names
        hooks = (
            m.groupBy(F.col("label").alias("x"))
            .agg(F.min("m").alias("hook"))
            .hint("shuffle_hash")
        )
        hooked = (
            m.join(hooks, F.col("vid") == F.col("x"), "left")
            .select(
                "vid", F.col("label").alias("_prev"), F.least("m", "hook").alias("l")
            )
            .localCheckpoint(eager=False)
        )
        # 3. shortcut: new[v] = l[l[v]], or l[v] when l[v] has no row.
        # The groupBy on the already unique vid tells the planner that
        # _p is a key. Without it the join's size estimate is the
        # product of both sides, and the checkpoint carries that
        # estimate into the next round, so its bit length would double
        # every round.
        parent = (
            hooked.groupBy(F.col("vid").alias("_p"))
            .agg(F.min("l").alias("_pl"))
            .hint("shuffle_hash")
        )
        new_labels = (
            hooked.join(parent, F.col("l") == F.col("_p"), "left")
            .select("vid", F.coalesce("_pl", "l").alias("label"), "_prev")
            .repartition(width, "vid")
            # lazy: the convergence count below materializes the
            # checkpoint — one Spark job per round, not two
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("label") != F.col("_prev")).count()
        labels = new_labels.drop("_prev")
        metrics.log(it + 1, changed=changed, wall_s=round(time.monotonic() - t0, 4))
        ckpt.end_round(labels, it + 1, max_iter, done=changed == 0)
        if changed == 0:
            break

    return labels.select("vid", F.col("label").alias("component"))
