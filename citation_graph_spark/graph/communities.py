"""Community detection — synchronous label propagation.

The reference derives community structure off-graph (sklearn clustering
over embeddings, src/citations/clustering/*.py, surfaced as IN_CLUSTER
edges, neo4j/loader.py:233-237; a Louvain run appears in the README
gallery, README.md:83-84). The north rule replaces that with in-engine
label propagation over the edge table.

Semantics (pinned so the single-node oracle can reproduce exactly):
- undirected graph, synchronous rounds, fixed ``max_iter``
- every vertex starts with label = vid
- each round a vertex adopts the most frequent label among its
  neighbors; ties break to the SMALLEST label (order-insensitive
  reducer, SURVEY.md §7.2(c) — never ``first()``)
- vertices with no neighbors keep their label
- early exit when no label changes

One shuffle pair per round: groupBy(dst, label).count (skew-resistant:
partial aggregation collapses hub fan-in per partition) + the window
argmax. Labels stay hash-partitioned on vid between rounds.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from citation_graph_spark.graph.degrees import undirect
from citation_graph_spark.metrics import MetricsLogger
from citation_graph_spark.session import kernel, kernel_edges


@kernel
def label_propagation(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 10,
    metrics_path: str | None = None,
    weighted: bool = False,
) -> DataFrame:
    """Returns ``(vid: long, label: long)`` after ``max_iter`` synchronous
    rounds (or earlier fixpoint).

    ``weighted=True``: a neighbor's vote counts its edge weight instead
    of 1 (weights cast to BIGINT — integer-exact sums keep the argmax
    deterministic cross-engine; same desc-total, asc-label tie-break).
    """
    metrics = MetricsLogger(metrics_path, "label_propagation")

    if weighted:
        # Votes are summed in BIGINT for cross-engine-exact argmax, so
        # weights must be integral — a silent cast would truncate 0.7
        # to 0 and the vote would vanish. raise_error inside the same
        # projection fails the scan loudly on the first fractional or
        # NULL weight (no extra validation pass over the edges).
        w_ok = F.col("weight").isNotNull() & (
            F.col("weight") == F.floor(F.col("weight"))
        )
        w_int = F.when(w_ok, F.col("weight").cast("long")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "weighted label_propagation requires integral "
                        "non-null edge weights, got: "
                    ),
                    F.col("weight").cast("string"),
                )
            ).cast("long")
        )
        fwd = edges.select("src", "dst", w_int.alias("w"))
        rev = edges.select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            w_int.alias("w"),
        )
        und0 = fwd.unionByName(rev)
    else:
        und0 = undirect(edges)
    und, _, width = kernel_edges(und0, "src")
    if vertices is None:
        vertices = und.select(F.col("src").alias("vid")).distinct()
    vertices = vertices.select("vid")

    labels = (
        vertices.select("vid", F.col("vid").alias("label"))
        .repartition(width, "vid")
        .localCheckpoint(eager=True)
    )

    for it in range(max_iter):
        t0 = time.monotonic()
        msg_cols = [F.col("dst"), F.col("label").alias("nbr_label")] + (
            [F.col("w")] if weighted else []
        )
        msgs = und.join(labels, und["src"] == labels["vid"]).select(*msg_cols)
        vote = F.sum("w") if weighted else F.count(F.lit(1))
        counts = msgs.groupBy("dst", "nbr_label").agg(vote.alias("n"))
        w = Window.partitionBy("dst").orderBy(F.desc("n"), F.asc("nbr_label"))
        winner = (
            counts.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("dst", F.col("nbr_label").alias("new_label"))
        )
        new_labels = (
            labels.join(winner, labels["vid"] == winner["dst"], "left")
            .select(
                labels["vid"],
                F.coalesce("new_label", labels["label"]).alias("label"),
                labels["label"].alias("_prev"),
            )
            # lazy: the convergence count below materializes the
            # checkpoint — one Spark job per round, not two
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("label") != F.col("_prev")).count()
        labels = new_labels.drop("_prev")
        metrics.log(it + 1, changed=changed, wall_s=round(time.monotonic() - t0, 4))
        if changed == 0:
            break

    return labels.select("vid", "label")
