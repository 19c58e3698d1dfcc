"""Per-partition CSR adjacency blocks — the numpy inner loop for
message passing (north rule: "(src, dst, weight) edge DataFrame plus
per-partition CSR adjacency blocks").

The join/groupBy kernels (pagerank.py etc.) are the portable backbone:
one shuffle per round, Catalyst-planned. This module is the
compute-dense variant of the *contribution* step: edges are hash-
partitioned by ``src`` once; inside each partition an
``applyInPandas`` worker builds a numpy CSR block (sorted src index +
indptr) and emits per-destination partial sums vectorized with
``np.add.at`` — collapsing the per-edge message stream to at most one
row per (partition, dst) BEFORE the shuffle, exactly what map-side
partial aggregation does for algebraic reducers, but in numpy and
extensible to non-algebraic per-neighborhood payloads (top-k
neighbors, weighted medians …) that Spark's partial aggregation cannot
express.

The Arrow batch boundary costs one serialization of the rank vector
per partition per round; the win is O(edges) numpy arithmetic instead
of JVM row processing when the per-edge payload gets heavy. Both paths
produce identical results (tests assert allclose 1e-12).

Measured A/B (346k-edge bench corpus, local[32], warm, interleaved
×3): join kernel 10.9/11.1/9.7 s to 1e-6, CSR 17.1/15.9/14.2 s — for
the plain rank·wnorm payload the JVM join/groupBy wins and stays the
default everywhere; this module is kept for the heavy-payload regime
it exists for, with its equality tests as the safety net.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citation_graph_spark.session import kernel, kernel_edges


def csr_contribution_sums(edges_n: DataFrame, ranks: DataFrame) -> DataFrame:
    """One PageRank contribution round through per-partition CSR blocks.

    ``edges_n``: (src, dst, wnorm) hash-partitioned by src.
    ``ranks``:   (vid, rank).
    Returns (dst, s) — partial sums already combined per partition.

    The rank vector joins the edge partitions (co-partitioned, no
    exchange); each Arrow batch is then reduced in numpy: per-edge
    contribution rank[src]·wnorm, locally combined to one partial per
    distinct dst via ``np.unique`` + ``np.add.at`` (order-independent,
    so the block needs no sort and no materialized indptr — the
    "CSR block" here is the dense dst-indexed accumulator, the part
    of the CSR idea that actually pays at this payload size).
    """

    joined = edges_n.join(ranks, edges_n["src"] == ranks["vid"]).select(
        "src", "dst", "wnorm", "rank"
    )

    def _blocks(batches):
        # runs inside the existing src-partitioning — NO extra shuffle;
        # each Arrow batch is one adjacency block. np.unique + add.at is
        # order-independent, so no sort of the batch is needed (a
        # stable src-argsort used to run here — dead O(n log n) work
        # per block per round)
        for pdf in batches:
            if pdf.empty:
                continue
            dst = pdf["dst"].to_numpy()
            contrib = pdf["rank"].to_numpy() * pdf["wnorm"].to_numpy()
            # local combine: one partial per distinct dst in this block
            uniq_dst, inv = np.unique(dst, return_inverse=True)
            acc = np.zeros(len(uniq_dst))
            np.add.at(acc, inv, contrib)
            yield pd.DataFrame({"dst": uniq_dst, "s": acc})

    partials = joined.mapInPandas(_blocks, schema="dst long, s double")
    return partials.groupBy("dst").agg(F.sum("s").alias("s"))


@kernel
def pagerank_csr(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 200,
) -> DataFrame:
    """PageRank with the CSR-block contribution step. Semantics are
    identical to graph.pagerank (same dangling handling, same
    convergence test); only the message-generation physics differ."""
    spark = edges.sparkSession

    if vertices is None:
        vertices = (
            edges.select(F.col("src").alias("vid"))
            .unionByName(edges.select(F.col("dst").alias("vid")))
            .distinct()
        )
    vertices = vertices.select("vid")

    out_deg = edges.groupBy("src").agg(F.sum("weight").alias("_wout"))
    edges_n, _, width = kernel_edges(
        edges.join(out_deg, "src").select(
            "src", "dst", (F.col("weight") / F.col("_wout")).alias("wnorm")
        ),
        "src",
    )

    n = vertices.count()
    if n == 0:
        return spark.createDataFrame([], "vid long, score double")

    dangling = vertices.join(
        edges.select("src").distinct(), vertices["vid"] == F.col("src"), "left_anti"
    ).withColumn("is_dangling", F.lit(True))
    ranks = (
        vertices.join(dangling.select("vid", "is_dangling"), "vid", "left")
        .select(
            "vid",
            F.lit(1.0 / n).alias("rank"),
            F.coalesce("is_dangling", F.lit(False)).alias("is_dangling"),
        )
        .repartition(width, "vid")
        .localCheckpoint(eager=True)
    )

    teleport = (1.0 - alpha) / n
    d_mass = (
        ranks.filter(F.col("is_dangling"))
        .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
        .collect()[0][0]
    )
    for _ in range(max_iter):
        sums = csr_contribution_sums(edges_n, ranks.select("vid", "rank"))
        new_ranks = (
            ranks.join(sums, ranks["vid"] == sums["dst"], "left")
            .select(
                ranks["vid"],
                (
                    F.lit(teleport)
                    + F.lit(alpha)
                    * (F.coalesce(F.col("s"), F.lit(0.0)) + F.lit(d_mass / n))
                ).alias("rank"),
                ranks["rank"].alias("_prev"),
                ranks["is_dangling"],
            )
            .localCheckpoint(eager=True)
        )
        stats = new_ranks.agg(
            F.sum(F.abs(F.col("rank") - F.col("_prev"))).alias("l1"),
            F.coalesce(
                F.sum(F.when(F.col("is_dangling"), F.col("rank"))), F.lit(0.0)
            ).alias("d_mass"),
        ).collect()[0]
        d_mass = stats["d_mass"]
        ranks = new_ranks.drop("_prev")
        if stats["l1"] < tol:
            break

    return ranks.select("vid", F.col("rank").alias("score"))
