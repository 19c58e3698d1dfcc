"""Per-partition CSR adjacency blocks — the numpy inner loop for
message passing (north rule: "(src, dst, weight) edge DataFrame plus
per-partition CSR adjacency blocks").

``csr_contribution_sums`` is a drop-in for
``pagerank.contribution_sums``: the rank vector joins the edges (hash-
partitioned on ``src`` once), and a ``mapInPandas`` worker reduces each
Arrow batch in numpy — per-edge contribution rank·wnorm, combined to
one partial per distinct dst with ``np.unique`` + ``np.add.at`` —
collapsing the per-edge message stream to at most one row per (batch,
dst) BEFORE the shuffle. That is what map-side partial aggregation does
for algebraic reducers, but in numpy and extensible to non-algebraic
per-neighborhood payloads (top-k neighbors, weighted medians …) that
Spark's partial aggregation cannot express.

``pagerank_csr`` is ``pagerank``'s power iteration
(``pagerank._power_iteration``) with this step: the same set-up,
dangling handling, convergence test and Spark jobs per call (tests
assert scores equal to the join kernel's within 1e-12, and 45 jobs for
20 rounds on the 200-vertex test graph, as ``pagerank``).

The Arrow batch boundary costs one serialization of the rank vector
per partition per round; the win is O(edges) numpy arithmetic instead
of JVM row processing when the per-edge payload gets heavy.

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

from citation_graph_spark.graph.pagerank import _power_iteration
from citation_graph_spark.session import kernel


def csr_contribution_sums(edges_n: DataFrame, ranks: DataFrame) -> DataFrame:
    """One PageRank contribution round through per-partition CSR blocks.

    ``edges_n``: (src, dst, wnorm) hash-partitioned by src.
    ``ranks``:   (vid, rank).
    Returns (dst, s) — partial sums already combined per Arrow batch.

    The "CSR block" is the dense dst-indexed accumulator: np.unique +
    add.at is order-independent, so the block needs no sort and no
    materialized indptr — the part of the CSR idea that pays at this
    payload size.
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
    """PageRank with the CSR-block contribution step: ``pagerank``'s
    set-up and rounds (``pagerank._power_iteration``), so the dangling
    handling, the convergence test and the Spark jobs per round are
    the same; only the message-generation physics differ."""
    return _power_iteration(
        edges, vertices, None, csr_contribution_sums, alpha, tol, max_iter
    )
