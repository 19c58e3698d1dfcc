"""Degree family — the reference's most-used graph aggregate.

Reference evidence: in-degree over the citation edge table is
``num_articles_cite`` (src/citations/neo4j/loader.py:376-390) and nine
sibling group-counts (loader.py:359-444,529-632). All are one shuffle:
``groupBy(key).count()`` with map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def out_degrees(edges: DataFrame, weighted: bool = True) -> DataFrame:
    """(src) → out_degree; weighted sums edge weights (PageRank uses this
    to normalize contributions)."""
    agg = F.sum("weight") if weighted else F.count(F.lit(1)).cast("double")
    return edges.groupBy(F.col("src").alias("vid")).agg(agg.alias("out_degree"))


def in_degrees(edges: DataFrame, weighted: bool = False) -> DataFrame:
    agg = F.sum("weight") if weighted else F.count(F.lit(1)).cast("double")
    return edges.groupBy(F.col("dst").alias("vid")).agg(agg.alias("in_degree"))


def undirect(edges: DataFrame) -> DataFrame:
    """Directed (src,dst) → symmetric closure, deduplicated.

    Used by connected components and label propagation, which are
    defined on the undirected graph (reference communities are likewise
    undirected: sklearn clustering over embeddings + Louvain gallery,
    README.md:83-84 — no edge direction)."""
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionByName(rev).distinct()


def endpoints(edges: DataFrame) -> DataFrame:
    """The distinct ``vid``s of ``src ∪ dst``: every vertex an edge
    touches."""
    return (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
