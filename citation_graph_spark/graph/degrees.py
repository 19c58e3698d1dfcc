"""Degree family — the reference's most-used graph aggregate.

Reference evidence: in-degree over the citation edge table is
``num_articles_cite`` (src/citations/neo4j/loader.py:376-390) and nine
sibling group-counts (loader.py:359-444,529-632). All are one shuffle:
``groupBy(key).count()`` with map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from citation_graph_spark.session import session_width


def auto_partitions(
    spark: SparkSession,
    n_rows: int,
    rows_per_partition: int = 50_000,
    floor: int = 4,
) -> int:
    """Data-proportional partition count for iterative kernels.

    A fixed ``spark.sql.shuffle.partitions`` is wrong at both ends:
    a 20k-edge fixture graph over 32 partitions pays 32 task launches
    per round for microseconds of work each, while a 10^11-edge graph
    needs far more than the session default. Cap at the session setting
    (the cluster's parallelism; not a running kernel's width), floor at a small constant, target
    ``rows_per_partition`` messages per task."""
    return max(floor, min(session_width(spark), n_rows // rows_per_partition + 1))


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
