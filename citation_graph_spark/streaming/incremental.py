"""Incremental edge ingestion: a document stream feeding the graph
kernels through their checkpoint/resume machinery.

The reference's ingestion is batch-with-checkpoints (fetch new
citations, left-anti against processed state, append —
data_sources/utils.py:23-121, embed/openai.py:255-280). This module is
the streaming-native version of the same contract for a continuously
growing repository table:

    documents stream ──foreachBatch──▶ extract edges (mapInPandas)
                                       append to the edge table
    edge table ──▶ pagerank(resume=True)  [warm-start from the last
                                           durable checkpoint]

Each micro-batch runs the SAME vectorized extraction the batch path
uses (extraction.extract_references) — no second implementation to
drift. The Structured Streaming checkpoint gives exactly-once file
ingestion; the parquet append is idempotent per epoch via the sink
commit log. PageRank then warm-starts via ``init_ranks`` (prior
converged scores seed the next run; new vertices get 1/n and the
vector is renormalized): tests/test_incremental.py proves
streamed-ingest + warm-started kernel == batch pipeline on the full
corpus (score allclose), the incremental analog of the kill+resume
identity.

Scale posture: the stream shuffles nothing — extraction is
map-partition work on arriving files; the append writes partitioned
parquet. Warm-starting saves only a few rounds: on 1500 base + 150
delta documents at tol 1e-8, the prior scores start 8-9x closer to the
fixpoint, but the L1 residual shrinks only to 0.35-0.47 of itself per
round, so a warm refresh takes 17 rounds against 19-20 cold (27
against 36 for one slower seed). A refresh costs its per-call set-up
plus rounds x Spark jobs per round; the warm start trims the rounds a
little and nothing else (the test asserts fewer rounds than cold).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOC_SCHEMA = "repo string, path string, commit string, lang string, content string"


def read_document_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(DOC_SCHEMA).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(source_dir)


def ingest_reference_stream(
    spark: SparkSession,
    source_dir: str,
    refs_out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain everything currently in ``source_dir`` (availableNow)
    through the vectorized extraction into an append-only
    ``(src_path, ref_key)`` parquet table. Idempotent re-runs: the
    streaming commit log skips already-ingested files."""
    from citation_graph_spark.extraction import extract_references

    docs = read_document_stream(spark, source_dir, max_files_per_trigger)
    refs = extract_references(docs)
    q = (
        refs.writeStream.format("parquet")
        .option("path", refs_out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def resolve_edges(
    spark: SparkSession, refs_dir: str, vertices: DataFrame
) -> DataFrame:
    """Accumulated reference rows → (src, dst, weight) edge table.

    Delegates to extraction.resolve_refs — the SAME resolution joins
    (and the same broadcast-threshold guard) as the batch
    build_edges, but fed from the materialized reference table instead
    of an in-flight extraction. The streaming path lands raw
    references so re-resolution is cheap when the vertex universe
    itself grows (late-arriving files can resolve previously-dangling
    references)."""
    from citation_graph_spark.extraction import resolve_refs

    return resolve_refs(spark.read.parquet(refs_dir), vertices)


def refresh_pagerank(
    edges: DataFrame,
    vertices: DataFrame,
    prior_scores: DataFrame | None = None,
    tol: float = 1e-8,
    metrics_path: str | None = None,
) -> DataFrame:
    """One incremental refresh: re-rank the grown graph, warm-started
    from the previous refresh's converged scores. That takes a few
    rounds fewer than a cold run (17 against 19-20 on the corpora in
    the module docstring), with allclose scores; the test asserts
    strictly fewer iterations than cold on the same graph."""
    from citation_graph_spark.graph import pagerank

    return pagerank(
        edges,
        vertices,
        tol=tol,
        init_ranks=prior_scores,
        metrics_path=metrics_path,
    )
