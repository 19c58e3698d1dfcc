"""Incremental ingestion: stream-ingest the corpus in two batches,
prove the accumulated edge table equals the batch pipeline's, and
prove warm-started PageRank == cold PageRank in fewer iterations.

This is the streaming-native version of the reference's
fetch-new/left-anti/append checkpoint loop
(data_sources/utils.py:23-121) plus its re-run-analyses-after-ingest
pattern, replaced by O(drift) kernel refresh."""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

from citation_graph_spark.extraction import build_edges
from citation_graph_spark.fixtures.corpus import generate_documents
from citation_graph_spark.graph.ids import build_vertices
from citation_graph_spark.streaming.incremental import (
    ingest_reference_stream,
    refresh_pagerank,
    resolve_edges,
)

N_DOCS = 400


def _write_batch(spark, pdf: pd.DataFrame, src_dir: str) -> None:
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src_dir)


def _iters(metrics_path: str) -> int:
    with open(metrics_path) as f:
        recs = [json.loads(line) for line in f]
    return next(r["iterations"] for r in recs if r["iteration"] == -1)


def test_stream_ingest_matches_batch_and_warm_start(spark, tmp_path):
    docs_pdf = generate_documents(N_DOCS, seed=11)
    batch1, batch2 = docs_pdf.iloc[:250], docs_pdf.iloc[250:]

    src_dir = str(tmp_path / "src")
    refs_dir = str(tmp_path / "refs")
    ckpt_dir = str(tmp_path / "stream_ckpt")

    # ---- batch 1 arrives, gets drained exactly once
    _write_batch(spark, batch1, src_dir)
    ingest_reference_stream(spark, src_dir, refs_dir, ckpt_dir)
    n_refs_1 = spark.read.parquet(refs_dir).count()
    assert n_refs_1 > 0

    # re-run with nothing new: commit log skips everything (idempotent)
    ingest_reference_stream(spark, src_dir, refs_dir, ckpt_dir)
    assert spark.read.parquet(refs_dir).count() == n_refs_1

    # snapshot-1 graph: vertices and edges over what has arrived so far
    docs1 = spark.createDataFrame(batch1)
    verts1 = build_vertices(docs1)
    edges1 = resolve_edges(spark, refs_dir, verts1)
    scores1 = refresh_pagerank(edges1, verts1)

    # ---- batch 2 arrives; only the new file is processed
    _write_batch(spark, batch2, src_dir)
    ingest_reference_stream(spark, src_dir, refs_dir, ckpt_dir)

    # accumulated edges == the batch pipeline over the full corpus
    docs_all = spark.createDataFrame(docs_pdf)
    verts_all = build_vertices(docs_all)
    streamed = resolve_edges(spark, refs_dir, verts_all)
    batch = build_edges(docs_all, verts_all)
    s = sorted(map(tuple, streamed.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert s == b

    # ---- warm-started refresh: same answer, fewer rounds
    # vids are dense over (repo, path); map snapshot-1 scores into the
    # grown universe by joining back through the stable (repo, path) key
    prior = (
        scores1.join(verts1.select("vid", "repo", "path"), "vid")
        .join(
            verts_all.selectExpr("vid as new_vid", "repo", "path"),
            ["repo", "path"],
        )
        .selectExpr("new_vid as vid", "score")
    )

    m_cold = str(tmp_path / "m_cold.jsonl")
    m_warm = str(tmp_path / "m_warm.jsonl")
    cold = refresh_pagerank(streamed, verts_all, metrics_path=m_cold)
    warm = refresh_pagerank(
        streamed, verts_all, prior_scores=prior, metrics_path=m_warm
    )

    c = cold.orderBy("vid").toPandas()["score"].to_numpy()
    w = warm.orderBy("vid").toPandas()["score"].to_numpy()
    assert np.allclose(c, w, atol=1e-6, rtol=0)
    assert abs(w.sum() - 1.0) < 1e-9

    it_cold, it_warm = _iters(m_cold), _iters(m_warm)
    assert it_warm < it_cold, (it_warm, it_cold)


def test_components_warm_start_append_only(spark, tmp_path, local_finish_rows):
    """Append-only growth: warm-started CC == cold CC (exact), in
    strictly fewer rounds — including a component MERGE via new
    edges and brand-new vertices."""
    from citation_graph_spark.graph import connected_components
    from tests.conftest import edges_df, vertices_df

    # snapshot 1: two long chains (high diameter → many cold rounds)
    chain1 = [(i, i + 1, 1.0) for i in range(0, 19)]
    chain2 = [(i, i + 1, 1.0) for i in range(20, 39)]
    e1 = edges_df(spark, chain1 + chain2)
    v1 = vertices_df(spark, 40)
    labels1 = connected_components(e1, v1)

    # snapshot 2: a bridge merges the chains; a new chain of fresh
    # vertices attaches at the end
    growth = [(19, 20, 1.0)] + [(i, i + 1, 1.0) for i in range(39, 45)]
    e2 = edges_df(spark, chain1 + chain2 + growth)
    v2 = vertices_df(spark, 46)

    def rounds(path):
        import json as _json

        with open(path) as f:
            return max(_json.loads(ln)["iteration"] for ln in f)

    m_cold = str(tmp_path / "cc_cold.jsonl")
    m_warm = str(tmp_path / "cc_warm.jsonl")
    # no local finish: the round-count comparison below is about the
    # distributed kernel (warm start is skipped by the local path)
    local_finish_rows(0)
    cold = connected_components(e2, v2, metrics_path=m_cold)
    warm = connected_components(
        e2,
        v2,
        metrics_path=m_warm,
        init_labels=labels1.selectExpr("vid", "component as label"),
    )
    c = {r["vid"]: r["component"] for r in cold.collect()}
    w = {r["vid"]: r["component"] for r in warm.collect()}
    assert c == w
    assert set(c.values()) == {0}  # everything merged into one component
    assert rounds(m_warm) < rounds(m_cold), (rounds(m_warm), rounds(m_cold))
