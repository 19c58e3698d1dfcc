"""Extraction stage: vectorized reference extraction, edge resolution,
per-row sha256 invariant, vertex-id density (FIXTURES.md §1-§2)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from citation_graph_spark.extraction import (
    build_edges,
    content_sha_roundtrip,
    extract_references,
)
from citation_graph_spark.fixtures import (
    documents_spark_df,
    expected_references,
    generate_documents,
)
from citation_graph_spark.graph.ids import build_vertices

N_DOCS = 400


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = generate_documents(N_DOCS, seed=42)
    docs = spark.createDataFrame(pdf).cache()
    verts = build_vertices(docs).cache()
    edges = build_edges(docs, verts).cache()
    return pdf, docs, verts, edges


def test_corpus_keys_unique(corpus):
    pdf, docs, verts, _ = corpus
    assert docs.count() == N_DOCS
    assert docs.select("repo", "path").distinct().count() == N_DOCS
    assert docs.select("path").distinct().count() == N_DOCS


def test_dense_vertex_ids(corpus):
    _, _, verts, _ = corpus
    vids = [r["vid"] for r in verts.select("vid").orderBy("vid").collect()]
    assert vids == list(range(N_DOCS))


def test_vertex_ids_deterministic(spark, corpus):
    _, docs, verts, _ = corpus
    again = build_vertices(docs)
    diff = (
        verts.select("vid", "path")
        .exceptAll(again.select("vid", "path"))
        .count()
    )
    assert diff == 0


def test_extraction_matches_pandas_oracle(corpus):
    pdf, docs, verts, edges = corpus
    want = expected_references(pdf)
    # resolve oracle (src_path, dst_key) → (src, dst) via the vertex map
    vmap = {
        r["path"]: r["vid"] for r in verts.select("path", "vid").collect()
    }
    kmap = {p.rsplit(".", 1)[0]: v for p, v in vmap.items()}
    want_edges = {
        (vmap[r.src_path], kmap[r.dst_key]): r.n_refs
        for r in want.itertuples()
        if kmap[r.dst_key] != vmap[r.src_path]  # engine drops self-loops
    }
    got = {
        (r["src"], r["dst"]): int(r["weight"])
        for r in edges.collect()
    }
    assert got == want_edges


def test_no_self_loops_and_endpoints_exist(corpus):
    _, _, verts, edges = corpus
    assert edges.filter(F.col("src") == F.col("dst")).count() == 0
    v = verts.select("vid")
    assert edges.join(v, edges["src"] == v["vid"], "left_anti").count() == 0
    assert edges.join(v, edges["dst"] == v["vid"], "left_anti").count() == 0
    # (src, dst) unique — analog of reference pair-uniqueness check
    assert edges.count() == edges.select("src", "dst").distinct().count()


def test_content_sha_invariant(corpus):
    pdf, docs, _, _ = corpus
    rt = content_sha_roundtrip(docs)
    assert rt.filter(F.col("sha_before") != F.col("sha_after")).count() == 0
    # and the Spark-side sha equals a python-side sha (true per-row parity)
    spark_sha = {
        r["path"]: r["sha_before"]
        for r in rt.select("path", "sha_before").collect()
    }
    for _, row in pdf.iterrows():
        assert (
            spark_sha[row["path"]]
            == hashlib.sha256(row["content"].encode()).hexdigest()
        )


def test_dangling_refs_dropped(corpus):
    pdf, docs, verts, edges = corpus
    refs = extract_references(docs)
    n_refs = refs.count()
    resolved = edges.agg(F.sum("weight")).collect()[0][0]
    assert n_refs > resolved  # dangling + self-shifted refs dropped
    assert refs.filter(F.col("ref_key").startswith("src/missing/")).count() > 0


def test_corpus_memo_drops_entries_of_stopped_contexts(spark):
    """The operators' corpus memo drops an entry keyed by another
    SparkContext's applicationId on the next call, so a stopped
    context's checkpointed frames are not pinned."""
    from citation_graph_spark.operators import graphq

    graphq._CORPUS_MEMO[("app-of-a-stopped-context",)] = (None, None)
    graphq.corpus_tables(spark)
    assert list(graphq._CORPUS_MEMO) == [(spark.sparkContext.applicationId,)]
