"""Edge extraction: documents(content) → (src, dst, weight) edge table.

The Spark-first analog of the reference's citation-fetch stage
(reference: src/citations/data_sources/europmc.py:245-286 pulls citing
ids per article over HTTP row-at-a-time; scripts/gather_articles.py:234-240
loops articles). Here the references are *inside* ``content``, so the
whole stage is one distributed pass: a ``mapInPandas`` UDF whose body is
pure vectorized pandas string ops (``str.extractall`` — no per-row
Python), followed by ordinary joins that Catalyst plans.

Pipeline:
  documents --mapInPandas--> (src_path, ref_key)         [Arrow batches]
            --join vertices on module key--> (src, dst)  [broadcast or SMJ]
            --groupBy count--> (src, dst, weight)

Per-row invariant (BASELINE.json input_hint): content sha256 equality
through the extraction stage — see :func:`content_sha_roundtrip`.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# a reference is any double-quoted string in content; c/cpp includes
# carry the header extension which we strip to get the module key
_REF_RE = r'"([^"]+)"'
# vertex tables at or below this row count broadcast to the resolution
# joins (the reference-heavy side never shuffles). 1M rows of (vid,
# path/module_key strings) is ~100 MB serialized — about the practical
# per-executor ceiling; above it (the 10^12-file regime) both sides
# shuffle on the join key as usual
_BROADCAST_VERTICES = 1_000_000


def extract_references(docs: DataFrame) -> DataFrame:
    """(repo, path, content, lang, ...) → (src_path, ref_key) rows.

    Vectorized: each Arrow batch is processed with pandas
    ``str.extractall`` + ``str.replace`` — zero per-row Python.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            hits = pdf.set_index("path")["content"].str.extractall(_REF_RE)
            if hits.empty:
                continue
            out = hits.reset_index(level=0).rename(
                columns={"path": "src_path", 0: "ref_key"}
            )
            # strip c/cpp header extensions → module key
            out["ref_key"] = out["ref_key"].str.replace(
                r"\.(h|hpp)$", "", regex=True
            )
            yield out[["src_path", "ref_key"]]

    return docs.select("path", "content").mapInPandas(
        _extract, schema="src_path string, ref_key string"
    )


def module_key_col(path_col):
    """path → module key (extension stripped). Pure column expression —
    the F1 normalize-then-join pattern (reference src/citations/utils.py:76-98
    normalize_title feeding the merge in scripts/combine_serp.py:239-245)."""
    return F.regexp_replace(path_col, r"\.[A-Za-z0-9]+$", "")


def build_edges(docs: DataFrame, vertices: DataFrame) -> DataFrame:
    """Resolve extracted references against the vertex table.

    Returns ``(src: long, dst: long, weight: double)`` where weight is
    the reference multiplicity. Dangling references (no matching module
    key) drop out of the inner join; self-loops are filtered (analog of
    reference data_checks/test_article_cites_article.py:19-24 and the
    fetch-time exclusion europmc.py:285).
    """
    return resolve_refs(extract_references(docs), vertices)


def resolve_refs(refs: DataFrame, vertices: DataFrame) -> DataFrame:
    """(src_path, ref_key) reference rows → (src, dst, weight) edges.

    The resolution-join block shared by the batch path (build_edges)
    and the streaming path (streaming/incremental.resolve_edges),
    including the broadcast-threshold guard — one implementation, both
    ingestion modes."""
    v = vertices.select(
        F.col("vid"),
        F.col("path"),
        module_key_col(F.col("path")).alias("module_key"),
    )
    src_side = v.select(F.col("vid").alias("src"), F.col("path").alias("src_path"))
    dst_side = v.select(F.col("vid").alias("dst"), F.col("module_key").alias("ref_key"))
    if vertices.count() <= _BROADCAST_VERTICES:
        # the refs stream (10-100x the vertex table) stays put; the two
        # resolution joins become map-side — extraction is then fully
        # shuffle-free up to the final edge-multiplicity aggregation
        src_side, dst_side = F.broadcast(src_side), F.broadcast(dst_side)
    edges = (
        refs.join(src_side, "src_path")
        .join(dst_side, "ref_key")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    return edges


def content_sha_roundtrip(docs: DataFrame) -> DataFrame:
    """Per-row invariant check: push content through the same Arrow
    mapInPandas boundary the extraction uses, hash on both sides.

    Returns (path, sha_before, sha_after); the test asserts equality —
    proving the UDF stage preserves content bytes exactly
    (BASELINE.json input_hint per-row invariant).
    """

    def _identity(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pdf

    before = docs.select("path", F.sha2("content", 256).alias("sha_before"))
    after = (
        docs.select("path", "content")
        .mapInPandas(_identity, schema="path string, content string")
        .select("path", F.sha2("content", 256).alias("sha_after"))
    )
    return before.join(after, "path")
