"""Dense vertex-id assignment — string keys at the boundary, longs inside.

The reference keeps string uids everywhere (heterogeneous namespaces,
src/citations/utils.py:56-73 sha-fallback ids); that is fine for Neo4j
but expensive for Spark shuffles. We map ``(repo, path)`` to dense
``vid: long`` in ``0..N-1`` deterministically.

Scale note: the naive ``row_number() OVER (ORDER BY ...)`` collapses to
a single partition — wrong at 10^12 rows. This implementation is the
distributed zipWithIndex equivalent in pure DataFrame ops:

1. range-partition + sort within partitions by the key,
2. local rank per partition (parallel window),
3. per-partition counts → cumulative offsets (P rows on the driver),
4. vid = offset[partition] + local_rank - 1.

vid depends only on the global (repo, path) order, not on where the
range boundaries land, so the assignment is reproducible run-to-run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def assign_dense_ids(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Return ``df`` with a dense ``vid: long`` column, 0..N-1 in
    lexicographic ``key_cols`` order. ``key_cols`` must be unique per row.
    It range-partitions at the current ``spark.sql.shuffle.partitions``."""
    spark = df.sparkSession
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))

    keyed = df.repartitionByRange(width, *key_cols).sortWithinPartitions(*key_cols)
    with_part = keyed.withColumn("_pid", F.spark_partition_id())
    local = with_part.withColumn(
        "_lrank",
        F.row_number().over(Window.partitionBy("_pid").orderBy(*key_cols)),
    )
    local = local.localCheckpoint(eager=True)  # pin partition ids

    counts = (
        local.groupBy("_pid").count().orderBy("_pid").collect()
    )  # P rows — driver-side cumulative sum is trivial
    offsets, acc = {}, 0
    for row in counts:
        offsets[row["_pid"]] = acc
        acc += row["count"]
    offset_df = spark.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()], "_pid int, _offset long"
    )
    out = (
        local.join(F.broadcast(offset_df), "_pid")
        .withColumn("vid", (F.col("_offset") + F.col("_lrank") - 1).cast("long"))
        .drop("_pid", "_lrank", "_offset")
    )
    return out


def build_vertices(docs: DataFrame) -> DataFrame:
    """documents → vertices(vid, repo, path, lang, content_sha256).

    The sha256 column carries the per-row invariant the way ``uid``
    carries identity in the reference (src/citations/schemas.py:15).

    ``base`` is persisted across assign_dense_ids' two passes (range
    sampling + the real pass) so the full-content scan + sha256 runs
    once, not twice — on a wide corpus the content scan dominates."""
    base = docs.select(
        "repo", "path", "lang", F.sha2("content", 256).alias("content_sha256")
    ).persist()
    out = assign_dense_ids(base, ["repo", "path"]).select(
        "vid", "repo", "path", "lang", "content_sha256"
    )
    # assign_dense_ids localCheckpoints its sorted intermediate, so the
    # returned plan no longer needs `base` once built
    base.unpersist()
    return out
