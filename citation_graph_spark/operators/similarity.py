"""Similarity search over the ``embeddings`` table.

Re-expresses the reference's vector surface — the Neo4j cosine vector
index (neo4j/loader.py:50-74) and its Bloom consumer
`db.index.vector.queryNodes('article_embeddings', 30, m.embedding)`
(perspectives/bbp_or_not_perspective.json:1, J13) — as Spark plans:

- brute-force top-k cosine: the correctness baseline (broadcast the
  query set, score every candidate, window-rank per query);
- sign-LSH bucketed ANN: the scale path (random-hyperplane-style
  buckets from coordinate signs; candidates only within a bucket).

All cosine arithmetic runs on quantized integer vectors (exact across
engines — see dedup.py for the determinism argument).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from citation_graph_spark.operators import register
from citation_graph_spark.tables import load_tables

from citation_graph_spark.operators.clustering import (
    DOT_BIGINT as _DOT,
    QUANT_MILLI as _QUANT,
)
_N_QUERIES = 10
_TOP_K = 5


def cosine(dot: Column) -> Column:
    """``dot / sqrt(na * nb)`` over the integer squared norms ``na`` and
    ``nb``. Each factor is cast to double before the product: an int64
    product wraps silently past 2^63. Below that the values are
    bit-identical to the int64 form, since factors under 2^53 are exact
    in double and both forms round the exact product once."""
    return dot / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["embeddings"]
    return e.select("vec_id", F.expr(_QUANT).alias("qv")).withColumn(
        "nrm", F.expr(_DOT.format(a="qv", b="qv"))
    )


# --------------------------------------------------------------------------
@register(
    "knn_cosine_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> cast(floor(cast(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ),
    n AS (SELECT vec_id, qv, list_dot_product(qv, qv) AS nrm FROM q),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_dot_product(a.qv, b.qv) / sqrt(a.nrm * b.nrm) AS cosine
      FROM n a JOIN n b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {_N_QUERIES}
    )
    SELECT query_id, neighbor_id,
           cast(floor(cosine * 1000000 + 0.5) AS BIGINT) AS cosine_micro, rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= {_TOP_K}
    """,
)
def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (reference J13 'Show Similar Articles',
    top-30 vector-index query): broadcast the small query set against
    every candidate partition, score JVM-side, per-query window rank.
    At cluster scale the broadcast side is the query batch and the scan
    side stays partition-parallel with no shuffle until the (tiny)
    per-query top-k aggregation."""
    q = _quantized(spark, sf_dir)
    queries = q.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("qa"),
        F.col("nrm").alias("na"),
    )
    cands = q.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qv").alias("qb"),
        F.col("nrm").alias("nb"),
    )
    dot = F.expr(_DOT.format(a="qa", b="qb"))
    scored = (
        F.broadcast(queries)
        .crossJoin(cands)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine(dot))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.floor(F.col("cosine") * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("cosine_micro"),
            "rk",
        )
    )


# --------------------------------------------------------------------------
_SIGN_BITS = 8


@register(
    "ann_sign_lsh",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> cast(floor(cast(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, qv, list_dot_product(qv, qv) AS nrm,
             {" + ".join(f"(CASE WHEN qv[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)" for i in range(_SIGN_BITS))}
               AS bucket
      FROM q
    ),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, a.bucket,
             list_dot_product(a.qv, b.qv) / sqrt(a.nrm * b.nrm) AS cosine
      FROM n a JOIN n b ON a.bucket = b.bucket AND b.vec_id <> a.vec_id
      WHERE a.vec_id < {_N_QUERIES}
    )
    SELECT query_id, neighbor_id, bucket,
           cast(floor(cosine * 1000000 + 0.5) AS BIGINT) AS cosine_micro, rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
)
def ann_sign_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate NN — the scale path for J13: bucket by
    the sign pattern of the leading coordinates (a fixed
    random-hyperplane family), then score only within-bucket candidate
    pairs. Shuffles on the bucket key instead of materializing the
    all-pairs cross product."""
    q = _quantized(spark, sf_dir)
    bucket = None
    for i in range(_SIGN_BITS):
        bit = F.when(F.element_at("qv", i + 1) >= 0, F.lit(1 << i)).otherwise(0)
        bucket = bit if bucket is None else bucket + bit
    q = q.withColumn("bucket", bucket)
    queries = q.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("qa"),
        F.col("nrm").alias("na"),
        "bucket",
    )
    cands = q.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qv").alias("qb"),
        F.col("nrm").alias("nb"),
        "bucket",
    )
    dot = F.expr(_DOT.format(a="qa", b="qb"))
    scored = (
        queries.join(cands, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine(dot))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            "bucket",
            F.floor(F.col("cosine") * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("cosine_micro"),
            "rk",
        )
    )


# --------------------------------------------------------------------------
@register(
    "embedding_centroids",
    oracle="""
    WITH q AS (
      SELECT label,
             list_transform(embedding,
               x -> cast(floor(cast(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ),
    expl AS (
      SELECT label, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v FROM q
    ),
    cent AS (
      SELECT label, pos, sum(v) AS sv, count(*) AS c FROM expl GROUP BY label, pos
    )
    SELECT label, max(c) AS n_vectors,
           cast(floor(sqrt(sum((sv * 1.0 / c) * (sv * 1.0 / c))) * 1000 + 0.5)
                AS BIGINT) AS centroid_norm_milli
    FROM cent GROUP BY label
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid norm (the reduce step of IVF index building:
    coarse centroids first, residual buckets second). Positional
    explode + two-level aggregation — the classic array-column rollup.
    """
    e = load_tables(spark, sf_dir)["embeddings"]
    q = e.select("label", F.expr(_QUANT).alias("qv"))
    expl = q.select("label", F.posexplode("qv").alias("pos", "v"))
    cent = expl.groupBy("label", "pos").agg(
        F.sum("v").alias("sv"), F.count(F.lit(1)).alias("c")
    )
    mean = F.col("sv") / F.col("c")
    return cent.groupBy("label").agg(
        F.max("c").alias("n_vectors"),
        F.floor(F.sqrt(F.sum(mean * mean)) * 1000 + F.lit(0.5))
        .cast("long")
        .alias("centroid_norm_milli"),
    )


# --------------------------------------------------------------------------
_NPROBE = 2


def _ivf_oracle() -> str:
    return f"""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> cast(floor(cast(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ),
    expl AS (
      SELECT label, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v FROM q
    ),
    cent AS (
      SELECT label AS cl, pos, sum(v) * 1.0 / count(*) AS cv
      FROM expl GROUP BY label, pos
    ),
    vec_expl AS (
      SELECT vec_id, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v FROM q
    ),
    dists AS (
      SELECT vec_id, cl, sum((v - cv) * (v - cv)) AS d2
      FROM vec_expl JOIN cent ON vec_expl.pos = cent.pos
      GROUP BY vec_id, cl
    ),
    assign AS (
      SELECT vec_id, cl AS bucket FROM (
        SELECT vec_id, cl,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
        FROM dists
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cl AS bucket FROM (
        SELECT vec_id, cl,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
        FROM dists
      ) WHERE rn <= {_NPROBE} AND vec_id < {_N_QUERIES}
    ),
    n AS (SELECT vec_id, qv, list_dot_product(qv, qv) AS nrm FROM q),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             list_dot_product(nq.qv, nc.qv) / sqrt(nq.nrm * nc.nrm) AS cosine
      FROM probes p
        JOIN assign a ON a.bucket = p.bucket
        JOIN n nq ON nq.vec_id = p.query_id
        JOIN n nc ON nc.vec_id = a.vec_id
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id,
           cast(floor(cosine * 1000000 + 0.5) AS BIGINT) AS cosine_micro, rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 3
    """


@register("ann_ivf", oracle=_ivf_oracle())
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate NN — the other J13 scale path: coarse centroids
    (per-label means over quantized vectors), every vector assigned to
    its nearest centroid (the inverted file), queries probe the
    ``nprobe`` nearest lists and score only those candidates. At
    warehouse scale the inverted lists are the partition key — a query
    touches nprobe partitions instead of the whole table."""
    e = load_tables(spark, sf_dir)["embeddings"]
    q = e.select("vec_id", "label", F.expr(_QUANT).alias("qv"))
    expl = q.select("label", F.posexplode("qv").alias("pos", "v"))
    cent = expl.groupBy(F.col("label").alias("cl"), "pos").agg(
        (F.sum("v") * 1.0 / F.count(F.lit(1))).alias("cv")
    )
    vec_expl = q.select("vec_id", F.posexplode("qv").alias("pos", "v"))
    dists = (
        vec_expl.join(cent, "pos")
        .groupBy("vec_id", "cl")
        .agg(F.sum((F.col("v") - F.col("cv")) * (F.col("v") - F.col("cv"))).alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cl"))
    ranked = dists.withColumn("rn", F.row_number().over(w))
    assign = ranked.filter(F.col("rn") == 1).select(
        "vec_id", F.col("cl").alias("bucket")
    )
    probes = ranked.filter(
        (F.col("rn") <= _NPROBE) & (F.col("vec_id") < _N_QUERIES)
    ).select(F.col("vec_id").alias("query_id"), F.col("cl").alias("bucket"))
    n = q.select("vec_id", "qv").withColumn("nrm", F.expr(_DOT.format(a="qv", b="qv")))
    nq = n.select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("qa"),
        F.col("nrm").alias("na"),
    )
    nc = n.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qv").alias("qb"),
        F.col("nrm").alias("nb"),
    )
    dot = F.expr(_DOT.format(a="qa", b="qb"))
    scored = (
        probes.join(assign, probes["bucket"] == assign["bucket"])
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(nq), "query_id")
        .join(nc, "neighbor_id")
        .withColumn("cosine", cosine(dot))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            F.floor(F.col("cosine") * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("cosine_micro"),
            "rk",
        )
    )


# --------------------------------------------------------------------------
@register("embedding_kmeans")  # rows-only: MLlib's k-means has no SQL oracle
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means over the embedding column (reference capability parity:
    clustering/kmeans.py:38-44 fits sklearn KMeans on the full
    embedding matrix in memory; here MLlib's distributed Lloyd's with a
    fixed seed). The north rule's in-engine community structure is
    label propagation (graph/communities.py); this covers the
    reference's embedding-space clustering surface. Deterministic under
    a fixed seed (tests/test_kmeans.py asserts run-to-run equality);
    exactness vs a single-node oracle is not defined for k-means
    (initialization differs per implementation), so this is a
    rows-only entry."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = load_tables(spark, sf_dir)["embeddings"]
    feat = e.select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    km = KMeans(k=10, seed=42, maxIter=20, initMode="k-means||")
    model = km.fit(feat)
    return (
        model.transform(feat)
        .select("vec_id", F.col("prediction").cast("long").alias("cluster"))
    )


# --------------------------------------------------------------------------
# d=512 gate variant: the pytest high-dim fixture (tests/test_highdim.py)
# proved the vector stack at d=512, but the driver gate only ever saw the
# 64-dim embeddings table. This query synthesizes a deterministic 512-dim
# INTEGER expansion of each embedding — tile the 64 quantized coords 8×
# with a position-scaled copy plus a (vec_id, j)-keyed integer offset —
# identically on both engines (pure int arithmetic, no floats until the
# final cosine), then runs the brute-force cosine top-k at d=512. The
# high-dim dot product, norm, and window rank all execute at the real
# width, so a d-dependent regression (overflow, transform/zip_with
# shape, argsort stability) fails the driver gate, not just pytest.
_HD_DIMS = 512

# j ∈ [0, 512): hv[j] = qv[j mod d] · (1 + j div d) + ((vec_id·(j+1)) mod 97) − 48
_HD_EXPAND = (
    f"transform(sequence(0, {_HD_DIMS - 1}), j -> "
    "element_at(qv, (j % size(qv)) + 1) * (1L + (j div size(qv))) "
    "+ ((vec_id * (j + 1L)) % 97L) - 48L)"
)


@register(
    "knn_cosine_topk_d512",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> cast(floor(cast(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ),
    hd AS (
      SELECT vec_id, list_transform(range(0, {_HD_DIMS}), j ->
        qv[(j % len(qv)) + 1] * (1 + (j // len(qv)))
        + ((vec_id * (j + 1)) % 97) - 48) AS hv
      FROM q
    ),
    n AS (SELECT vec_id, hv, list_dot_product(hv, hv) AS nrm FROM hd),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_dot_product(a.hv, b.hv) / sqrt(a.nrm * b.nrm) AS cosine
      FROM n a JOIN n b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {_N_QUERIES}
    )
    SELECT query_id, neighbor_id,
           cast(floor(cosine * 1000000 + 0.5) AS BIGINT) AS cosine_micro, rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= {_TOP_K}
    """,
)
def knn_cosine_topk_d512(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the deterministic d=512 integer
    expansion (same plan shape as ``knn_cosine_topk``: broadcast query
    batch × candidate scan, JVM-side exact int64 dot, per-query window
    rank — scale argument unchanged, just 8× the vector width)."""
    e = load_tables(spark, sf_dir)["embeddings"]
    hd = e.select(
        "vec_id", F.expr(_QUANT).alias("qv")
    ).select(
        "vec_id", F.expr(_HD_EXPAND).alias("hv")
    ).withColumn("nrm", F.expr(_DOT.format(a="hv", b="hv")))
    queries = hd.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("hv").alias("qa"),
        F.col("nrm").alias("na"),
    )
    cands = hd.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("hv").alias("qb"),
        F.col("nrm").alias("nb"),
    )
    dot = F.expr(_DOT.format(a="qa", b="qb"))
    scored = (
        F.broadcast(queries)
        .crossJoin(cands)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine(dot))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.floor(F.col("cosine") * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("cosine_micro"),
            "rk",
        )
    )
