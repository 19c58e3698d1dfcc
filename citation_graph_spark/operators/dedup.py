"""Deduplication family over the ``documents`` table.

The training-data-pipeline dedup ladder, each rung a named query with a
DuckDB oracle:

- exact:          content-hash groupBy (one shuffle)
- n-gram Jaccard: shingle explode → shingle-key equi-join → exact
                  set-overlap ratio (the blocked-join pattern the
                  reference uses for entity resolution — J7,
                  combine_serp.py:88-141: block first, score second)
- MinHash + LSH:  16 universal-hash permutations min-folded per doc,
                  banded 4×4; candidate pairs = band-signature equi-join
                  (sub-quadratic: never compares non-colliding docs)
- SimHash:        32-bit sign-aggregated token fingerprint + banded
                  Hamming-ball pairing (lossless at radius < bands)
- embedding:      cosine near-dup over quantized integer vectors (exact
                  arithmetic → bit-identical across engines) — all-pairs
                  correctness baseline + IVF-bucketed scale path

Everything is column algebra — hashes are md5-hex→bigint, identical on
both engines; no Python UDFs anywhere in this module.

Scale notes: the shingle join and LSH band join both shuffle on a
well-spread hash key; the one quadratic member (all-pairs embedding
cosine) is the correctness baseline — at 100 TB you run the banded /
IVF variants and only score candidate pairs.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from citation_graph_spark.operators import register
from citation_graph_spark.tables import load_tables
from citation_graph_spark.operators.clustering import (
    DOT_BIGINT as _DOT,
    QUANT_MILLI,
)
from citation_graph_spark.operators.similarity import cosine

# ---- deterministic universal-hash constants (shared Spark/SQL) ----------
_P = 2147483647  # 2^31 - 1 (Mersenne prime)
_K = 16  # minhash permutations
_BANDS = 4  # LSH bands of 4 rows each
_rng = random.Random(20240816)
_A = [(_rng.randrange(1, _P) | 1) for _ in range(_K)]
_B = [_rng.randrange(0, _P) for _ in range(_K)]

# token/shingle hash: first 60 bits of md5 hex, identical on both engines
_H_SPARK = "cast(conv(substr(md5({x}), 1, 15), 16, 10) as bigint) % {p}"
_H_DUCK = "cast('0x' || substr(md5({x}), 1, 15) as bigint) % {p}"

# DuckDB relational 3-gram shingle builder (pos-indexed token table)
_SHINGLE_CTE = r"""
    toks AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(text), '\s+')) AS w,
             generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS pos
      FROM documents
    ),
    shingles AS (
      SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
      FROM toks a
        JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
    )
"""


def _shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) — distinct 3-word shingles, pure array algebra.

    Repartitions first: document tables arrive as few large parquet
    splits, and the split/transform pipeline is the CPU-heavy step —
    without the spread it runs at file-count parallelism."""
    parts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    docs = docs.repartition(parts, "doc_id")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    shingle_arr = F.when(
        F.size(toks) >= 3,
        F.array_distinct(
            F.expr(
                "transform(sequence(0, size(split(trim(text), '\\\\s+')) - 3), "
                "i -> concat_ws(' ', split(trim(text), '\\\\s+')[i], "
                "split(trim(text), '\\\\s+')[i+1], split(trim(text), '\\\\s+')[i+2]))"
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select("doc_id", F.explode(shingle_arr).alias("shingle"))


# --------------------------------------------------------------------------
@register(
    "dedup_exact",
    oracle="""
    SELECT substr(sha256(text), 1, 16) AS content_key,
           count(*) AS n_copies, min(doc_id) AS rep_doc_id
    FROM documents GROUP BY content_key
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on full content, min-id representative
    (order-insensitive reducer — SURVEY §7.2(c))."""
    d = load_tables(spark, sf_dir)["documents"]
    return d.groupBy(
        F.substring(F.sha2(F.col("text"), 256), 1, 16).alias("content_key")
    ).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("rep_doc_id"),
    )


# --------------------------------------------------------------------------
@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT d1, d2,
           cast(floor(c * 1.0 / (s1.sz + s2.sz - c) * 1000000 + 0.5) as bigint)
             AS jaccard_micro
    FROM inter
      JOIN sizes s1 ON d1 = s1.doc_id
      JOIN sizes s2 ON d2 = s2.doc_id
    WHERE c * 1.0 / (s1.sz + s2.sz - c) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs: shingle-key equi-join (blocking)
    then exact |∩|/|∪| — the J7 block-then-score shape
    (combine_serp.py:88-141) with set overlap instead of rapidfuzz."""
    d = load_tables(spark, sf_dir)["documents"]
    # referenced three times below (sizes + both join sides): persist so
    # the split/transform/explode pipeline runs once, not three times
    sh = _shingles(d).persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc_id").alias("d1"), "shingle")
    b = sh.select(F.col("doc_id").alias("d2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"))
    jac = F.col("c") / (F.col("sz1") + F.col("sz2") - F.col("c"))
    out = (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .filter(jac >= 0.2)
        .select(
            "d1",
            "d2",
            F.floor(jac * 1000000 + F.lit(0.5)).cast("long").alias("jaccard_micro"),
        )
        .localCheckpoint(eager=True)  # materialize, then release shingles
    )
    sh.unpersist()
    return out


def _minhash_exprs_sql(h: str) -> list[str]:
    return [f"min(({_A[j]} * ({h}) + {_B[j]}) % {_P})" for j in range(_K)]


# --------------------------------------------------------------------------
def _minhash_oracle() -> str:
    h = _H_DUCK.format(x="shingle", p=_P)
    mins = ", ".join(
        f"{e} AS m{j}" for j, e in enumerate(_minhash_exprs_sql(h))
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"concat_ws('-', m{4 * b}, m{4 * b + 1}, m{4 * b + 2}, m{4 * b + 3}) AS sig "
        "FROM sigs"
        for b in range(_BANDS)
    )
    return f"""
    WITH {_SHINGLE_CTE},
    sigs AS (SELECT doc_id, {mins} FROM shingles GROUP BY doc_id),
    bands AS ({band_rows})
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    """


@register("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs: shingle → 16 universal-hash minima
    → 4 bands of 4 → band-signature equi-join. The scale path: cost is
    O(docs × shingles + colliding pairs), never O(n²). Hash constants
    are module-level so the DuckDB oracle is the same function family.
    """
    d = load_tables(spark, sf_dir)["documents"]
    sh = _shingles(d).withColumn(
        "h", F.expr(_H_SPARK.format(x="shingle", p=_P))
    )
    mins = [
        F.min((F.lit(_A[j]) * F.col("h") + F.lit(_B[j])) % _P).alias(f"m{j}")
        for j in range(_K)
    ]
    sigs = sh.groupBy("doc_id").agg(*mins)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "-", f"m{4 * b}", f"m{4 * b + 1}", f"m{4 * b + 2}", f"m{4 * b + 3}"
            ).alias("sig"),
        )
        for b in range(_BANDS)
    ]
    bands = sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    a = bands.select(F.col("doc_id").alias("d1"), "band", "sig")
    b = bands.select(F.col("doc_id").alias("d2"), "band", "sig")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )


# --------------------------------------------------------------------------
def _simhash_ctes() -> str:
    h = _H_DUCK.format(x="w", p=_P)
    pows = ", ".join(str(1 << j) for j in range(32))
    return rf"""
    toks AS (
      SELECT DISTINCT doc_id,
             unnest(string_split_regex(trim(text), '\s+')) AS w
      FROM documents
    ),
    hashed AS (SELECT doc_id, {h} AS h FROM toks),
    bits AS (
      SELECT doc_id, pw,
             sum(CASE WHEN h % (pw * 2) >= pw THEN 1 ELSE -1 END) AS s
      FROM hashed CROSS JOIN (SELECT unnest([{pows}]) AS pw) p
      GROUP BY doc_id, pw
    ),
    sigs AS (
      SELECT doc_id,
             cast(sum(CASE WHEN s > 0 THEN pw ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    )
    """


def _simhash_oracle() -> str:
    return f"""
    WITH {_simhash_ctes()}
    SELECT doc_id, simhash FROM sigs
    """


def _simhash_sigs(d: DataFrame) -> DataFrame:
    """(doc_id, simhash) — 32-bit sign-aggregated token fingerprint."""
    spark = d.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    toks = d.repartition(parts, "doc_id").select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))).alias("w"),
    )
    hashed = toks.withColumn("h", F.expr(_H_SPARK.format(x="w", p=_P)))
    pows = F.array(*[F.lit(1 << j) for j in range(32)])
    bits = (
        hashed.select("doc_id", "h", F.explode(pows).alias("pw"))
        .groupBy("doc_id", "pw")
        .agg(
            F.sum(
                F.when(F.col("h") % (F.col("pw") * 2) >= F.col("pw"), 1).otherwise(-1)
            ).alias("s")
        )
    )
    return bits.groupBy("doc_id").agg(
        F.sum(F.when(F.col("s") > 0, F.col("pw")).otherwise(0)).alias("simhash")
    )


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document: per-bit sign aggregation of token
    hashes (bit test via modulo — engine-portable, no shift ops)."""
    return _simhash_sigs(load_tables(spark, sf_dir)["documents"])


# --------------------------------------------------------------------------
_SIMHASH_BANDS = 4  # 4 bytes of the 32-bit fingerprint
_HAMMING_K = 3  # near-dup radius; <= bands-1 ⇒ banding is lossless


def _simhash_pairs_oracle() -> str:
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, (simhash >> {8 * b}) & 255 AS band_val "
        "FROM sigs"
        for b in range(_SIMHASH_BANDS)
    )
    return f"""
    WITH {_simhash_ctes()},
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
           AND a.doc_id < b.doc_id
    )
    SELECT d1, d2,
           cast(bit_count(xor(s1.simhash, s2.simhash)) AS BIGINT) AS hamming
    FROM cand
      JOIN sigs s1 ON d1 = s1.doc_id
      JOIN sigs s2 ON d2 = s2.doc_id
    WHERE bit_count(xor(s1.simhash, s2.simhash)) <= {_HAMMING_K}
    """


@register("dedup_simhash_pairs", oracle=_simhash_pairs_oracle())
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-ball near-dup pairs — the pairing rung the
    fingerprint feeds (reference J8 intent,
    extract_affiliations_from_papers.py:186-202, with banding instead
    of O(n²)): band the 32-bit fingerprint into 4 bytes, candidate
    pairs = band-value equi-join, verify with popcount(xor) <= k.
    Exact, not approximate: k = 3 < 4 bands, so by pigeonhole every
    pair within the Hamming ball shares at least one untouched byte
    and is guaranteed to collide. Sub-quadratic: only colliding bands
    are ever compared."""
    d = load_tables(spark, sf_dir)["documents"]
    sigs = _simhash_sigs(d).persist()
    out = simhash_pair_lineage(sigs).localCheckpoint(
        eager=True
    )  # materialize, then release sigs
    sigs.unpersist()
    return out


def simhash_pair_lineage(sigs: DataFrame) -> DataFrame:
    """The banded pairing plan over (doc_id, simhash) — split out
    un-checkpointed so tests/test_plan_regressions.py and
    tools/explain_audit.py can read the lineage the registered query
    materializes."""
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            (F.shiftright(F.col("simhash"), 8 * b) % 256).alias("band_val"),
        )
        for b in range(_SIMHASH_BANDS)
    ]
    bands = sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc_id", "bs.band_idx", "bs.band_val")
    a = bands.select(F.col("doc_id").alias("d1"), "band_idx", "band_val")
    b = bands.select(F.col("doc_id").alias("d2"), "band_idx", "band_val")
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    s1 = sigs.select(F.col("doc_id").alias("d1"), F.col("simhash").alias("sh1"))
    s2 = sigs.select(F.col("doc_id").alias("d2"), F.col("simhash").alias("sh2"))
    hamming = F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2")))
    return (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= _HAMMING_K)
        .select("d1", "d2", "hamming")
    )


# --------------------------------------------------------------------------
def _embedding_pairs_oracle(threshold: float) -> str:
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> cast(floor(cast(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ),
    n AS (SELECT vec_id, qv, list_dot_product(qv, qv) AS nrm FROM q)
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           cast(floor(list_dot_product(a.qv, b.qv) / sqrt(a.nrm * b.nrm) * 1000000
                      + 0.5) AS BIGINT) AS cosine_micro
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.qv, b.qv) / sqrt(a.nrm * b.nrm) >= {threshold}
    """


# synthetic embeddings top out near cosine 0.51; 0.25 ≈ the top ~1% of
# pairs — the "near-duplicate" band for this corpus
_EMB_THRESHOLD = 0.25




# --------------------------------------------------------------------------
_IVF_NPROBE = 2  # top-2 nearest centroids per vector (multi-assignment)


# DuckDB CTE fragment: label-seeded IVF coarse quantizer → multi-probe
# assignment → shared-bucket candidate pairs (v1 < v2). Expects a CTE
# ``q(vec_id, label, qv)`` defined upstream; shared verbatim by the
# dedup and density-clustering oracles so candidate generation is ONE
# spec on both engines.
def ivf_cand_ctes(nprobe: int = _IVF_NPROBE) -> str:
    return f"""
    expl AS (
      SELECT label AS cl, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v FROM q
    ),
    cent AS (
      SELECT cl, pos, sum(v) * 1.0 / count(*) AS cv FROM expl GROUP BY cl, pos
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
      ) WHERE rn <= {nprobe}
    ),
    cand AS (
      SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
      FROM assign x JOIN assign y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    )"""


def ivf_candidate_pairs(q: DataFrame, nprobe: int = _IVF_NPROBE) -> DataFrame:
    """(vec_id, label, qv) → candidate pairs (v1, v2), v1 < v2.

    The sub-quadratic blocking every embedding-similarity operator
    shares (near-dup dedup, DBSCAN/single-linkage ε-graphs, density
    clustering): per-label centroids as the coarse quantizer, every
    vector multi-assigned to its ``nprobe`` nearest centroids
    (broadcast — k centroids, never the data), candidates = shared-
    bucket self-join with the bucket as the shuffle key. Cost
    ≈ nprobe²·n²/k over buckets, sub-quadratic with k grown ~√n; the
    caller exact-verifies every candidate, so blocking only ever costs
    recall, never precision."""
    cent = (
        q.select("label", F.posexplode("qv").alias("pos", "v"))
        .groupBy(F.col("label").alias("cl"), "pos")
        .agg((F.sum("v") * 1.0 / F.count(F.lit(1))).alias("cv"))
    )
    vec_expl = q.select("vec_id", F.posexplode("qv").alias("pos", "v"))
    dists = (
        vec_expl.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "cl")
        .agg(F.sum((F.col("v") - F.col("cv")) * (F.col("v") - F.col("cv"))).alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cl"))
    assign = (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select("vec_id", F.col("cl").alias("bucket"))
    )
    return (
        assign.alias("x")
        .join(assign.alias("y"), "bucket")
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(F.col("x.vec_id").alias("v1"), F.col("y.vec_id").alias("v2"))
        .distinct()
    )


def _embedding_ivf_oracle(threshold: float) -> str:
    return f"""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> cast(floor(cast(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ),
    {ivf_cand_ctes()},
    n AS (SELECT vec_id, qv, list_dot_product(qv, qv) AS nrm FROM q)
    SELECT c.v1, c.v2,
           cast(floor(list_dot_product(a.qv, b.qv) / sqrt(a.nrm * b.nrm) * 1000000
                      + 0.5) AS BIGINT) AS cosine_micro
    FROM cand c JOIN n a ON c.v1 = a.vec_id JOIN n b ON c.v2 = b.vec_id
    WHERE list_dot_product(a.qv, b.qv) / sqrt(a.nrm * b.nrm) >= {threshold}
    """


@register("dedup_embedding_ivf", oracle=_embedding_ivf_oracle(_EMB_THRESHOLD))
def dedup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed embedding near-dup — the 100 TB path for what
    ``dedup_embedding_cosine`` proves by brute force: IVF coarse
    quantization (per-label centroids, same index family as
    similarity.ann_ivf), every vector multi-assigned to its
    ``nprobe``=2 nearest centroids, candidate pairs = shared-bucket
    self-join, then exact quantized-cosine verify ≥ threshold. Cost is
    Σ n_b² over buckets (≈ nprobe²·n²/k, sub-quadratic with k grown
    ~√n) — never the cross product. Every emitted pair is exact-cosine
    verified, so precision is 1.0 by construction; recall is what
    bucketing trades (tests/test_dedup_lsh.py asserts subset + floor;
    sign-LSH was measured at 1.5% recall on this corpus — at a true
    near-identical threshold both structures approach full recall, but
    IVF degrades far more gracefully in the 0.25-cosine band)."""
    e = load_tables(spark, sf_dir)["embeddings"]
    q = e.select(
        "vec_id",
        "label",
        F.expr(QUANT_MILLI).alias("qv"),
    )
    cand = ivf_candidate_pairs(q)
    n = q.select("vec_id", "qv").withColumn("nrm", F.expr(_DOT.format(a="qv", b="qv")))
    a = n.select(
        F.col("vec_id").alias("v1"), F.col("qv").alias("qa"), F.col("nrm").alias("na")
    )
    b = n.select(
        F.col("vec_id").alias("v2"), F.col("qv").alias("qb"), F.col("nrm").alias("nb")
    )
    dot = F.expr(_DOT.format(a="qa", b="qb"))
    pairs = (
        cand.join(a, "v1")
        .join(b, "v2")
        .withColumn("cosine", cosine(dot))
    )
    return pairs.filter(F.col("cosine") >= _EMB_THRESHOLD).select(
        "v1",
        "v2",
        F.floor(F.col("cosine") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("cosine_micro"),
    )


@register("dedup_embedding_cosine", oracle=_embedding_pairs_oracle(_EMB_THRESHOLD))
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over quantized integer vectors.

    Quantization (floor(x*1000+0.5) → bigint) makes dot products and
    norms exact integers, so cosine is bit-identical across engines
    (IEEE-correct sqrt/divide on identical inputs). All-pairs here is
    the correctness baseline; the LSH-bucketed scale path is
    similarity.ann_sign_lsh."""
    e = load_tables(spark, sf_dir)["embeddings"]
    q = e.select(
        "vec_id",
        F.expr(QUANT_MILLI).alias("qv"),
    ).withColumn("nrm", F.expr(_DOT.format(a="qv", b="qv")))
    a = q.select(
        F.col("vec_id").alias("v1"), F.col("qv").alias("qa"), F.col("nrm").alias("na")
    )
    b = q.select(
        F.col("vec_id").alias("v2"), F.col("qv").alias("qb"), F.col("nrm").alias("nb")
    )
    dot = F.expr(_DOT.format(a="qa", b="qb"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("v1") < F.col("v2"))
        .withColumn("cosine", cosine(dot))
    )
    return pairs.filter(F.col("cosine") >= _EMB_THRESHOLD).select(
        "v1",
        "v2",
        F.floor(F.col("cosine") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("cosine_micro"),
    )


# --------------------------------------------------------------------------
def _minhash_groups_oracle() -> str:
    h = _H_DUCK.format(x="shingle", p=_P)
    mins = ", ".join(
        f"{e} AS m{j}" for j, e in enumerate(_minhash_exprs_sql(h))
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"concat_ws('-', m{4 * b}, m{4 * b + 1}, m{4 * b + 2}, m{4 * b + 3}) AS sig "
        "FROM sigs"
        for b in range(_BANDS)
    )
    return f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    sigs AS (SELECT doc_id, {mins} FROM shingles GROUP BY doc_id),
    bands AS ({band_rows}),
    prs AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    sym AS (SELECT DISTINCT s, d FROM (
        SELECT d1 AS s, d2 AS d FROM prs UNION ALL SELECT d2, d1 FROM prs)),
    docs AS (SELECT DISTINCT doc_id FROM documents),
    reach(v, l) AS (
      SELECT doc_id, doc_id FROM docs
      UNION
      SELECT sym.d, reach.l FROM reach JOIN sym ON reach.v = sym.s
    )
    SELECT v AS doc_id, min(l) AS group_id, v = min(l) AS is_kept
    FROM reach GROUP BY v
    """


@register("dedup_groups_minhash", oracle=_minhash_groups_oracle())
def dedup_groups_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → duplicate GROUPS → canonical representative: the step a
    real pipeline runs after any near-dup rung (keep one doc per
    duplicate cluster, drop the rest). Connected components over the
    MinHash-LSH candidate-pair graph, every document a vertex
    (singletons form their own group); group id = min doc_id, the kept
    representative is the group id itself — all order-insensitive.
    Scale: the pair graph is the LSH output (sub-quadratic) and CC is
    the engine's O(diameter)-round kernel; duplicate clusters are tiny,
    so rounds ≈ 2-3."""
    from citation_graph_spark.graph import connected_components

    pairs = dedup_minhash_lsh(spark, sf_dir)
    edges = pairs.select(
        F.col("d1").alias("src"),
        F.col("d2").alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    docs = load_tables(spark, sf_dir)["documents"].select(
        F.col("doc_id").alias("vid")
    ).distinct()
    comp = connected_components(edges, vertices=docs)
    return comp.select(
        F.col("vid").alias("doc_id"),
        F.col("component").alias("group_id"),
        (F.col("vid") == F.col("component")).alias("is_kept"),
    )


# --------------------------------------------------------------------------
@register(
    "benchmark_contamination",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    bench AS (
      SELECT DISTINCT shingle FROM shingles WHERE doc_id % 100 = 0
    ),
    ev AS (SELECT * FROM shingles WHERE doc_id % 100 <> 0),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM ev GROUP BY doc_id),
    hits AS (
      SELECT ev.doc_id, count(*) AS n_hit
      FROM ev JOIN bench ON ev.shingle = bench.shingle
      GROUP BY ev.doc_id
    )
    SELECT s.doc_id,
           s.n_shingles,
           cast(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           CAST(floor(coalesce(h.n_hit, 0) * 10000.0 / s.n_shingles + 0.5)
                AS BIGINT) AS contam_r4
    FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: for every training document, the
    fraction of its distinct word-trigram shingles that also appear in
    a held-out evaluation set (stand-in: docs with doc_id % 100 == 0 —
    deterministic, so both engines see the same split). The standard
    pre-training decontamination pass (n-gram overlap against eval
    suites, GPT-3 appendix C style).

    Scale shape: the benchmark side is DISTINCT shingles of the eval
    suite — eval sets are small and fixed by construction, so it is
    broadcast (plan has no shuffle for the probe join); the training
    side streams through map-side, then one groupBy(doc_id) partial
    agg. At 100 TB the cost is one scan + one doc_id-keyed shuffle of
    per-doc counters."""
    d = load_tables(spark, sf_dir)["documents"]
    sh = _shingles(d).persist()
    out = contamination_lineage(sh).localCheckpoint(
        eager=True  # materialize, then release shingles
    )
    sh.unpersist()
    return out


def contamination_lineage(sh: DataFrame) -> DataFrame:
    """Pre-checkpoint plan of benchmark_contamination over a shingle
    set — exposed so the plan audit can pin the broadcast probe join
    (the registered query materializes via localCheckpoint)."""
    bench = sh.filter(F.col("doc_id") % 100 == 0).select("shingle").distinct()
    ev = sh.filter(F.col("doc_id") % 100 != 0)
    sizes = ev.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        ev.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return sizes.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
        F.floor(
            F.coalesce(F.col("n_hit"), F.lit(0)) * 10000.0
            / F.col("n_shingles")
            + F.lit(0.5)
        ).alias("contam_r4"),
    )


# --------------------------------------------------------------------------
# corpus-level exact-substring (n-gram span) dedup — Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better" style:
# flag every K-token span that recurs across distinct documents, then
# score each document by the fraction of its span positions flagged.
_SPAN_K = 7
_SPAN_MIN_DOCS = 2
_SPAN_DROP_R4 = 5000  # drop a doc when > half its spans are shared

_SPAN_GRAMS_SQL = f"""
    toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts
             FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ts) - {_SPAN_K} + 2),
                    i -> array_to_string(ts[i:i+{_SPAN_K - 1}], ' '))) AS g
      FROM toks WHERE len(ts) >= {_SPAN_K}
    )
"""


@register(
    "span_dedup_ngram",
    oracle=f"""
    WITH {_SPAN_GRAMS_SQL},
    dg AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g),
    gd AS (SELECT g, count(*) AS n_docs FROM dg GROUP BY g),
    pd AS (
      SELECT dg.doc_id, sum(dg.c) AS n_spans,
             sum(CASE WHEN gd.n_docs >= {_SPAN_MIN_DOCS} THEN dg.c
                      ELSE 0 END) AS n_flagged
      FROM dg JOIN gd USING (g) GROUP BY dg.doc_id
    ),
    scored AS (
      SELECT d.doc_id,
             cast(coalesce(pd.n_spans, 0) AS BIGINT) AS n_spans,
             cast(coalesce(pd.n_flagged, 0) AS BIGINT) AS n_flagged,
             cast(CASE WHEN coalesce(pd.n_spans, 0) > 0
                  THEN floor(pd.n_flagged * 10000.0 / pd.n_spans + 0.5)
                  ELSE 0 END AS BIGINT) AS flagged_r4
      FROM documents d LEFT JOIN pd USING (doc_id)
    )
    SELECT doc_id, n_spans, n_flagged, flagged_r4,
           cast(CASE WHEN flagged_r4 <= {_SPAN_DROP_R4} THEN 1 ELSE 0 END
                AS BIGINT) AS keep
    FROM scored
    """,
)
def span_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact-substring dedup signal (Lee et al. 2022
    style): every {K}-token span is counted across the corpus; a span
    that appears in >= {MIN_DOCS} distinct documents is flagged, and
    each document reports its span total, flagged-span count, flagged
    fraction (1e-4 quantized), and a keep decision (drop when more
    than half its spans are shared boilerplate). Complements
    dedup_minhash_lsh (whole-document near-dup) with SPAN-level
    recurrence — the pass that catches licenses, headers and templated
    boilerplate embedded inside otherwise-unique documents. Reference
    analog: the reference dedups at whole-record granularity only
    (combine_serp.py:88-141 fuzzy title match); this is the missing
    sub-document rung a pre-training corpus needs.

    Scale shape: one explode of K-gram spans, pre-aggregated per
    (doc_id, gram) map-side, then ONE gram-keyed shuffle for the
    corpus counts and one doc_id-keyed shuffle back — no self-join, no
    candidate blowup; volume is O(tokens). At 100 TB the gram string
    would be replaced by xxhash64(gram) as the shuffle key (64-bit,
    collision-negligible) to cut shuffle bytes ~5x; kept string-exact
    here so the DuckDB oracle replays byte-identically."""
    d = load_tables(spark, sf_dir)["documents"]
    return span_dedup_scores(d)


def span_dedup_scores(d: DataFrame) -> DataFrame:
    """Core of span_dedup_ngram over any (doc_id, text) frame —
    exposed for unit tests and for callers with non-fixture corpora."""
    spark = d.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = d.repartition(parts, "doc_id")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    gram_arr = F.when(
        F.size(toks) >= _SPAN_K,
        F.expr(
            f"transform(sequence(0, size(split(trim(text), '\\\\s+')) - {_SPAN_K}),"
            f" i -> concat_ws(' ', slice(split(trim(text), '\\\\s+'), i + 1, {_SPAN_K})))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    dg = (
        docs.select("doc_id", F.explode(gram_arr).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    gd = dg.groupBy("g").agg(F.count(F.lit(1)).alias("n_docs"))
    pd_ = (
        dg.join(gd, "g")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("s_spans"),
            F.sum(
                F.when(F.col("n_docs") >= _SPAN_MIN_DOCS, F.col("c")).otherwise(
                    F.lit(0)
                )
            ).alias("s_flagged"),
        )
    )
    flagged_r4 = F.when(
        F.coalesce(F.col("s_spans"), F.lit(0)) > 0,
        F.floor(F.col("s_flagged") * 10000.0 / F.col("s_spans") + F.lit(0.5)),
    ).otherwise(F.lit(0)).cast("long")
    return (
        d.select("doc_id")
        .join(pd_, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("s_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("s_flagged", F.lit(0)).cast("long").alias("n_flagged"),
            flagged_r4.alias("flagged_r4"),
            F.when(flagged_r4 <= _SPAN_DROP_R4, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# Sorted-neighborhood dedup (Hernández–Stolfo 1995): the classic ER
# rung between exact-hash and MinHash — sort the corpus by a
# normalized blocking key, compare only documents within a fixed-size
# sliding window of the sort order, verify candidates with the exact
# 3-gram Jaccard the blocked-join family already uses. Candidate count
# is O(n·w) by construction (vs LSH's collision-dependent count), and
# the pass catches prefix-similar near-dups whose shingles diverge
# (boilerplate headers, versioned titles).
_SNM_W = 8  # window width (positions)
_SNM_KEY_LEN = 32  # normalized-prefix blocking key


def _global_pos(df: DataFrame, sort_cols: list[str], n_parts: int) -> DataFrame:
    """Exact global row_number by ``sort_cols`` with no single-partition
    window: range-repartition on the key (disjoint, ordered ranges),
    local row_number per range, then add broadcast prefix offsets.
    The only driver-sized state is one row per partition."""
    part = df.repartitionByRange(n_parts, *[F.col(c) for c in sort_cols])
    part = part.withColumn("_pid", F.spark_partition_id())
    w = Window.partitionBy("_pid").orderBy(*sort_cols)
    local = part.withColumn("_lpos", F.row_number().over(w))
    cnts = local.groupBy("_pid").agg(F.max("_lpos").alias("_cnt"))
    # n_parts rows only — the unpartitioned window is over tiny data
    wo = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = cnts.withColumn(
        "_off", F.coalesce(F.sum("_cnt").over(wo), F.lit(0))
    ).select("_pid", "_off")
    return (
        local.join(F.broadcast(offs), "_pid")
        .withColumn("pos", F.col("_lpos") + F.col("_off"))
        .drop("_pid", "_lpos", "_off")
    )


_SNM_ORACLE = f"""
    WITH {{shingle_cte}},
    keyed AS (
      SELECT doc_id,
             substr(regexp_replace(lower(trim(coalesce(text, ''))),
                                   '[^a-z0-9]+', '', 'g'),
                    1, {_SNM_KEY_LEN}) AS k
      FROM documents
    ),
    ordered AS (
      SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS pos
      FROM keyed
    ),
    cand AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM ordered a JOIN ordered b
        ON b.pos > a.pos AND b.pos <= a.pos + {_SNM_W}
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.d1, c.d2, count(*) AS c
      FROM cand c
        JOIN shingles s1 ON s1.doc_id = c.d1
        JOIN shingles s2 ON s2.doc_id = c.d2 AND s2.shingle = s1.shingle
      GROUP BY c.d1, c.d2
    )
    SELECT i.d1, i.d2,
           CAST(floor(CAST(i.c AS DOUBLE) / (z1.sz + z2.sz - i.c) * 1000000
                      + 0.5) AS BIGINT) AS jaccard_micro
    FROM inter i
      JOIN sizes z1 ON z1.doc_id = i.d1
      JOIN sizes z2 ON z2.doc_id = i.d2
    WHERE 5 * i.c >= z1.sz + z2.sz - i.c
"""


@register(
    "dedup_sorted_neighborhood",
    oracle=_SNM_ORACLE.format(shingle_cte=_SHINGLE_CTE.strip()),
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup pairs: normalized-prefix sort key →
    exact distributed global rank → sliding window of 8 positions → exact
    3-gram Jaccard >= 0.2 verify (integer cross-multiplied filter,
    micro-rounded score — the dedup_ngram_jaccard conventions).

    Scale shape: one range exchange for the sort, the window pairing is
    two block-keyed equi-joins (block = pos div w; a pair within w
    positions lands in the same or adjacent block — never a cartesian),
    and the verify joins touch only the O(n·w) candidate rows."""
    d = load_tables(spark, sf_dir)["documents"]
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    k = F.substring(
        F.regexp_replace(
            F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))),
            "[^a-z0-9]+",
            "",
        ),
        1,
        _SNM_KEY_LEN,
    )
    keyed = d.select("doc_id", k.alias("k"))
    pos = _global_pos(keyed, ["k", "doc_id"], parts).select("doc_id", "pos")
    blk = pos.withColumn("blk", F.floor((F.col("pos") - 1) / _SNM_W))
    r1 = blk.select(
        F.col("doc_id").alias("d1"), F.col("pos").alias("p1"), "blk"
    )
    r2 = blk.select(
        F.col("doc_id").alias("d2"), F.col("pos").alias("p2"), "blk"
    )
    cand = (
        r1.join(r2, "blk")
        .unionByName(r1.withColumn("blk", F.col("blk") + 1).join(r2, "blk"))
        .filter(
            (F.col("p2") > F.col("p1"))
            & (F.col("p2") <= F.col("p1") + _SNM_W)
        )
        .select("d1", "d2")
    )
    sh = _shingles(d).persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    s1 = sh.select(F.col("doc_id").alias("d1"), "shingle")
    s2 = sh.select(F.col("doc_id").alias("d2"), "shingle")
    inter = (
        cand.join(s1, "d1")
        .join(s2, ["d2", "shingle"])
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    z1 = sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"))
    z2 = sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"))
    union_sz = F.col("sz1") + F.col("sz2") - F.col("c")
    out = (
        inter.join(z1, "d1")
        .join(z2, "d2")
        .filter(F.lit(5) * F.col("c") >= union_sz)
        .select(
            "d1",
            "d2",
            F.floor(F.col("c") / union_sz * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("jaccard_micro"),
        )
        .localCheckpoint(eager=True)
    )
    sh.unpersist()
    return out
