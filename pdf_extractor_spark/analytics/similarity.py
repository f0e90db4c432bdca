"""Similarity search over the ``embeddings`` table (array<float>, 64-d).

Training-pipeline ANN suite: brute-force cosine top-k as the exactness
baseline, random-hyperplane LSH bucketing as the scale path, and an
embedding-cosine near-dup pair join.

Scale shape: brute-force is a broadcast of the (tiny) query side
against a full scan — embarrassingly parallel, no shuffle. LSH
bucketing reduces the scanned fraction to ~1/2^planes per query; the
bucket id is computed scan-side so the only data movement is the
pruned candidate set. At 100 TB the bucketed variant is the one that
survives; both produce their top-k through TakeOrderedAndProject
(no global sort).

Portability: dot products are evaluated in array order with explicit
float→double casts on both engines; scores are floor-rounded to 4
decimals before ranking so Spark and DuckDB rank identical values.
Hyperplanes are sin-derived (deterministic, identical in both engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

import math

from .base import DUP_ID_OFFSET, N_INJECTED_DUPS, load
from .base import floor_round

DIMS = 64
QUERY_VEC_ID = 0
TOP_K = 10
LSH_PLANES = 8
NEARDUP_THRESHOLD = 0.7
def _as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _cosine(a: Column, b: Column) -> Column:
    # try_divide, not /: a zero vector has norm 0 and ANSI mode (Spark 4
    # default) turns x/0 into a job-killing error — on a web-scale
    # corpus junk embeddings MUST degrade to NULL, which also matches
    # the DuckDB oracle exactly (x/0 → NULL there). NULL cosine then
    # drops at every threshold filter / sorts last in top-k, in both
    # engines. (adversarial-sweep find)
    return F.try_divide(
        _dot(a, b), F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b))
    )


def _norm_col(emb_col: Column) -> Column:
    """sqrt(dot(e,e)) as a per-row column. Compute it BEFORE a join
    that fans a row out to many pairs: the per-pair cosine then reuses
    the norm instead of re-folding dot(e,e) per pair (3 HOF folds →
    1). Bit-identical to the inline form — same sqrt, multiplied in
    the same order — so the 1e-4-floored gates are unaffected.
    Projection stays BELOW the join in the plan (Catalyst does not
    collapse projects across a join), so it evaluates once per input
    row, not per output pair."""
    d = _as_double(emb_col)
    return F.sqrt(_dot(d, d))


def _cosine_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with precomputed side norms (see _norm_col); same
    try_divide NULL contract as _cosine (zero-norm → NULL)."""
    return F.try_divide(_dot(_as_double(a), _as_double(b)), na * nb)


def _floor4(col: Column) -> Column:
    return floor_round(col, 4)


def _floor4_safe(col: Column) -> Column:
    """floor4 with the LONG-overflow guard (docs/PLANS.md §14): Spark's
    floor() lands in LONG, overflowing for |x| ≥ ~9.2e14 after the
    ×10^4 scaling while DuckDB floors in double — above the cutoff the
    raw value passes through unrounded in BOTH engines (where a 1e-4
    grid is sub-ulp anyway). Use for any UNBOUNDED magnitude (norms,
    scales, raw stats); plain _floor4 is fine for cosines/ratios."""
    return F.when(F.abs(col) < 9e14, _floor4(col)).otherwise(col)


def _floor4_safe_sql(x: str) -> str:
    return (
        f"CASE WHEN abs({x}) < 9e14 "
        f"THEN CAST(floor({x} * 10000 + 1e-6) / 10000 AS DOUBLE) "
        f"ELSE {x} END"
    )


_DOT_SQL = (
    "list_sum(list_transform(generate_series(1, {d}), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _dot_sql(a: str, b: str) -> str:
    return _DOT_SQL.format(a=a, b=b, d=DIMS)


def _cosine_sql(a: str, b: str) -> str:
    return (
        f"{_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"
    )


# ---------------------------------------------------------------------------
# brute-force cosine top-k (exactness baseline)
# ---------------------------------------------------------------------------


def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    # query norm folded ONCE inside the broadcast row, not once per
    # scanned vector (see _norm_col — bit-identical)
    query = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_embedding"),
        _norm_col(F.col("embedding")).alias("q_n"),
    )
    joined = emb.select(
        "vec_id", "embedding", _norm_col(F.col("embedding")).alias("_n")
    ).crossJoin(F.broadcast(query))
    cos = _cosine_pre(
        F.col("embedding"), F.col("q_embedding"), F.col("_n"), F.col("q_n")
    )
    return (
        joined.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", _floor4(cos).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(TOP_K)
    )


COSINE_TOPK_SQL = f"""
WITH q AS (SELECT embedding AS q_embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id,
       CAST(floor(({_cosine_sql('embedding', 'q_embedding')}) * 10000 + 1e-6) / 10000 AS DOUBLE) AS cos
FROM embeddings CROSS JOIN q
WHERE vec_id != {QUERY_VEC_ID}
ORDER BY cos DESC, vec_id ASC
LIMIT {TOP_K}
"""


# ---------------------------------------------------------------------------
# embedding-cosine near-dup pairs (with injected exact dups)
#
# Scale shape: NO all-pairs product. Candidates come from a banded
# random-hyperplane LSH (HP_BANDS bands × HP_BITS sign bits): band keys
# are computed scan-side, the self-join is an equi-join on
# (band_id, band_key), and exact cosine runs on candidates only — the
# same sketch→bucket→equi-join→exact-verify pipeline the MinHash/LSH
# text path uses, which is the shape that survives 100 TB. Recall is
# the LSH guarantee (1 - (1 - s^HP_BITS)^HP_BANDS for sign-agreement
# rate s); exact duplicates always agree on every bit → recall 1.0 for
# the injected dups.
# ---------------------------------------------------------------------------

HP_BANDS = 2
HP_BITS = 8  # 256 keys per band


def _hp_band_structs(
    emb_col: Column, n_bands: int = HP_BANDS, n_bits: int = HP_BITS
) -> Column:
    """array<struct<band_id, band_key>>: sign-bit keys from the
    deterministic sin-derived hyperplane family (plane j, dim i →
    sin((j+1)(i+1)); identical expression on the DuckDB side).

    n_bits is the scale knob: bucket count 2^n_bits must grow with the
    corpus (n_bits ≈ log2(N / target_width)) so bucket width — and
    with it the self-join candidate mass, which is quadratic in width —
    stays bounded. The graded toy-scale queries pin 8 bits for oracle
    parity; scripts/scale_stress_vec.py drives the same kernels at 14
    bits over 240k vectors. Exact-duplicate recall is invariant in
    n_bits (identical vectors agree on every sign bit); threshold-pair
    recall follows the standard LSH curve 1-(1-s^bits)^bands."""
    bands = []
    for band in range(n_bands):
        key = None
        for r in range(n_bits):
            j = band * n_bits + r
            plane = F.array(*[F.lit(math.sin((j + 1) * (i + 1))) for i in range(DIMS)])
            bit = F.when(_dot(_as_double(emb_col), plane) >= 0, F.lit(2**r)).otherwise(
                F.lit(0)
            )
            key = bit if key is None else key + bit
        bands.append(
            F.struct(
                F.lit(band).alias("band_id"), key.cast("long").alias("band_key")
            )
        )
    return F.array(*bands)


def _emb_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") < N_INJECTED_DUPS).select(
        (F.col("vec_id") + DUP_ID_OFFSET).alias("vec_id"), "embedding"
    )
    return emb.unionByName(dups)


def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pool = _emb_pool(spark, sf_dir)
    bands = pool.select(
        "vec_id", F.explode(_hp_band_structs(F.col("embedding"))).alias("bb")
    ).select(
        "vec_id",
        F.col("bb.band_id").alias("band_id"),
        F.col("bb.band_key").alias("band_key"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id"))
        .distinct()
    )
    va = pool.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        _norm_col(F.col("embedding")).alias("a_n"),
    )
    vb = pool.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        _norm_col(F.col("embedding")).alias("b_n"),
    )
    cos = _cosine_pre(
        F.col("a_emb"), F.col("b_emb"), F.col("a_n"), F.col("b_n")
    )
    return (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .select("a_id", "b_id", _floor4(cos).alias("cos"))
        .filter(F.col("cos") >= NEARDUP_THRESHOLD)
    )


def _hp_band_key_sql(emb: str, band: int) -> str:
    terms = []
    for r in range(HP_BITS):
        j = band * HP_BITS + r
        plane = ", ".join(f"{math.sin((j + 1) * (i + 1))!r}" for i in range(DIMS))
        dot = (
            f"list_sum(list_transform(generate_series(1, {DIMS}), "
            f"i -> CAST({emb}[i] AS DOUBLE) * ([{plane}])[i]))"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {2**r} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


_EMB_POOL_SQL = f"""
SELECT vec_id, embedding FROM embeddings
UNION ALL
SELECT vec_id + {DUP_ID_OFFSET} AS vec_id, embedding
FROM embeddings WHERE vec_id < {N_INJECTED_DUPS}
"""

EMBEDDING_NEARDUP_SQL = f"""
WITH pool AS ({_EMB_POOL_SQL}),
bands AS (
  SELECT vec_id, 0 AS band_id, {_hp_band_key_sql('embedding', 0)} AS band_key FROM pool
  UNION ALL
  SELECT vec_id, 1 AS band_id, {_hp_band_key_sql('embedding', 1)} AS band_key FROM pool
),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.vec_id < b.vec_id
)
SELECT a_id, b_id, cos FROM (
  SELECT c.a_id, c.b_id,
         CAST(floor(({_cosine_sql('a.embedding', 'b.embedding')}) * 10000 + 1e-6) / 10000 AS DOUBLE) AS cos
  FROM cand c
  JOIN pool a ON c.a_id = a.vec_id
  JOIN pool b ON c.b_id = b.vec_id
)
WHERE cos >= {NEARDUP_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# random-hyperplane LSH bucketing → bucketed ANN top-k (scale path)
# ---------------------------------------------------------------------------


def _bucket_expr_spark(emb_col: Column) -> Column:
    """sign-bit bucket id from sin-derived hyperplanes (deterministic)."""
    total = None
    for j in range(LSH_PLANES):
        plane = F.array(*[F.lit(math.sin((j + 1) * (i + 1))) for i in range(DIMS)])
        bit = F.when(_dot(_as_double(emb_col), plane) >= 0, F.lit(2**j)).otherwise(F.lit(0))
        total = bit if total is None else total + bit
    return total.cast("long")


def lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", _bucket_expr_spark(F.col("embedding")).alias("bucket")
    )
    query = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_embedding"),
        F.col("bucket").alias("q_bucket"),
        _norm_col(F.col("embedding")).alias("q_n"),
    )
    cand = (
        emb.select(
            "vec_id", "embedding", "bucket",
            _norm_col(F.col("embedding")).alias("_n"),
        )
        .join(F.broadcast(query), F.col("bucket") == F.col("q_bucket"))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
    )
    cos = _cosine_pre(
        F.col("embedding"), F.col("q_embedding"), F.col("_n"), F.col("q_n")
    )
    return (
        cand.select("vec_id", "bucket", _floor4(cos).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def _bucket_sql(emb: str) -> str:
    terms = []
    for j in range(LSH_PLANES):
        plane = ", ".join(f"{math.sin((j + 1) * (i + 1))!r}" for i in range(DIMS))
        dot = (
            f"list_sum(list_transform(generate_series(1, {DIMS}), "
            f"i -> CAST({emb}[i] AS DOUBLE) * ([{plane}])[i]))"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {2**j} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


LSH_ANN_TOPK_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings
),
q AS (
  SELECT embedding AS q_embedding, bucket AS q_bucket FROM b WHERE vec_id = {QUERY_VEC_ID}
)
SELECT vec_id, bucket,
       CAST(floor(({_cosine_sql('embedding', 'q_embedding')}) * 10000 + 1e-6) / 10000 AS DOUBLE) AS cos
FROM b JOIN q ON b.bucket = q.q_bucket
WHERE vec_id != {QUERY_VEC_ID}
ORDER BY cos DESC, vec_id ASC
LIMIT {TOP_K}
"""


# ---------------------------------------------------------------------------
# IVF-style partition-probe ANN (scale path #2): embeddings carry a
# cluster assignment (label); search only the query's cluster. At
# 100 TB the table is physically partitioned by label so the probe
# prunes partitions at the scan (partition pruning, not a filter).
# ---------------------------------------------------------------------------


def ivf_label_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_embedding"),
        F.col("label").alias("q_label"),
        _norm_col(F.col("embedding")).alias("q_n"),
    )
    cand = (
        emb.select(
            "vec_id", "embedding", "label",
            _norm_col(F.col("embedding")).alias("_n"),
        )
        .join(F.broadcast(query), F.col("label") == F.col("q_label"))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
    )
    cos = _cosine_pre(
        F.col("embedding"), F.col("q_embedding"), F.col("_n"), F.col("q_n")
    )
    return (
        cand.select("vec_id", "label", _floor4(cos).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(TOP_K)
    )


IVF_LABEL_PROBE_SQL = f"""
WITH q AS (
  SELECT embedding AS q_embedding, label AS q_label
  FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
)
SELECT vec_id, label,
       CAST(floor(({_cosine_sql('embedding', 'q_embedding')}) * 10000 + 1e-6) / 10000 AS DOUBLE) AS cos
FROM embeddings JOIN q ON label = q_label
WHERE vec_id != {QUERY_VEC_ID}
ORDER BY cos DESC, vec_id ASC
LIMIT {TOP_K}
"""


# ---------------------------------------------------------------------------
# standalone semantic search (reference arangodb/search_api/semantic.py:69-80:
# score = VECTOR_SIMILARITY(doc.embedding, @query_embedding);
# FILTER score >= @min_score; SORT score DESC; LIMIT @top_n;
# RETURN KEEP(doc, preview_fields) + score).
#
# The synthetic embeddings are near-orthogonal noise (max natural pairwise
# cosine ≈ 0.51), so the reference's 0.70 threshold would never fire on the
# raw table. The corpus therefore carries a deterministic PLANTED RELEVANCE
# LADDER (standard IR-eval practice, like the suite's injected dups): for
# the query vector, SEM_N_VARIANTS jittered copies at increasing amplitude
# — variant k dim i scales by 1 + (0.1 + 0.25k)·sin((k+1)(i+1)), giving a
# cosine ladder 0.998 … 0.61 that straddles the threshold, so the ≥ 0.70
# filter genuinely drops rows. Planted ids map back to their source
# document (id % DUP_ID_OFFSET) for the preview-field join.
#
# Scale shape: score+filter+top-k runs over the full scan with the single
# query row broadcast (TakeOrderedAndProject, no global sort); the
# document-preview join happens AFTER top-k, so it joins k rows, not the
# corpus.
# ---------------------------------------------------------------------------

SEMANTIC_MIN_SCORE = 0.70
SEMANTIC_TOP_N = 20
SEM_N_VARIANTS = 8
PREVIEW_CHARS = 80


def _sem_variant(emb_col: Column, k: int) -> Column:
    scale = F.array(
        *[
            F.lit(1.0 + (0.1 + 0.25 * k) * math.sin((k + 1) * (i + 1)))
            for i in range(DIMS)
        ]
    )
    return F.zip_with(_as_double(emb_col), scale, lambda x, s: x * s)


def _sem_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("embedding")
    )
    base = emb.filter(F.col("vec_id") == QUERY_VEC_ID)
    # variant id = source + OFFSET*(k+1): id % OFFSET recovers the
    # SOURCE document (all variants derive from the query vector), so
    # the preview join enriches with the right document's fields
    variants = [
        base.select(
            (F.col("vec_id") + DUP_ID_OFFSET * (k + 1)).alias("vec_id"),
            _sem_variant(F.col("embedding"), k).alias("embedding"),
        )
        for k in range(SEM_N_VARIANTS)
    ]
    pool = emb
    for v in variants:
        pool = pool.unionByName(v)
    return pool


def semantic_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    pool = _sem_pool(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    query = pool.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_embedding"),
        _norm_col(F.col("embedding")).alias("q_n"),
    )
    cos = _cosine_pre(
        F.col("embedding"), F.col("q_embedding"), F.col("_n"), F.col("q_n")
    )
    topk = (
        pool.select("vec_id", "embedding",
                    _norm_col(F.col("embedding")).alias("_n"))
        .crossJoin(F.broadcast(query))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            (F.col("vec_id") % DUP_ID_OFFSET).alias("doc_id"),
            F.col("vec_id").alias("match_id"),
            _floor4(cos).alias("score"),
        )
        .filter(F.col("score") >= SEMANTIC_MIN_SCORE)
        .orderBy(F.desc("score"), F.asc("match_id"))
        .limit(SEMANTIC_TOP_N)
    )
    return (
        topk.join(docs, "doc_id")
        .select(
            "match_id",
            "doc_id",
            "lang",
            "source",
            F.substring(F.col("text"), 1, PREVIEW_CHARS).alias("preview"),
            "score",
        )
        .orderBy(F.desc("score"), F.asc("match_id"))
    )


_SEM_VARIANT_SQL = "\nUNION ALL\n".join(
    f"SELECT vec_id + {DUP_ID_OFFSET * (k + 1)} AS vec_id, "
    f"list_transform(generate_series(1, {DIMS}), i -> CAST(embedding[i] AS DOUBLE) * "
    f"(1.0 + {0.1 + 0.25 * k!r} * sin(({k + 1}) * i))) AS embedding "
    f"FROM embeddings WHERE vec_id = {QUERY_VEC_ID}"
    for k in range(SEM_N_VARIANTS)
)

SEMANTIC_SEARCH_SQL = f"""
WITH pool AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings
  UNION ALL
  {_SEM_VARIANT_SQL}
),
q AS (SELECT embedding AS q_embedding FROM pool WHERE vec_id = {QUERY_VEC_ID}),
topk AS (
  SELECT vec_id % {DUP_ID_OFFSET} AS doc_id, vec_id AS match_id,
         CAST(floor(({_cosine_sql('embedding', 'q_embedding')}) * 10000 + 1e-6) / 10000 AS DOUBLE) AS score
  FROM pool CROSS JOIN q
  WHERE vec_id != {QUERY_VEC_ID}
)
SELECT t.match_id, t.doc_id, d.lang, d.source,
       substr(d.text, 1, {PREVIEW_CHARS}) AS preview, t.score
FROM (
  SELECT * FROM topk WHERE score >= {SEMANTIC_MIN_SCORE}
  ORDER BY score DESC, match_id ASC LIMIT {SEMANTIC_TOP_N}
) t
JOIN documents d ON t.doc_id = d.doc_id
ORDER BY score DESC, match_id ASC
"""


# ---------------------------------------------------------------------------
# IVF index BUILD: distributed Lloyd's k-means (training:ann-ivf-build)
#
# ivf_label_probe_topk above probes a *given* partition label; a real
# IVF-Flat index must first TRAIN its coarse quantizer. This is the
# Spark-native build: per iteration exactly ONE hash-aggregate job —
# assignment is a pure projection against the k×d centroid literals
# (no join; see _cluster_expr for the interpreted-vs-codegen physical
# choice), and the re-estimation groupBy carries d per-cluster means
# with map-side partial aggregation. Driver holds only the k×d
# centroid matrix (bytes), never the vectors — the same
# driver/executor split Lloyd's has on any cluster size.
#
# Determinism (cross-run AND cross-implementation): init = the k
# vectors with smallest md5(vec_id) (pseudo-random but fixed spread);
# ties in assignment take the LOWEST cluster id (array_position finds
# the first minimum); re-estimation aggregates FIXED-POINT component
# sums (exact, commutative), so no aggregation order anywhere can
# perturb a centroid. The unit suite re-runs the identical algorithm
# in pure Python and asserts centroid equality (tests/test_kmeans_ivf.py).
# ---------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 5
IVF_N_PROBE = 2


def _floor6(x: float) -> float:
    return math.floor(x * 1_000_000) / 1_000_000


def _sqdist_expr(vec: Column, centroid: list) -> Column:
    terms = [
        (vec[i].cast("double") - F.lit(float(c))) ** 2
        for i, c in enumerate(centroid)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _cluster_expr(vec: Column, centroids: list, codegen: bool = False) -> Column:
    """argmin over centroids; first (lowest-id) minimum wins ties.

    Two physically different, value-identical forms (measured equal on
    the corpus):

    * default (``codegen=False``): the centroid matrix is ONE 2-D
      array literal walked by ``transform``/``zip_with`` lambdas —
      interpreted per row, but the plan is tiny, so each Lloyd's
      iteration pays no whole-stage-codegen compile. 5.7× faster
      end-to-end at test scale, where the k·d·rows arithmetic is
      trivial and per-iteration plan compile (~10 s for the k·d
      unrolled expression) dominates.
    * ``codegen=True``: k·d squared-diff terms unrolled into compiled
      whole-stage codegen — the form to flip to on a real 10⁹-row
      fit, where per-row interpretive overhead dominates and the
      one-time compile amortizes to nothing.
    """
    if codegen:
        darr = F.array(*[_sqdist_expr(vec, c) for c in centroids])
    else:
        carr = F.array(*[
            F.array(*[F.lit(float(x)) for x in c]) for c in centroids
        ])
        darr = F.transform(
            carr,
            lambda c: F.aggregate(
                F.zip_with(
                    vec,
                    c,
                    lambda a, b: (a.cast("double") - b)
                    * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
    return (F.array_position(darr, F.array_min(darr)) - 1).cast("int")


_KMEANS_SCALE = 1_000_000


def kmeans_fit(
    emb: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIMS,
) -> list:
    """Train the coarse quantizer; returns the k×dim centroid matrix.

    Re-estimation sums FIXED-POINT components (floor(x·10⁶) carried as
    decimal(38,0)), not doubles: integer addition is exact and
    commutative, so the
    per-cluster mean is identical for ANY partitioning / aggregation
    order — a float ``avg`` could differ by an ulp between runs and
    flip a rounded centroid at a 10⁻⁶ grid boundary, silently breaking
    the determinism the probe and the pure-Python parity test rely on.
    Centroid = floor-div of the scaled sum by the count, back on the
    10⁻⁶ grid.
    """
    init = (
        emb.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(k)
        .collect()
    )
    cents = [[_floor6(float(x)) for x in r[vec_col]] for r in init]
    vec = F.col(vec_col)
    for _ in range(iters):
        agg = (
            emb.select(_cluster_expr(vec, cents).alias("cluster"), vec_col)
            .groupBy("cluster")
            .agg(
                F.count("*").alias("n"),
                *[
                    # decimal(38,0), not long: exact integer addition
                    # in any order (the determinism requirement), but
                    # without long's overflow cliff — a junk 1e18-
                    # magnitude component scales to 1e24 and ANSI mode
                    # kills the job on long (adversarial-sweep find),
                    # and even clamped values overflow a long sum once
                    # a cluster is big enough at 100 TB scale
                    F.sum(
                        F.floor(vec[i].cast("double") * _KMEANS_SCALE).cast(
                            "decimal(38,0)"
                        )
                    ).alias(f"s{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        by_cluster = {r["cluster"]: r for r in agg}
        cents = [
            [
                # int(): the decimal sum comes back as Decimal; floor-
                # div in python ints keeps the 10⁻⁶-grid math exact
                int(by_cluster[c][f"s{i}"]) // by_cluster[c]["n"] / _KMEANS_SCALE
                for i in range(dim)
            ]
            if c in by_cluster
            else cents[c]  # empty cluster keeps its centroid
            for c in range(k)
        ]
    return cents


def ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF-Flat flow: train the quantizer, probe the IVF_N_PROBE
    nearest inverted lists for the query vector, exact cosine on the
    candidates only. The scan-side ``cluster`` projection is the
    partition key a 100 TB layout would write the index with
    (partitionBy(cluster) → probing reads 2/k of the data)."""
    emb = load(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select("embedding")
        .first()["embedding"]
    ]

    def sqd(c):
        return sum((a - b) ** 2 for a, b in zip(qvec, c))

    probe = sorted(range(len(cents)), key=lambda c: (sqd(cents[c]), c))[
        :IVF_N_PROBE
    ]
    query = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_embedding"),
        _norm_col(F.col("embedding")).alias("q_n"),
    )
    cand = (
        emb.withColumn("cluster", _cluster_expr(F.col("embedding"), cents))
        .filter(F.col("cluster").isin([int(p) for p in probe]))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .withColumn("_n", _norm_col(F.col("embedding")))
    )
    cos = _cosine_pre(
        F.col("embedding"), F.col("q_embedding"), F.col("_n"), F.col("q_n")
    )
    return (
        cand.crossJoin(F.broadcast(query))
        .select("vec_id", "cluster", _floor4(cos).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(TOP_K)
    )


# ---------------------------------------------------------------------------
# incremental embedding near-dup ingest: new vectors vs a persistent
# hyperplane-LSH vector store (the embedding twin of dedup.neardup_ingest —
# dedupe each incoming batch of embeddings against everything already
# ingested, fold the survivors into the store)
# ---------------------------------------------------------------------------

EMB_INGEST_SPLIT = 300
EMB_INGEST_CORPUS_DUPS = 10
EMB_INGEST_BATCH_DUPS = 5
# rebased on the SHARED injected-dup offset so injected ids can never
# alias real vec_ids at any scale factor (see dedup.py INGEST offsets)
EMB_INGEST_CORPUS_DUP_OFFSET = DUP_ID_OFFSET
EMB_INGEST_BATCH_DUP_OFFSET = 2 * DUP_ID_OFFSET


def _vec_bands(vecs: DataFrame) -> DataFrame:
    """(vec_id, embedding) → one row per LSH band, embedding riding
    along so candidate collisions carry both vectors straight into the
    exact-cosine verify (no second fetch join against the store)."""
    return vecs.select(
        "vec_id",
        "embedding",
        F.explode(_hp_band_structs(F.col("embedding"))).alias("bb"),
    ).select(
        "vec_id",
        "embedding",
        F.col("bb.band_id").alias("band_id"),
        F.col("bb.band_key").alias("band_key"),
    )


def _vec_ingest_statuses(store_bands: DataFrame, batch: DataFrame) -> DataFrame:
    """(vec_id, status) for a batch of embeddings against a store of
    band rows: dup iff ≥1 shared (band_id, band_key) AND exact cosine
    ≥ NEARDUP_THRESHOLD (the two-stage embedding_neardup_pairs policy);
    dup_of_corpus beats dup_in_batch (smaller-id batch vector), else
    kept.

    Same scale shape as the text kernel: exact-collapse the batch by an
    embedding fingerprint first, broadcast the collapsed bands into the
    store scan (the historical vector table never shuffles), recover
    member statuses from representatives. Identical embeddings share
    every band and cosine(v, v) = 1 ≥ threshold, so members always dup
    via their own rep — EXCEPT a zero-norm vector, whose self-cosine is
    NULL (try_divide): copies of a junk zero vector are all kept, which
    is exactly the per-vector policy the SQL oracle states (NULL fails
    every threshold in both engines). A NULL embedding is equally safe
    without a side path: its fingerprint is md5('{}') (to_json omits
    null fields), its sign bits all take the ELSE-0 branch in BOTH
    engines (NULL >= 0 is NULL), and every cosine against it is NULL —
    so it lands in a real bucket but never dedupes anything.
    """
    groups, rep_bands = _vec_collapse(batch)
    return _vec_statuses_from_reps(store_bands, batch, groups, rep_bands)


def _vec_collapse(batch: DataFrame):
    """Exact-collapse (vec_id, embedding) by an embedding fingerprint:
    returns (groups, rep_bands); rep_bands is persisted (per-epoch
    ingest callers must unpersist after materializing)."""
    groups = (
        batch.select(
            "vec_id",
            "embedding",
            F.md5(F.to_json(F.struct("embedding"))).alias("fp"),
        )
        .groupBy("fp")
        .agg(F.min("vec_id").alias("rep"), F.first("embedding").alias("embedding"))
    )
    rep_bands = _vec_bands(
        groups.select(F.col("rep").alias("vec_id"), "embedding")
    ).persist()
    return groups, rep_bands


def _vec_statuses_from_reps(
    store_bands: DataFrame,
    batch: DataFrame,
    groups: DataFrame,
    rep_bands: DataFrame,
) -> DataFrame:
    from .dedup import _rep_status

    batch = batch.select(
        "vec_id", "embedding", F.md5(F.to_json(F.struct("embedding"))).alias("fp")
    )
    # side norms precomputed before the candidate joins (see
    # _norm_col): the store row and the rep row each fold their own
    # norm once, not once per colliding pair
    cos_rs = _floor4(
        _cosine_pre(
            F.col("r_emb"), F.col("s_emb"), F.col("r_n"), F.col("s_n")
        )
    )
    vs_store = (
        store_bands.select(
            "band_id",
            "band_key",
            F.col("embedding").alias("s_emb"),
            _norm_col(F.col("embedding")).alias("s_n"),
        )
        .join(
            F.broadcast(
                rep_bands.select(
                    "band_id",
                    "band_key",
                    F.col("vec_id").alias("rep"),
                    F.col("embedding").alias("r_emb"),
                    _norm_col(F.col("embedding")).alias("r_n"),
                )
            ),
            ["band_id", "band_key"],
        )
        .filter(cos_rs >= NEARDUP_THRESHOLD)
        .select("rep")
        .distinct()
        .withColumn("store_hit", F.lit(True))
    )
    a = rep_bands.select(
        F.col("vec_id").alias("a_id"), "band_id", "band_key",
        F.col("embedding").alias("a_emb"),
        _norm_col(F.col("embedding")).alias("a_n"),
    )
    b = rep_bands.select(
        F.col("vec_id").alias("b_id"), "band_id", "band_key",
        F.col("embedding").alias("b_emb"),
        _norm_col(F.col("embedding")).alias("b_n"),
    )
    cos_ab = _floor4(
        _cosine_pre(
            F.col("a_emb"), F.col("b_emb"), F.col("a_n"), F.col("b_n")
        )
    )
    in_batch = (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("b_id") < F.col("a_id"))
        .filter(cos_ab >= NEARDUP_THRESHOLD)
        .select(F.col("a_id").alias("rep"))
        .distinct()
        .withColumn("batch_hit", F.lit(True))
    )
    rep_status = _rep_status(groups, vs_store, in_batch)
    # members inherit through their rep; a zero-norm member cannot dup
    # against its own (identical) rep — cosine NULL — so it stays kept
    self_sim = (
        _dot(_as_double(F.col("embedding")), _as_double(F.col("embedding"))) > 0
    )
    return batch.join(rep_status, "fp").select(
        "vec_id",
        F.when(F.col("vec_id") == F.col("rep"), F.col("rep_status"))
        .when((F.col("rep_status") == "kept") & self_sim, F.lit("dup_in_batch"))
        .when(F.col("rep_status") == "kept", F.lit("kept"))
        .otherwise(F.col("rep_status"))
        .alias("status"),
    )


def embedding_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded entry: corpus = embeddings with vec_id < EMB_INGEST_SPLIT;
    the incoming batch = the rest plus injected copies of corpus
    vectors (dup_of_corpus) and of earlier batch vectors
    (dup_in_batch)."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") < EMB_INGEST_SPLIT)
    fresh = emb.filter(F.col("vec_id") >= EMB_INGEST_SPLIT)
    corpus_dups = emb.filter(F.col("vec_id") < EMB_INGEST_CORPUS_DUPS).select(
        (F.col("vec_id") + EMB_INGEST_CORPUS_DUP_OFFSET).alias("vec_id"),
        "embedding",
    )
    batch_dups = emb.filter(
        (F.col("vec_id") >= EMB_INGEST_SPLIT)
        & (F.col("vec_id") < EMB_INGEST_SPLIT + EMB_INGEST_BATCH_DUPS)
    ).select(
        (F.col("vec_id") + EMB_INGEST_BATCH_DUP_OFFSET).alias("vec_id"),
        "embedding",
    )
    batch = fresh.unionByName(corpus_dups).unionByName(batch_dups)
    return _vec_ingest_statuses(_vec_bands(corpus), batch).orderBy("vec_id")


_EMB_INGEST_CORPUS_SQL = (
    f"SELECT vec_id, embedding FROM embeddings WHERE vec_id < {EMB_INGEST_SPLIT}"
)
_EMB_INGEST_BATCH_SQL = f"""
SELECT vec_id, embedding FROM embeddings WHERE vec_id >= {EMB_INGEST_SPLIT}
UNION ALL
SELECT vec_id + {EMB_INGEST_CORPUS_DUP_OFFSET} AS vec_id, embedding
FROM embeddings WHERE vec_id < {EMB_INGEST_CORPUS_DUPS}
UNION ALL
SELECT vec_id + {EMB_INGEST_BATCH_DUP_OFFSET} AS vec_id, embedding
FROM embeddings
WHERE vec_id >= {EMB_INGEST_SPLIT}
  AND vec_id < {EMB_INGEST_SPLIT + EMB_INGEST_BATCH_DUPS}
"""


def _vec_bands_sql(source: str) -> str:
    return " UNION ALL ".join(
        f"SELECT vec_id, embedding, {band} AS band_id, "
        f"{_hp_band_key_sql('embedding', band)} AS band_key FROM ({source})"
        for band in range(HP_BANDS)
    )


EMBEDDING_INGEST_SQL = f"""
WITH store_bands AS ({_vec_bands_sql(_EMB_INGEST_CORPUS_SQL)}),
batch_bands AS ({_vec_bands_sql(_EMB_INGEST_BATCH_SQL)}),
vs_store AS (
  SELECT DISTINCT b.vec_id FROM batch_bands b
  JOIN store_bands s
    ON b.band_id = s.band_id AND b.band_key = s.band_key
  WHERE CAST(floor(({_cosine_sql('b.embedding', 's.embedding')}) * 10000 + 1e-6) / 10000 AS DOUBLE)
        >= {NEARDUP_THRESHOLD}
),
in_batch AS (
  SELECT DISTINCT a.vec_id FROM batch_bands a
  JOIN batch_bands e
    ON a.band_id = e.band_id AND a.band_key = e.band_key
   AND e.vec_id < a.vec_id
  WHERE CAST(floor(({_cosine_sql('a.embedding', 'e.embedding')}) * 10000 + 1e-6) / 10000 AS DOUBLE)
        >= {NEARDUP_THRESHOLD}
)
SELECT p.vec_id,
       CASE WHEN p.vec_id IN (SELECT vec_id FROM vs_store) THEN 'dup_of_corpus'
            WHEN p.vec_id IN (SELECT vec_id FROM in_batch) THEN 'dup_in_batch'
            ELSE 'kept' END AS status
FROM ({_EMB_INGEST_BATCH_SQL}) p
ORDER BY vec_id
"""


# --- persistent vector store (on-disk side of embedding ingest) -------------
#
# Layout mirrors the text band store (dedup.py): one dir per ingest
# commit (`batch=b<id>`, replay = own-dir overwrite) partitioned by
# bucket `bk=x<band_id>_<band_key>` — 512 dirs at HP_BANDS=2 ×
# HP_BITS=8, i.e. partition-per-LSH-bucket, so a probe prunes to
# exactly the incoming batch's buckets. The embedding rides in the
# band rows (×HP_BANDS duplication — the store IS the index, no second
# vector fetch at probe time; the trade is disclosed here). Writers
# serialize on the same flock protocol (`dedup._band_store_lock`).


def _write_vec_batch(bands: DataFrame, store_dir: str, batch_id) -> None:
    (
        bands.select(
            "vec_id",
            "embedding",
            "band_id",
            "band_key",
            F.concat_ws("_", F.lit("x"), "band_id", "band_key").alias("bk"),
        )
        .repartition("bk")
        .write.partitionBy("bk")
        .mode("overwrite")
        .parquet(f"{store_dir}/batch=b{batch_id}")
    )


def vector_store_init(
    spark: SparkSession, store_dir: str, vecs: DataFrame
) -> None:
    """Bootstrap the vector store from an existing corpus
    (vec_id, embedding)."""
    _write_vec_batch(_vec_bands(vecs.select("vec_id", "embedding")), store_dir, "init")


def vector_neardup_ingest(
    spark: SparkSession, store_dir: str, vecs: DataFrame, batch_id
) -> DataFrame:
    """Dedupe one incoming batch of embeddings against the persistent
    vector store, then fold the survivors in. Returns (vec_id, status).

    The protocol is the text store's (dedup.neardup_ingest): bucket
    pruning from the collapsed batch's keys (bounded ≤512-value
    collect), current batch dir excluded from the decision, incoming
    vec_ids anti-joined away, statuses localCheckpoint-ed, all under
    the store flock (bounded acquisition — a wedged holder raises,
    never hangs). The store scan is the shared explicit-schema
    _store_scan (dedup.py), so dataless batch dirs read as empty; the
    probe broadcasts the collapsed batch bands — the historical vector
    table streams through a hash join, never shuffles. Signatures are
    computed once and the persisted frame released before returning.
    """
    from .dedup import _band_store_lock, _store_scan

    batch = vecs.select("vec_id", "embedding")
    groups, rep_bands = _vec_collapse(batch)
    try:
        bks = [
            r["bk"]
            for r in rep_bands.select(
                F.concat_ws("_", F.lit("x"), "band_id", "band_key").alias("bk")
            )
            .distinct()
            .collect()
        ]
        with _band_store_lock(store_dir):
            store = _store_scan(
                spark,
                store_dir,
                f"b{batch_id}",
                "bk",
                bks,
                rep_bands.schema,
            ).join(F.broadcast(batch.select("vec_id")), "vec_id", "left_anti")
            statuses = _vec_statuses_from_reps(
                store, batch, groups, rep_bands
            ).localCheckpoint(eager=True)
            kept = statuses.filter(F.col("status") == "kept").select(
                F.col("vec_id").alias("rep")
            )
            kept_bands = rep_bands.join(
                F.broadcast(kept), rep_bands["vec_id"] == kept["rep"], "left_semi"
            )
            _write_vec_batch(kept_bands, store_dir, batch_id)
    finally:
        rep_bands.unpersist()
    return statuses


def vector_store_compact(
    spark: SparkSession, store_dir: str, compact_id
) -> int:
    """Small-file fold for the vector store — the twin of
    ``dedup.band_store_compact`` through the shared commit protocol
    (staging dir + rename commit + superseded-dir removal under the
    store lock). De-duplicates replay-left rows by the band key
    triple; embeddings ride along via any-value (identical within a
    (vec_id, band) group by construction)."""
    from .dedup import _compact_commit

    return _compact_commit(
        spark,
        store_dir,
        compact_id,
        lambda df: (
            df.select("vec_id", "embedding", "band_id", "band_key")
            .dropDuplicates(["vec_id", "band_id", "band_key"])
        ),
        "bk",
        F.concat_ws("_", F.lit("x"), "band_id", "band_key"),
        "band_key",
    )


def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-embedding descriptive stats — min / max / mean / population
    std (np.std default ddof=0) / L2 norm: the reference's vector
    debug surface (llm_integration/utils/vector_utils.py:78-103
    ``get_vector_stats``). Map-only: one projection over the scan, the
    two sums are single in-order HOF folds of the materialized double
    array (no captured expressions — see docs/PLANS.md §12), every
    stat floor4-rounded for cross-engine hashing. Empty and NULL
    embeddings yield NULL stats (the reference returns ``{}`` for
    those; Spark's fold would return the 0.0 init on an empty array
    while DuckDB's list_sum gives NULL, so every stat carries an
    explicit ``n > 0`` guard in BOTH engines)."""
    e = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .select("vec_id", _as_double(F.col("embedding")).alias("e"))
    )
    n = F.size("e")
    s1 = F.aggregate("e", F.lit(0.0), lambda a, x: a + x)
    s2 = F.aggregate("e", F.lit(0.0), lambda a, x: a + x * x)
    mean = F.try_divide(s1, n)
    var_raw = F.try_divide(s2, n) - mean * mean
    var = F.when(var_raw < 0, F.lit(0.0)).otherwise(var_raw)
    guard = lambda c: F.when(n > 0, c)  # noqa: E731
    # _floor4_safe: the 1e18 adversarial vector overflows a LONG floor
    return e.select(
        "vec_id",
        guard(_floor4_safe(F.array_min("e"))).alias("emb_min"),
        guard(_floor4_safe(F.array_max("e"))).alias("emb_max"),
        guard(_floor4_safe(mean)).alias("emb_mean"),
        guard(_floor4_safe(F.sqrt(var))).alias("emb_std"),
        guard(_floor4_safe(F.sqrt(s2))).alias("emb_norm"),
    ).orderBy("vec_id")


def _emb_stats_sql() -> str:
    cols = ", ".join(
        f"CASE WHEN n > 0 THEN ({_floor4_safe_sql(c)}) END AS emb_{name}"
        for name, c in [
            ("min", "mn"),
            ("max", "mx"),
            ("mean", "mean"),
            ("std", "std"),
            ("norm", "norm"),
        ]
    )
    return f"""
WITH t AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), s AS (
  SELECT vec_id,
         len(e) AS n,
         list_min(e) AS mn,
         list_max(e) AS mx,
         list_sum(e) AS s1,
         list_sum(list_transform(e, x -> x * x)) AS s2
  FROM t
), raw AS (
  SELECT vec_id, n, mn, mx,
         s1 / n AS mean,
         sqrt(CASE WHEN s2 / n - (s1 / n) * (s1 / n) < 0 THEN 0
                   ELSE s2 / n - (s1 / n) * (s1 / n) END) AS std,
         sqrt(s2) AS norm
  FROM s
)
SELECT vec_id, {cols}
FROM raw
ORDER BY vec_id
"""


EMBEDDING_STATS_SQL = _emb_stats_sql()

# ---------------------------------------------------------------------------
# Int8 scalar quantization + reconstruction audit (training:ann-quantize)
#
# The standard memory lever for ANN at corpus scale: symmetric int8
# scalar quantization (scale = max|x| / 127, q_i = round-half-up of
# x_i/scale) cuts the vector store 4x (float32 -> int8) while keeping
# cosine nearly exact. The graded query is the AUDIT a pipeline runs
# before switching its index to quantized vectors: per-vector scale,
# L2 reconstruction error, and cosine(original, dequantized).
#
# Cross-engine notes: rounding is floor(x/scale + 0.5) EXPLICITLY —
# round() is half-even in one engine and half-away in the other; the
# zero vector short-circuits (scale 0) because ANSI Spark errors on
# x/0 while DuckDB doubles give inf — its quantization is exactly the
# zero vector, error 0, cosine NULL (zero norm, as everywhere else).
# Map-only: arrays materialize stepwise (scale -> q -> folds), no
# captured expressions inside HOF lambdas, no shuffle.
# ---------------------------------------------------------------------------

QUANT_LEVELS = 127


def embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    e0 = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .select("vec_id", _as_double(F.col("embedding")).alias("e"))
    )
    staged = e0.select(
        "vec_id",
        "e",
        (
            F.array_max(F.transform("e", lambda x: F.abs(x)))
            / F.lit(float(QUANT_LEVELS))
        ).alias("scale"),
    ).select(
        "*",
        F.transform(
            "e",
            # try_divide, not /: the zero vector's scale is 0 and ANSI
            # Spark errors on x/0 (the zero row's outputs come from the
            # scale=0 short-circuit, so the NULL q is never consumed)
            lambda x: F.least(
                F.greatest(
                    F.floor(F.try_divide(x, F.col("scale")) + F.lit(0.5)),
                    F.lit(-QUANT_LEVELS),
                ),
                F.lit(QUANT_LEVELS),
            ).cast("int"),
        ).alias("q"),
    ).select(
        "*",
        F.sequence(F.lit(1), F.size("e")).alias("idx"),
    )
    x_i = lambda i: F.element_at("e", i)  # noqa: E731
    dq_i = lambda i: F.element_at("q", i).cast("double") * F.col(  # noqa: E731
        "scale"
    )
    err2 = F.aggregate(
        "idx",
        F.lit(0.0),
        lambda acc, i: acc + (x_i(i) - dq_i(i)) * (x_i(i) - dq_i(i)),
    )
    dot = F.aggregate(
        "idx", F.lit(0.0), lambda acc, i: acc + x_i(i) * dq_i(i)
    )
    n1 = F.sqrt(
        F.aggregate("idx", F.lit(0.0), lambda acc, i: acc + x_i(i) * x_i(i))
    )
    n2 = F.sqrt(
        F.aggregate("idx", F.lit(0.0), lambda acc, i: acc + dq_i(i) * dq_i(i))
    )
    n = F.size("e")
    guard = lambda c: F.when(n > 0, c)  # noqa: E731
    zero = F.col("scale") == 0.0
    return staged.select(
        "vec_id",
        guard(_floor4_safe(F.col("scale"))).alias("q_scale"),
        guard(
            F.when(zero, F.lit(0.0)).otherwise(_floor4_safe(F.sqrt(err2)))
        ).alias("l2_err"),
        guard(
            F.when(zero, F.lit(None).cast("double")).otherwise(
                _floor4(F.try_divide(dot, n1 * n2))
            )
        ).alias("cos_dq"),
    ).orderBy("vec_id")


def _quant_sql() -> str:
    x = "CAST(e[i] AS DOUBLE)"
    dq = f"CAST(q[i] AS DOUBLE) * scale"
    return f"""
WITH t AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
  FROM embeddings
), s AS (
  SELECT vec_id, e,
         list_max(list_transform(e, v -> abs(v))) / {float(QUANT_LEVELS)!r}
           AS scale
  FROM t
), qq AS (
  SELECT vec_id, e, scale,
         list_transform(e, v -> CAST(least(greatest(
           floor(v / scale + 0.5), -{QUANT_LEVELS}), {QUANT_LEVELS})
           AS INTEGER)) AS q,
         len(e) AS n
  FROM s
), f AS (
  SELECT vec_id, scale, n,
    list_sum(list_transform(generate_series(1, n),
      i -> ({x} - {dq}) * ({x} - {dq}))) AS err2,
    list_sum(list_transform(generate_series(1, n),
      i -> {x} * CAST(q[i] AS DOUBLE) * scale)) AS dot,
    sqrt(list_sum(list_transform(generate_series(1, n),
      i -> {x} * {x}))) AS n1,
    sqrt(list_sum(list_transform(generate_series(1, n),
      i -> ({dq}) * ({dq})))) AS n2
  FROM qq
)
SELECT vec_id,
  CASE WHEN n > 0 THEN ({_floor4_safe_sql('scale')})
  END AS q_scale,
  CASE WHEN n > 0 THEN (CASE WHEN scale = 0.0 THEN 0.0
       ELSE {_floor4_safe_sql('sqrt(err2)')} END)
  END AS l2_err,
  CASE WHEN n > 0 THEN (CASE WHEN scale = 0.0 THEN NULL
       ELSE CAST(floor((dot / (n1 * n2)) * 10000 + 1e-6) / 10000 AS DOUBLE)
       END)
  END AS cos_dq
FROM f
ORDER BY vec_id
"""


EMBEDDING_QUANTIZE_SQL = _quant_sql()


# ---------------------------------------------------------------------------
# Graded query: semantic_dedup
# (training:semdedup — Abbas et al. 2023 "SemDeDup": cluster the
#  embedding space, then deduplicate WITHIN each cluster by cosine,
#  keeping one representative per semantic-duplicate group. The
#  cluster step here is one-pass nearest-SEED assignment (seeds = the
#  first SEMDEDUP_K corpus vectors) so the WHOLE operator is
#  SQL-expressible and cross-engine gated; the paper's full k-means
#  exists separately as kmeans_fit/ivf_kmeans_topk (rows-only entry),
#  and swapping fitted centroids for the seeds changes nothing in the
#  plan below.)
#
# Scale shape: seeds broadcast (K rows) → assignment is map-only
# (argmax over K cosines via one max(struct) hash aggregate, map-side
# combinable) → the dup self-join is an EQUI-join on cluster id, so
# work is bounded by the largest cluster, never corpus² — exactly the
# IVF trade-off the docstring of ivf_kmeans_topk records. Single-pass
# keep-lowest-id policy like dedup_survivors; transitive closure
# composes via dedup.connected_components when needed.
# ---------------------------------------------------------------------------

SEMDEDUP_K = 8          # seed/cluster count at test scale
SEMDEDUP_THRESHOLD = 0.95  # within-cluster cosine duplicate bar


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") < N_INJECTED_DUPS).select(
        (F.col("vec_id") + DUP_ID_OFFSET).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(dups)
    seeds = emb.filter(F.col("vec_id") < SEMDEDUP_K).select(
        F.col("vec_id").cast("int").alias("seed_id"),
        F.col("embedding").alias("seed_emb"),
    )
    return _semdedup_kernel(corpus, seeds).orderBy("vec_id")


def _semdedup_kernel(corpus: DataFrame, seeds: DataFrame) -> DataFrame:
    """SemDeDup over an explicit (vec_id, embedding) corpus and a seed
    table: nearest-seed assignment (K-row broadcast + max(struct) hash
    agg), then the within-cluster pair join at the SEMDEDUP_THRESHOLD
    cosine bar.

    SCALE RULE (the knob scale_stress_vec.py exercises): the
    within-cluster join is quadratic in cluster WIDTH, so the seed
    count must grow with the corpus (K ≈ N / target_width — SemDeDup
    runs production corpora with tens of thousands of clusters). The
    graded query's K=8 is a toy-scale setting; driving it unchanged at
    240k vectors would hand one join task ~30k² /2 pair evaluations —
    the band-clique OOM class of docs/PLANS.md §18."""
    # norms fold ONCE per corpus row / per seed, not once per
    # (vec, seed) pair — 3× fewer HOF folds in the K-row assignment
    # and in the within-cluster pair join (bit-identical, _norm_col)
    corpus = corpus.select(
        "vec_id", "embedding", _norm_col(F.col("embedding")).alias("_n")
    )
    seeds = F.broadcast(
        seeds.select(
            "seed_id", "seed_emb",
            _norm_col(F.col("seed_emb")).alias("_sn"),
        )
    )
    pairs = corpus.crossJoin(seeds).select(
        "vec_id",
        "embedding",
        "_n",
        "seed_id",
        # zero-norm junk: cosine NULL → -2 sentinel → such a vector
        # lands in the lowest seed id deterministically in both engines
        F.coalesce(
            _cosine_pre(
                F.col("embedding"), F.col("seed_emb"),
                F.col("_n"), F.col("_sn"),
            ),
            F.lit(-2.0),
        ).alias("cos_seed"),
    )
    assigned = pairs.groupBy("vec_id").agg(
        F.max(
            F.struct(F.col("cos_seed"), (-F.col("seed_id")).alias("nid"))
        ).alias("w"),
        F.first("embedding").alias("embedding"),
        F.first("_n").alias("_n"),
    )
    clustered = assigned.select(
        "vec_id", "embedding", "_n",
        (-F.col("w")["nid"]).cast("int").alias("cluster"),
    )
    a, b = clustered.alias("a"), clustered.alias("b")
    dup_pairs = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(
            _cosine_pre(
                F.col("a.embedding"), F.col("b.embedding"),
                F.col("a._n"), F.col("b._n"),
            )
            >= SEMDEDUP_THRESHOLD
        )
        .select(
            F.col("a.vec_id").alias("keep_id"),
            F.col("b.vec_id").alias("dup_id"),
        )
    )
    dup_of = dup_pairs.groupBy("dup_id").agg(F.min("keep_id").alias("dup_of"))
    return (
        clustered.join(dup_of, clustered["vec_id"] == dup_of["dup_id"], "left")
        .select(
            "vec_id",
            "cluster",
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
        )
    )


SEMANTIC_DEDUP_SQL = f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {DUP_ID_OFFSET} AS vec_id, embedding
  FROM embeddings WHERE vec_id < {N_INJECTED_DUPS}
), seeds AS (
  SELECT CAST(vec_id AS INT) AS seed_id, embedding AS seed_emb
  FROM embeddings WHERE vec_id < {SEMDEDUP_K}
), scored AS (
  SELECT c.vec_id, c.embedding, s.seed_id,
         coalesce({_cosine_sql('c.embedding', 's.seed_emb')}, -2.0) AS cos_seed
  FROM corpus c CROSS JOIN seeds s
), assigned AS (
  SELECT vec_id, any_value(embedding) AS embedding,
         CAST(-(max(struct_pack(c := cos_seed, nid := -seed_id)).nid) AS INT)
           AS cluster
  FROM scored
  GROUP BY vec_id
), dup_pairs AS (
  SELECT a.vec_id AS keep_id, b.vec_id AS dup_id
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {_cosine_sql('a.embedding', 'b.embedding')} >= {SEMDEDUP_THRESHOLD}
), dup_of AS (
  SELECT dup_id, min(keep_id) AS dup_of FROM dup_pairs GROUP BY dup_id
)
SELECT c.vec_id, c.cluster, d.dup_of IS NULL AS kept, d.dup_of
FROM assigned c LEFT JOIN dup_of d ON c.vec_id = d.dup_id
ORDER BY c.vec_id
"""


# ---------------------------------------------------------------------------
# Cluster profile (training:ann-cluster-profile — the index-health
# audit every IVF/SemDeDup deployment wants before trusting n_probe
# recall: per-cluster population, junk count, and cosine-to-centroid
# spread. A cluster whose mean centroid affinity is low — or whose
# population is a huge share of the corpus — is where ANN recall quietly
# dies; this surfaces both).
#
# Uses the SAME seeded assignment as semantic_dedup (first K corpus
# vectors as centroids) so the whole audit is SQL-gated cross-engine;
# the fitted variant drops in by swapping the seed table for
# kmeans_fit's centroids without changing the plan. Zero-norm junk
# vectors carry the -2 cosine sentinel: counted per cluster, excluded
# from the affinity stats.
#
# Scale shape: K-row broadcast, one max(struct) hash-aggregate for the
# assignment, one K-group aggregate for the profile. No joins beyond
# the deliberate K-row broadcast.
# ---------------------------------------------------------------------------


def cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .select("vec_id", "embedding",
                _norm_col(F.col("embedding")).alias("_n"))
    )
    seeds = F.broadcast(
        emb.filter(F.col("vec_id") < SEMDEDUP_K).select(
            F.col("vec_id").cast("int").alias("seed_id"),
            F.col("embedding").alias("seed_emb"),
            F.col("_n").alias("_sn"),
        )
    )
    pairs = emb.crossJoin(seeds).select(
        "vec_id",
        "seed_id",
        F.coalesce(
            _cosine_pre(
                F.col("embedding"), F.col("seed_emb"),
                F.col("_n"), F.col("_sn"),
            ),
            F.lit(-2.0),
        ).alias("cos_seed"),
    )
    assigned = pairs.groupBy("vec_id").agg(
        F.max(
            F.struct(F.col("cos_seed"), (-F.col("seed_id")).alias("nid"))
        ).alias("w")
    )
    per_vec = assigned.select(
        "vec_id",
        (-F.col("w")["nid"]).cast("int").alias("cluster"),
        F.col("w")["cos_seed"].alias("cos_best"),
    )
    real = F.col("cos_best") != -2.0
    return (
        per_vec.groupBy("cluster")
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.sum((~real).cast("long")).alias("n_junk"),
            _floor4_safe(F.min(F.when(real, F.col("cos_best")))).alias(
                "min_cos"
            ),
            _floor4_safe(F.avg(F.when(real, F.col("cos_best")))).alias(
                "mean_cos"
            ),
        )
        .orderBy("cluster")
    )


CLUSTER_PROFILE_SQL = f"""
WITH seeds AS (
  SELECT CAST(vec_id AS INT) AS seed_id, embedding AS seed_emb
  FROM embeddings WHERE vec_id < {SEMDEDUP_K}
), scored AS (
  SELECT e.vec_id, s.seed_id,
         coalesce({_cosine_sql('e.embedding', 's.seed_emb')}, -2.0) AS cos_seed
  FROM embeddings e CROSS JOIN seeds s
), assigned AS (
  SELECT vec_id,
         CAST(-(max(struct_pack(c := cos_seed, nid := -seed_id)).nid) AS INT)
           AS cluster,
         max(struct_pack(c := cos_seed, nid := -seed_id)).c AS cos_best
  FROM scored
  GROUP BY vec_id
)
SELECT cluster,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(CASE WHEN cos_best = -2.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_junk,
       {_floor4_safe_sql('min(CASE WHEN cos_best <> -2.0 THEN cos_best END)')}
         AS min_cos,
       {_floor4_safe_sql('avg(CASE WHEN cos_best <> -2.0 THEN cos_best END)')}
         AS mean_cos
FROM assigned
GROUP BY cluster
ORDER BY cluster
"""


# ---------------------------------------------------------------------------
# Embedding validation profile (reference arangodb/embedding_utils.py:
# 135-200 validate_embeddings + config.py EMBEDDING_DIMENSIONS) — the
# fixture-compare pass that guards an embedding store: every vector is
# checked for (a) the expected dimension count (the fixture's
# embedding_dimensions, which the reference seeds from the corpus
# itself, :155-160), (b) presence in the fixture's test_values
# (:203-209 "missing_{text}"), and (c) an md5 fingerprint match
# against the stored hash (:166-171 hashes json.dumps(embedding);
# here the canonical serialization is the engine-portable fixed-point
# form floor(x*1e4+1e-6) joined by ','). Drift is planted
# deterministically so the mismatch branch is exercised: vec_id%97==0
# stores a fingerprint of the vector with its first component shifted
# +0.5, vec_id%101==0 is absent from the fixture.
#
# Scale shape: map-only per-vector work (transform + md5) plus ONE
# 1-row broadcast for the corpus-majority dimension — the same
# crossJoin(broadcast(agg)) idiom as the BM25 corpus stats; no other
# shuffle.
# ---------------------------------------------------------------------------

EV_DRIFT_MOD = 97
EV_MISSING_MOD = 101


def _fp(col: Column) -> Column:
    """Canonical fixed-point fingerprint of a vector (md5). Components
    are clamped to ±9e10 BEFORE the ×10^4 floor so the serialized
    integer stays far from the LONG cliff (docs/PLANS.md §14 class —
    a junk 1e30 component must fingerprint identically, not overflow
    differently per engine)."""
    return F.md5(
        F.concat_ws(
            ",",
            F.transform(
                col,
                lambda x: F.floor(
                    F.least(
                        F.greatest(x.cast("double"), F.lit(-9e10)),
                        F.lit(9e10),
                    )
                    * 10000
                    + 1e-6
                ).cast("string"),
            ),
        )
    )


def embedding_validation_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dims = emb.select(F.size("embedding").alias("n_dims"))
    expected = dims.groupBy("n_dims").count().orderBy(
        F.desc("count"), "n_dims"
    ).limit(1).select(F.col("n_dims").alias("expected_dims"))
    drifted = F.concat(
        F.array((F.element_at("embedding", 1) + F.lit(0.5)).cast("float")),
        F.slice("embedding", 2, F.size("embedding") - 1),
    )
    staged = emb.crossJoin(F.broadcast(expected)).select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        "expected_dims",
        _fp(F.col("embedding")).alias("fingerprint"),
        F.when(F.col("vec_id") % EV_DRIFT_MOD == 0, _fp(drifted))
        .otherwise(_fp(F.col("embedding")))
        .alias("stored_fp"),
        (F.col("vec_id") % EV_MISSING_MOD != 0).alias("in_fixture"),
    )
    return staged.select(
        "vec_id",
        "n_dims",
        (F.col("n_dims") == F.col("expected_dims")).alias("dim_ok"),
        "in_fixture",
        "fingerprint",
        (F.col("fingerprint") == F.col("stored_fp")).alias("hash_match"),
        (
            (F.col("n_dims") == F.col("expected_dims"))
            & F.col("in_fixture")
            & (F.col("fingerprint") == F.col("stored_fp"))
        ).alias("valid"),
    ).orderBy("vec_id")


EMBEDDING_VALIDATION_SQL = f"""
WITH dims AS (
  SELECT len(embedding) AS n_dims, count(*) AS c FROM embeddings
  GROUP BY 1 ORDER BY c DESC, n_dims LIMIT 1
),
staged AS (
  SELECT vec_id,
         len(embedding) AS n_dims,
         (SELECT n_dims FROM dims) AS expected_dims,
         md5(array_to_string(
           [CAST(CAST(floor(least(greatest(CAST(x AS DOUBLE), -9e10), 9e10)
                            * 10000 + 1e-6) AS BIGINT)
                 AS VARCHAR) FOR x IN embedding], ',')) AS fingerprint,
         CASE WHEN vec_id % {EV_DRIFT_MOD} = 0 THEN
           md5(array_to_string(
             [CAST(CAST(floor(least(greatest(CAST(
                CASE WHEN i = 1
                     THEN CAST(embedding[i] + 0.5 AS FLOAT)
                     ELSE embedding[i] END AS DOUBLE), -9e10), 9e10)
                * 10000 + 1e-6)
                AS BIGINT) AS VARCHAR)
              FOR i IN generate_series(1, len(embedding))], ','))
         ELSE
           md5(array_to_string(
             [CAST(CAST(floor(least(greatest(CAST(x AS DOUBLE), -9e10), 9e10)
                              * 10000 + 1e-6) AS BIGINT)
                   AS VARCHAR) FOR x IN embedding], ','))
         END AS stored_fp,
         vec_id % {EV_MISSING_MOD} <> 0 AS in_fixture
  FROM embeddings
)
SELECT vec_id, n_dims,
       n_dims = expected_dims AS dim_ok,
       in_fixture, fingerprint,
       fingerprint = stored_fp AS hash_match,
       (n_dims = expected_dims AND in_fixture
        AND fingerprint = stored_fp) AS valid
FROM staged
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# ANN recall audit (training:ann-recall — the measurement that justifies
# an n_probe setting: recall@K of the IVF probe against the brute-force
# truth, as a curve over probe depth). Probe order is the real IVF
# rule — clusters ranked by query→centroid cosine — NOT by peeking at
# member similarity. Centroids are computed and compared entirely in
# LONG form (per-(label, dim) averages; dot/norm as aggregates), so
# neither engine ever rebuilds an array: the shape is
# posexplode → two hash aggregates for centroids, a K_probe-row
# ranking, then per-depth top-K vs the brute-force truth set.
# At index scale each depth's top-K is a TakeOrdered over the probed
# clusters only — the whole point of IVF; the audit quantifies what
# that pruning costs in recall.
# ---------------------------------------------------------------------------

RECALL_MAX_PROBE = 4


def _ivf_probe(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The IVF-probe scaffolding the four ANN audits share.

    Returns ``(truth, topk)``: ``truth`` is the brute-force top-K
    ``(vec_id, truth_rank)`` for the query vector; ``topk`` holds, for
    each probe depth ``n_probe`` in 1..RECALL_MAX_PROBE, the top-K
    ``(vec_id, n_probe, rk)`` over the ``n_probe`` clusters whose
    centroids rank closest to the query (ties on the 1e-4 grid broken
    by label)."""
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings")
    # per-(label, dim) centroid components — long form, one hash agg
    comp = emb.select(
        "label", F.posexplode(_as_double(F.col("embedding"))).alias("i", "cx")
    ).groupBy("label", "i").agg(F.avg("cx").alias("cx"))
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.posexplode(_as_double(F.col("embedding"))).alias("i", "qx")
    )
    aff = (
        comp.join(F.broadcast(q), "i")
        .groupBy("label")
        .agg(
            F.sum(F.col("cx") * F.col("qx")).alias("dot"),
            F.sqrt(F.sum(F.col("cx") * F.col("cx"))).alias("cn"),
            F.sqrt(F.sum(F.col("qx") * F.col("qx"))).alias("qn"),
        )
        .select(
            "label",
            floor_round(F.col("dot") / (F.col("cn") * F.col("qn")), 4)
            .alias("aff"),
        )
        .withColumn(
            "label_rank",
            F.row_number().over(Window.orderBy(F.desc("aff"), F.asc("label"))),
        )
    )
    qvec = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_embedding"),
        _norm_col(F.col("embedding")).alias("q_n"),
    )
    cos = _cosine_pre(
        F.col("embedding"), F.col("q_embedding"), F.col("_n"), F.col("q_n")
    )
    scored = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", "embedding",
                _norm_col(F.col("embedding")).alias("_n"))
        .crossJoin(F.broadcast(qvec))
        .select("vec_id", "label", _floor4(cos).alias("cos"))
    )
    # truth via orderBy+limit → TakeOrderedAndProject (a row_number
    # over an unpartitioned window would funnel the corpus through one
    # task); the rank windows here run over K-row tables — the label
    # table and the top-K — the bounded-aggregate exception
    truth = (
        scored.orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(TOP_K)
        .withColumn(
            "truth_rank",
            F.row_number().over(
                Window.orderBy(F.desc("cos"), F.asc("vec_id"))
            ),
        )
        .select("vec_id", "truth_rank")
    )
    probes = spark.range(1, RECALL_MAX_PROBE + 1).select(
        F.col("id").cast("int").alias("n_probe")
    )
    cand = (
        scored.join(F.broadcast(aff), "label")
        .crossJoin(F.broadcast(probes))
        .where(F.col("label_rank") <= F.col("n_probe"))
    )
    topk = cand.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("n_probe").orderBy(
                F.desc("cos"), F.asc("vec_id")
            )
        ),
    ).where(F.col("rk") <= TOP_K)
    return truth, topk


def _ivf_probe_sql(truth_cols: str) -> str:
    """The oracle CTEs ``q`` … ``topk`` the four ANN-audit oracles
    share; ``truth`` projects ``truth_cols`` from the exact top-K
    (``vec_id``, ``t_rank``)."""
    return f"""q AS (
  SELECT i, CAST(x AS DOUBLE) AS qx
  FROM (SELECT unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
),
comp AS (
  SELECT label, i, avg(CAST(x AS DOUBLE)) AS cx
  FROM (SELECT label, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings)
  GROUP BY 1, 2
),
aff AS (
  SELECT label,
         floor(sum(cx * qx) / (sqrt(sum(cx * cx)) * sqrt(sum(qx * qx)))
               * 10000 + 1e-6) / 10000 AS aff
  FROM comp JOIN q USING (i)
  GROUP BY label
),
ranked_labels AS (
  SELECT label,
         row_number() OVER (ORDER BY aff DESC, label ASC) AS label_rank
  FROM aff
),
qv AS (SELECT embedding AS q_embedding FROM embeddings
       WHERE vec_id = {QUERY_VEC_ID}),
scored AS MATERIALIZED (
  SELECT vec_id, label,
         CAST(floor(({_cosine_sql('embedding', 'q_embedding')}) * 10000
                    + 1e-6) / 10000 AS DOUBLE) AS cos
  FROM embeddings, qv WHERE vec_id != {QUERY_VEC_ID}
),
truth AS (
  SELECT {truth_cols} FROM (
    SELECT vec_id,
           row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS t_rank
    FROM scored
  ) WHERE t_rank <= {TOP_K}
),
cand AS (
  SELECT s.vec_id, s.cos, p.n_probe
  FROM scored s
  JOIN ranked_labels r ON r.label = s.label
  JOIN (SELECT unnest([{", ".join(str(i) for i in range(1, RECALL_MAX_PROBE + 1))}]) AS n_probe) p
    ON r.label_rank <= p.n_probe
),
topk AS (
  SELECT * FROM (
    SELECT vec_id, n_probe,
           row_number() OVER (PARTITION BY n_probe
                              ORDER BY cos DESC, vec_id ASC) AS rk
    FROM cand
  ) WHERE rk <= {TOP_K}
)"""


def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth, topk = _ivf_probe(spark, sf_dir)
    return (
        topk.join(truth.select("vec_id", F.lit(1).alias("hit")), "vec_id", "left")
        .groupBy("n_probe")
        .agg(
            F.count("*").cast("long").alias("n_returned"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"),
        )
        .select(
            "n_probe",
            "n_returned",
            "n_hits",
            floor_round(F.col("n_hits") / F.lit(float(TOP_K)), 4).alias(
                "recall_at_k"
            ),
        )
        .orderBy("n_probe")
    )


ANN_RECALL_SQL = f"""
WITH {_ivf_probe_sql("vec_id")}
SELECT CAST(n_probe AS INT) AS n_probe,
       count(*) AS n_returned,
       CAST(sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       floor(sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             / {float(TOP_K)} * 10000 + 1e-6) / 10000 AS recall_at_k
FROM topk k LEFT JOIN truth t ON t.vec_id = k.vec_id
GROUP BY n_probe
ORDER BY n_probe
"""


# ---------------------------------------------------------------------------
# Maximal Marginal Relevance re-ranking (R4-33, Carbonell & Goldstein
# 1998) — the diversity-aware re-rank every RAG/retrieval stack runs
# on top of cosine top-k: greedily pick the candidate maximizing
# λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), so near-duplicate hits
# don't crowd the result list.
#
# Scale shape: the DISTRIBUTED part is the candidate pool (TakeOrdered
# top-N over the full scan — the same plan as cosine_topk). The greedy
# selection is inherently sequential in K, but every step works on the
# BOUNDED pool: a ≤K-row broadcast of the selected set against the
# ≤N-row pool (the SemDeDup-whitelisted K-row broadcast seed-join
# idiom), one hash-agg max-sim per step, localCheckpoint pinning each
# step's pick so the K-step lineage stays flat. All comparisons happen
# on floor4-rounded values with a vec_id tiebreak, so the greedy
# DECISIONS are engine-exact, not just the scores.
# ---------------------------------------------------------------------------

MMR_POOL = 20
MMR_K = 5
MMR_LAMBDA = 0.7


def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_embedding"),
        _norm_col(F.col("embedding")).alias("q_n"),
    )
    rel = _cosine_pre(
        F.col("embedding"), F.col("q_embedding"), F.col("_n"), F.col("q_n")
    )
    pool = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "embedding",
                _norm_col(F.col("embedding")).alias("_n"))
        .crossJoin(F.broadcast(query))
        .select("vec_id", "embedding", _floor4(rel).alias("rel"))
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(MMR_POOL)
        .localCheckpoint()
    )
    lam, mu = F.lit(MMR_LAMBDA), F.lit(1.0 - MMR_LAMBDA)
    selected = None
    for step in range(1, MMR_K + 1):
        if selected is None:
            cand = pool.withColumn("max_sim", F.lit(0.0))
        else:
            sel = selected.select(
                F.col("vec_id").alias("s_id"), F.col("embedding").alias("s_emb")
            )
            sims = (
                pool.join(
                    selected.select("vec_id"), "vec_id", "left_anti"
                )
                .crossJoin(F.broadcast(sel))
                .select(
                    "vec_id",
                    _floor4(
                        _cosine(
                            _as_double(F.col("embedding")),
                            _as_double(F.col("s_emb")),
                        )
                    ).alias("sim"),
                )
                .groupBy("vec_id")
                .agg(F.max("sim").alias("max_sim"))
            )
            cand = pool.join(sims, "vec_id")
        pick = (
            cand.select(
                "vec_id",
                "embedding",
                "rel",
                _floor4(lam * F.col("rel") - mu * F.col("max_sim")).alias("mmr"),
            )
            .orderBy(F.desc("mmr"), F.asc("vec_id"))
            .limit(1)
            .withColumn("rank", F.lit(step))
        )
        selected = (
            pick if selected is None else selected.unionByName(pick)
        ).localCheckpoint()
    return selected.select(
        F.col("rank").cast("int").alias("rank"), "vec_id", "rel", "mmr"
    ).orderBy("rank")


def _mmr_floor4_sql(x: str) -> str:
    return f"CAST(floor(({x}) * 10000 + 1e-6) / 10000 AS DOUBLE) "


def _mmr_step_sql(step: int, prev: list[str]) -> str:
    prev_union = " UNION ALL ".join(f"SELECT * FROM {p}" for p in prev)
    sim = _mmr_floor4_sql(_cosine_sql("p.embedding", "s.embedding"))
    mmr = _mmr_floor4_sql(
        f"{MMR_LAMBDA!r} * rel - {1.0 - MMR_LAMBDA!r} * max_sim"
    )
    return f"""sel{step} AS MATERIALIZED (
  SELECT {step} AS rank, vec_id, rel, embedding, {mmr} AS mmr
  FROM (
    SELECT p.vec_id, p.rel, p.embedding, max({sim}) AS max_sim
    FROM pool p CROSS JOIN ({prev_union}) s
    WHERE p.vec_id NOT IN (SELECT vec_id FROM ({prev_union}))
    GROUP BY p.vec_id, p.rel, p.embedding
  )
  ORDER BY mmr DESC, vec_id ASC
  LIMIT 1
)"""


_MMR_STEPS_SQL = ",\n".join(
    _mmr_step_sql(i, [f"sel{j}" for j in range(1, i)])
    for i in range(2, MMR_K + 1)
)
_MMR_UNION_SQL = " UNION ALL ".join(
    f"SELECT * FROM sel{i}" for i in range(1, MMR_K + 1)
)

MMR_RERANK_SQL = f"""
WITH q AS (SELECT embedding AS q_embedding FROM embeddings
           WHERE vec_id = {QUERY_VEC_ID}),
pool AS MATERIALIZED (
  SELECT vec_id, embedding,
         {_mmr_floor4_sql(_cosine_sql('embedding', 'q_embedding'))} AS rel
  FROM embeddings CROSS JOIN q
  WHERE vec_id != {QUERY_VEC_ID}
  ORDER BY rel DESC, vec_id ASC
  LIMIT {MMR_POOL}
),
sel1 AS MATERIALIZED (
  SELECT 1 AS rank, vec_id, rel, embedding,
         {_mmr_floor4_sql(f'{MMR_LAMBDA!r} * rel')} AS mmr
  FROM pool ORDER BY mmr DESC, vec_id ASC LIMIT 1
),
{_MMR_STEPS_SQL}
SELECT CAST(rank AS INT) AS rank, vec_id, rel, mmr
FROM ({_MMR_UNION_SQL})
ORDER BY rank
"""


# ---------------------------------------------------------------------------
# Hard-negative mining (R4-34) — the contrastive-training companion to
# contrastive_pairs (which salts RANDOM negatives): retrieval encoders
# (DPR, ANCE) train far better on negatives that are similar-but-not-
# duplicate, i.e. the top-scoring neighbors BELOW the positive
# threshold. Anchors are a deterministic modulus of vec_id (scales
# with the corpus); negatives come from the SAME hyperplane-LSH band
# buckets the near-dup path uses — exactly the "mine negatives from
# the ANN index" recipe.
#
# Scale shape: candidates ride the (band_id, band_key) equi-join (no
# all-pairs), exact cosine runs on candidates only, positives are cut
# by threshold, and the per-anchor top-k window is bounded by the LSH
# bucket width (the SemDeDup boundedness argument — never a window
# over the raw corpus).
# ---------------------------------------------------------------------------

HARD_NEG_ANCHOR_MOD = 20
HARD_NEG_POS_TH = 0.95
HARD_NEG_K = 3


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _hard_negative_kernel(emb)


def _hard_negative_kernel(
    emb: DataFrame, n_bits: int = HP_BITS
) -> DataFrame:
    """Hard-negative mining over an explicit (vec_id, embedding) table.
    Candidate mass is anchors × corpus / 2^n_bits per band — n_bits is
    the scale knob (see _hp_band_structs); anchors are the fixed-rate
    vec_id % HARD_NEG_ANCHOR_MOD == 0 sample, so total candidate mass
    is quadratic in the corpus unless buckets scale with it."""
    bands = emb.select(
        "vec_id",
        F.explode(
            _hp_band_structs(F.col("embedding"), n_bits=n_bits)
        ).alias("bb"),
    ).select(
        "vec_id",
        F.col("bb.band_id").alias("band_id"),
        F.col("bb.band_key").alias("band_key"),
    )
    anchors = bands.filter(F.col("vec_id") % HARD_NEG_ANCHOR_MOD == 0)
    cand = (
        anchors.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("anchor_id"),
            F.col("b.vec_id").alias("neg_id"),
        )
        .distinct()
    )
    va = emb.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("a_emb"),
        _norm_col(F.col("embedding")).alias("a_n"),
    )
    vb = emb.select(
        F.col("vec_id").alias("neg_id"),
        F.col("embedding").alias("b_emb"),
        _norm_col(F.col("embedding")).alias("b_n"),
    )
    cos = _cosine_pre(
        F.col("a_emb"), F.col("b_emb"), F.col("a_n"), F.col("b_n")
    )
    scored = (
        cand.join(va, "anchor_id")
        .join(vb, "neg_id")
        .select("anchor_id", "neg_id", _floor4(cos).alias("cos"))
        .filter(F.col("cos") < HARD_NEG_POS_TH)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("anchor_id").orderBy(F.desc("cos"), F.asc("neg_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= HARD_NEG_K)
        .select("anchor_id", "neg_id", "cos", F.col("rank").cast("int").alias("rank"))
        .orderBy("anchor_id", "rank")
    )


HARD_NEGATIVE_SQL = f"""
WITH bands AS MATERIALIZED (
  SELECT vec_id, 0 AS band_id,
         {_hp_band_key_sql('embedding', 0)} AS band_key FROM embeddings
  UNION ALL
  SELECT vec_id, 1 AS band_id,
         {_hp_band_key_sql('embedding', 1)} AS band_key FROM embeddings
),
cand AS (
  SELECT DISTINCT a.vec_id AS anchor_id, b.vec_id AS neg_id
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.vec_id != b.vec_id
  WHERE a.vec_id % {HARD_NEG_ANCHOR_MOD} = 0
),
scored AS (
  SELECT c.anchor_id, c.neg_id,
         CAST(floor(({_cosine_sql('a.embedding', 'b.embedding')})
              * 10000 + 1e-6) / 10000 AS DOUBLE) AS cos
  FROM cand c
  JOIN embeddings a ON c.anchor_id = a.vec_id
  JOIN embeddings b ON c.neg_id = b.vec_id
)
SELECT anchor_id, neg_id, cos, CAST(rank AS INT) AS rank FROM (
  SELECT anchor_id, neg_id, cos,
         row_number() OVER (PARTITION BY anchor_id
                            ORDER BY cos DESC, neg_id ASC) AS rank
  FROM scored WHERE cos < {HARD_NEG_POS_TH}
)
WHERE rank <= {HARD_NEG_K}
ORDER BY anchor_id, rank
"""


# ---------------------------------------------------------------------------
# Centroid-based silhouette (R4-38, training:cluster-silhouette —
# simplified silhouette, Hruschka et al. 2004): the clustering-health
# audit next to cluster_profile/ann_recall_audit. For each vector,
# a = cosine distance to its OWN label centroid, b = min distance to
# any OTHER centroid, s = (b−a)/max(a,b); per-cluster mean s near 1 ⇒
# tight well-separated clusters, near/below 0 ⇒ the IVF partitioning
# is routing probes badly.
#
# Scale shape: centroids are ONE hash aggregate (DIMS avg columns →
# K rows), broadcast everywhere after; own-centroid join is an equi-
# join on label; the min-other pass is a K-row broadcast against the
# scan (the whitelisted bounded seed-join idiom — exactly SemDeDup's
# shape). Simplified silhouette is THE scalable variant: full
# silhouette needs all-pairs within-cluster distances.
# ---------------------------------------------------------------------------


def cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    cent = emb.groupBy("label").agg(
        *[
            F.avg(F.col("embedding")[i].cast("double")).alias(f"c{i}")
            for i in range(DIMS)
        ]
    ).select(
        F.col("label").alias("c_label"),
        F.array(*[F.col(f"c{i}") for i in range(DIMS)]).alias("centroid"),
    ).select(
        "c_label", "centroid", _norm_col(F.col("centroid")).alias("c_n")
    )
    emb = emb.select(
        "vec_id", "label", "embedding",
        _norm_col(F.col("embedding")).alias("_n"),
    )
    # vec norm folds once per row, not once per centroid in the K-row
    # broadcast joins (see _norm_col)
    dist = F.lit(1.0) - _cosine_pre(
        F.col("embedding"), F.col("centroid"), F.col("_n"), F.col("c_n")
    )
    own = emb.join(
        F.broadcast(cent), F.col("label") == F.col("c_label")
    ).select("vec_id", "label", dist.alias("a"))
    other = (
        emb.join(F.broadcast(cent), F.col("label") != F.col("c_label"))
        .select("vec_id", dist.alias("d"))
        .groupBy("vec_id")
        .agg(F.min("d").alias("b"))
    )
    s = F.when(
        F.greatest(F.col("a"), F.col("b")) > 0,
        (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b")),
    ).otherwise(F.lit(0.0))
    return (
        own.join(other, "vec_id")
        .select("label", s.alias("s"))
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            _floor4(F.avg("s")).alias("mean_silhouette"),
        )
        .orderBy("label")
    )


_CENTROID_AVG_SQL = ", ".join(
    f"avg(CAST(embedding[{i + 1}] AS DOUBLE))" for i in range(DIMS)
)

CLUSTER_SILHOUETTE_SQL = f"""
WITH cent AS MATERIALIZED (
  SELECT label AS c_label, [{_CENTROID_AVG_SQL}] AS centroid
  FROM embeddings GROUP BY label
),
own AS (
  SELECT e.vec_id, e.label,
         1.0 - ({_cosine_sql('e.embedding', 'c.centroid')}) AS a
  FROM embeddings e JOIN cent c ON c.c_label = e.label
),
other AS (
  SELECT e.vec_id,
         min(1.0 - ({_cosine_sql('e.embedding', 'c.centroid')})) AS b
  FROM embeddings e JOIN cent c ON c.c_label != e.label
  GROUP BY e.vec_id
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(floor(avg(CASE WHEN greatest(a, b) > 0
                       THEN (b - a) / greatest(a, b) ELSE 0.0 END)
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS mean_silhouette
FROM own JOIN other USING (vec_id)
GROUP BY label
ORDER BY label
"""


# ---------------------------------------------------------------------------
# Bitext margin mining (R4-45, training:bitext — Artetxe & Schwenk
# 2019, the LASER/CCMatrix recipe): mine cross-lingual sentence pairs
# by the RATIO margin score(x, y) = cos(x, y) / ((avgk(x) + avgk(y))/2)
# where avgk(v) is the mean cosine of v's k nearest neighbors — raw
# cosine thresholds fail because some embeddings sit in dense hubs;
# the margin normalizes by local density.
#
# Scale shape: EVERYTHING rides the hyperplane-LSH band buckets —
# candidate pairs AND each vector's k-NN neighborhood come from the
# same (band_id, band_key) equi-join (one undirected cosine pass,
# exploded to both directions for the k-NN aggregate). The per-vector
# top-k window is bounded by LSH bucket width (SemDeDup argument).
# Languages come from the aligned documents table (vec_id = doc_id).
# Neighborhoods with fewer than k candidates average what exists (the
# paper's fixed 2k denominator assumes dense ANN indexes; disclosed).
# Decisions are engine-exact: neighbor ranking on floor4(cos) with id
# tiebreaks, margin thresholded on floor4 values.
# ---------------------------------------------------------------------------

BITEXT_NN_K = 4
BITEXT_MARGIN_TH = 1.02
BITEXT_SRC_LANG = "en"


def bitext_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    langs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    return _bitext_kernel(emb.join(langs, "vec_id"))


def _bitext_kernel(base: DataFrame, n_bits: int = HP_BITS) -> DataFrame:
    """Margin-based bitext mining over an explicit (vec_id, embedding,
    lang) table. The candidate join is a FULL corpus self-join through
    the band buckets — pair mass N²/2^n_bits per band, the most
    bits-sensitive member of the family: n_bits MUST scale with the
    corpus (see _hp_band_structs)."""
    from pyspark.sql import Window

    bands = base.select(
        "vec_id",
        F.explode(
            _hp_band_structs(F.col("embedding"), n_bits=n_bits)
        ).alias("bb"),
    ).select(
        "vec_id",
        F.col("bb.band_id").alias("band_id"),
        F.col("bb.band_key").alias("band_key"),
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id"))
        .distinct()
    )
    va = base.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        _norm_col(F.col("embedding")).alias("a_n"),
        F.col("lang").alias("a_lang"),
    )
    vb = base.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        _norm_col(F.col("embedding")).alias("b_n"),
        F.col("lang").alias("b_lang"),
    )
    scored = (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .select(
            "a_id", "b_id", "a_lang", "b_lang",
            _floor4(
                _cosine_pre(
                    F.col("a_emb"), F.col("b_emb"),
                    F.col("a_n"), F.col("b_n"),
                )
            ).alias("cos"),
        )
        .localCheckpoint()  # one cosine pass feeds both k-NN and pairs
    )
    directed = scored.select(
        F.col("a_id").alias("v"), F.col("b_id").alias("nbr"), "cos"
    ).unionByName(
        scored.select(
            F.col("b_id").alias("v"), F.col("a_id").alias("nbr"), "cos"
        )
    )
    wk = Window.partitionBy("v").orderBy(F.desc("cos"), F.asc("nbr"))
    avgk = (
        directed.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= BITEXT_NN_K)
        .groupBy("v")
        .agg(F.avg("cos").alias("avg_k"))
    )
    cross = scored.filter(
        (
            (F.col("a_lang") == BITEXT_SRC_LANG)
            & (F.col("b_lang") != BITEXT_SRC_LANG)
        )
        | (
            (F.col("b_lang") == BITEXT_SRC_LANG)
            & (F.col("a_lang") != BITEXT_SRC_LANG)
        )
    ).select(
        F.when(F.col("a_lang") == BITEXT_SRC_LANG, F.col("a_id"))
        .otherwise(F.col("b_id"))
        .alias("x_id"),
        F.when(F.col("a_lang") == BITEXT_SRC_LANG, F.col("b_id"))
        .otherwise(F.col("a_id"))
        .alias("y_id"),
        F.when(F.col("a_lang") == BITEXT_SRC_LANG, F.col("b_lang"))
        .otherwise(F.col("a_lang"))
        .alias("y_lang"),
        "cos",
    )
    ax = avgk.select(F.col("v").alias("x_id"), F.col("avg_k").alias("avg_x"))
    ay = avgk.select(F.col("v").alias("y_id"), F.col("avg_k").alias("avg_y"))
    margin = F.col("cos") / ((F.col("avg_x") + F.col("avg_y")) / 2)
    return (
        cross.join(ax, "x_id")
        .join(ay, "y_id")
        .select(
            "x_id", "y_id", "y_lang", "cos", _floor4(margin).alias("margin")
        )
        .filter(F.col("margin") >= BITEXT_MARGIN_TH)
        .orderBy(F.desc("margin"), "x_id", "y_id")
    )


BITEXT_MARGIN_SQL = f"""
WITH base AS MATERIALIZED (
  SELECT e.vec_id, e.embedding, d.lang
  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
),
bands AS MATERIALIZED (
  SELECT vec_id, 0 AS band_id,
         {_hp_band_key_sql('embedding', 0)} AS band_key FROM base
  UNION ALL
  SELECT vec_id, 1 AS band_id,
         {_hp_band_key_sql('embedding', 1)} AS band_key FROM base
),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.vec_id < b.vec_id
),
scored AS MATERIALIZED (
  SELECT c.a_id, c.b_id, a.lang AS a_lang, b.lang AS b_lang,
         CAST(floor(({_cosine_sql('a.embedding', 'b.embedding')})
              * 10000 + 1e-6) / 10000 AS DOUBLE) AS cos
  FROM cand c
  JOIN base a ON c.a_id = a.vec_id
  JOIN base b ON c.b_id = b.vec_id
),
directed AS (
  SELECT a_id AS v, b_id AS nbr, cos FROM scored
  UNION ALL
  SELECT b_id AS v, a_id AS nbr, cos FROM scored
),
avgk AS MATERIALIZED (
  SELECT v, avg(cos) AS avg_k FROM (
    SELECT v, cos,
           row_number() OVER (PARTITION BY v
                              ORDER BY cos DESC, nbr ASC) AS rk
    FROM directed
  ) WHERE rk <= {BITEXT_NN_K}
  GROUP BY v
),
cross_pairs AS (
  SELECT CASE WHEN a_lang = '{BITEXT_SRC_LANG}' THEN a_id ELSE b_id END
           AS x_id,
         CASE WHEN a_lang = '{BITEXT_SRC_LANG}' THEN b_id ELSE a_id END
           AS y_id,
         CASE WHEN a_lang = '{BITEXT_SRC_LANG}' THEN b_lang ELSE a_lang END
           AS y_lang,
         cos
  FROM scored
  WHERE (a_lang = '{BITEXT_SRC_LANG}' AND b_lang != '{BITEXT_SRC_LANG}')
     OR (b_lang = '{BITEXT_SRC_LANG}' AND a_lang != '{BITEXT_SRC_LANG}')
)
SELECT x_id, y_id, y_lang, cos, margin FROM (
  SELECT p.x_id, p.y_id, p.y_lang, p.cos,
         CAST(floor(p.cos / ((x.avg_k + y.avg_k) / 2) * 10000 + 1e-6)
              / 10000 AS DOUBLE) AS margin
  FROM cross_pairs p
  JOIN avgk x ON x.v = p.x_id
  JOIN avgk y ON y.v = p.y_id
)
WHERE margin >= {BITEXT_MARGIN_TH}
ORDER BY margin DESC, x_id, y_id
"""


# ---------------------------------------------------------------------------
# NDCG@K vs IVF probe depth (R4-52, training:ann-ndcg): the graded
# companion to ann_recall_audit — recall says WHETHER the true
# neighbors came back, NDCG says whether they came back IN ORDER
# (a probe depth can hit 100% recall yet rank the best neighbor last).
# Relevance is graded by exact rank: rel(v) = K − truth_rank(v) + 1
# for the exact top-K, 0 otherwise; DCG = Σ rel/log2(pos+1); the ideal
# DCG is a pure function of K, computed once in Python and interpolated
# into BOTH engines as the same literal.
#
# Scale shape: the shared IVF-probe scaffolding (:func:`_ivf_probe` —
# centroid affinities over the K-row label table, TakeOrdered truth,
# per-probe bounded top-k windows) plus a K-row rank join.
# ---------------------------------------------------------------------------

_IDCG_AT_K = sum(
    (TOP_K - i + 1) / math.log2(i + 1) for i in range(1, TOP_K + 1)
)


def ann_ndcg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth, topk = _ivf_probe(spark, sf_dir)
    rel = F.coalesce(
        F.lit(TOP_K) - F.col("truth_rank") + 1, F.lit(0)
    ).cast("double")
    return (
        topk.join(F.broadcast(truth), "vec_id", "left")
        .groupBy("n_probe")
        .agg(
            F.sum(rel / F.log2(F.col("rk") + 1.0)).alias("dcg"),
        )
        .select(
            "n_probe",
            floor_round(F.col("dcg"), 4).alias("dcg"),
            floor_round(F.col("dcg") / F.lit(_IDCG_AT_K), 4).alias("ndcg"),
        )
        .orderBy("n_probe")
    )


ANN_NDCG_SQL = f"""
WITH {_ivf_probe_sql("vec_id, t_rank AS truth_rank")}
SELECT CAST(n_probe AS INT) AS n_probe,
       CAST(floor(sum(coalesce({TOP_K} - t.truth_rank + 1, 0)
                      / log2(k.rk + 1.0)) * 10000 + 1e-6) / 10000 AS DOUBLE)
         AS dcg,
       CAST(floor(sum(coalesce({TOP_K} - t.truth_rank + 1, 0)
                      / log2(k.rk + 1.0)) / {_IDCG_AT_K!r}
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS ndcg
FROM topk k LEFT JOIN truth t ON t.vec_id = k.vec_id
GROUP BY n_probe
ORDER BY n_probe
"""


# ---------------------------------------------------------------------------
# Embedding outlier detection (R4-70, training:embedding-outliers —
# the SemDeDup/SSL-prototype hygiene pass): vectors far from their own
# label centroid are mislabeled points, encoder failures, or junk
# inputs; flag the global top OUT_TOP by within-label z-score of the
# SQUARED Euclidean distance to the centroid. d² instead of d keeps
# the whole statistic polynomial in the inputs (no per-row sqrt
# divergence surface) and is rank-equivalent for fixed label. z uses
# the population std; a label whose vectors are all equidistant
# (std 0) yields NULL z via try_divide and drops from the ranking in
# both engines. Ranking runs on the 4-dp-floored z grid with a vec_id
# tiebreak (rounded-grid decision rule) so the top-k cut is
# engine-exact. Scale shape: centroids + moments are TWO hash
# aggregates (K×DIMS state), broadcast back; the global top-k is a
# TakeOrderedAndProject — no full sort, no window.
# ---------------------------------------------------------------------------

OUT_TOP = 25


def embedding_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    cent = (
        emb.groupBy("label")
        .agg(
            *[
                F.avg(F.col("embedding")[i].cast("double")).alias(f"c{i}")
                for i in range(DIMS)
            ]
        )
        .select(
            F.col("label").alias("c_label"),
            F.array(*[F.col(f"c{i}") for i in range(DIMS)]).alias("centroid"),
        )
    )
    diff = F.zip_with(
        _as_double(F.col("embedding")),
        F.col("centroid"),
        lambda x, y: (x - y) * (x - y),
    )
    d2 = F.aggregate(diff, F.lit(0.0), lambda acc, v: acc + v)
    scored = emb.join(
        F.broadcast(cent), F.col("label") == F.col("c_label")
    ).select("vec_id", "label", d2.alias("d2"))
    moments = scored.groupBy("label").agg(
        F.avg("d2").alias("mu"),
        F.avg(F.col("d2") * F.col("d2")).alias("m2"),
        F.count("*").cast("long").alias("n_label"),
    )
    # variance guard: a degenerate label (all d2 equal) has var ~ 0,
    # and FP cancellation can land slightly NEGATIVE — sqrt would give
    # NaN, which sorts FIRST under desc in Spark. Gate on var > 0 so
    # degenerate labels yield NULL z (drops via NULLS LAST) in both
    # engines. (adversarial-corpus defense)
    var = F.col("m2") - F.col("mu") * F.col("mu")
    z = F.when(
        var > 0, (F.col("d2") - F.col("mu")) / F.sqrt(var)
    )
    return (
        scored.join(F.broadcast(moments), "label")
        .select(
            "vec_id",
            "label",
            "n_label",
            _floor4_safe(F.col("d2")).alias("d2"),
            _floor4(z).alias("z"),
        )
        .orderBy(F.desc_nulls_last("z"), "vec_id")
        .limit(OUT_TOP)
    )


_OUT_CENTROID_SQL = ", ".join(
    f"avg(CAST(embedding[{i + 1}] AS DOUBLE))" for i in range(DIMS)
)

_OUT_D2_SQL = (
    "list_sum(list_transform(generate_series(1, "
    f"{DIMS}), i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])"
    " * (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])))"
)

EMBEDDING_OUTLIER_SQL = f"""
WITH cent AS MATERIALIZED (
  SELECT label AS c_label, [{_OUT_CENTROID_SQL}] AS centroid
  FROM embeddings GROUP BY label
),
scored AS MATERIALIZED (
  SELECT e.vec_id, e.label, {_OUT_D2_SQL} AS d2
  FROM embeddings e JOIN cent c ON c.c_label = e.label
),
moments AS MATERIALIZED (
  SELECT label, avg(d2) AS mu, avg(d2 * d2) AS m2,
         CAST(count(*) AS BIGINT) AS n_label
  FROM scored GROUP BY 1
)
SELECT s.vec_id, s.label, m.n_label,
       {_floor4_safe_sql('s.d2')} AS d2,
       CASE WHEN m.m2 - m.mu * m.mu > 0
            THEN CAST(floor((s.d2 - m.mu) / sqrt(m.m2 - m.mu * m.mu)
                            * 10000 + 1e-6) / 10000 AS DOUBLE)
            END AS z
FROM scored s JOIN moments m USING (label)
ORDER BY z DESC NULLS LAST, s.vec_id
LIMIT {OUT_TOP}
"""


# ---------------------------------------------------------------------------
# Fisher separation audit per label (R4-86, training:embedding-fisher
# — the LDA-criterion health check on a labeled embedding space):
# between-class scatter n_l·‖µ_l − µ‖² against within-class scatter
# Σ‖x − µ_l‖² per label. A label whose between-term is small relative
# to its within-term is not linearly separable in this space — the
# signal that decides whether labels can drive IVF routing / stratified
# sampling, complementing cluster_silhouette (assignment quality) and
# embedding_outlier_zscore (per-point hygiene).
#
# Everything reduces to per-label Σx_d and Σx_d² (2·DIMS aggregate
# columns, K-row state) plus the 1-row global reduction over those
# label sums: between = n_l·Σ_d(µ_l,d − µ_d)², within =
# Σ_d(q_l,d − s_l,d²/n_l) — closed forms over pre-aggregated sums,
# evaluated identically in both engines; floor4 absorbs the per-dim
# float-summation ulp (the embedding-family convention). No windows,
# no pairs; centroid state is K×DIMS and broadcastable at any corpus
# scale.
# ---------------------------------------------------------------------------



# Profile-audit component clamp (adversarial-sweep hardening, the §14
# LONG-cliff class): statistical profile audits quantize components /
# norms onto integer grids, and a junk 1e18-magnitude component must
# DEGRADE (saturate at the clamp) rather than overflow the grid cast
# or poison float sums with catastrophic cancellation. ±1e3 is far
# outside any sane encoder's range (clean corpus max |x| = 0.58), so
# the clamp is inert on real data; identical in both engines.
EMB_PROFILE_CLAMP = 1e3


def _prof_clamp(x):
    return F.least(F.greatest(x, F.lit(-EMB_PROFILE_CLAMP)),
                   F.lit(EMB_PROFILE_CLAMP))


def embedding_fisher_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    x = lambda i: _prof_clamp(  # noqa: E731
        F.col("embedding")[i].cast("double")
    )
    sums = emb.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs"),
        *[F.sum(x(i)).alias(f"s{i}") for i in range(DIMS)],
        *[F.sum(x(i) * x(i)).alias(f"q{i}") for i in range(DIMS)],
    )
    tot = sums.agg(
        F.sum("n_vecs").cast("long").alias("n_total"),
        *[F.sum(f"s{i}").alias(f"g{i}") for i in range(DIMS)],
    )
    joined = sums.crossJoin(F.broadcast(tot))
    between = F.col("n_vecs").cast("double") * sum(
        (
            F.col(f"s{i}") / F.col("n_vecs")
            - F.col(f"g{i}") / F.col("n_total")
        )
        * (
            F.col(f"s{i}") / F.col("n_vecs")
            - F.col(f"g{i}") / F.col("n_total")
        )
        for i in range(DIMS)
    )
    within = sum(
        F.col(f"q{i}") - F.col(f"s{i}") * F.col(f"s{i}") / F.col("n_vecs")
        for i in range(DIMS)
    )
    return joined.select(
        "label",
        "n_vecs",
        _floor4(between).alias("between_term"),
        _floor4(within).alias("within_term"),
        _floor4(between / within).alias("fisher_term"),
    ).orderBy("label")


_FR_CL = (
    "least(greatest(CAST(embedding[{j}] AS DOUBLE), -1e3), 1e3)"
)
_FR_S_LIST = "[" + ", ".join(
    f"sum({_FR_CL.format(j=i + 1)})" for i in range(DIMS)
) + "]"
_FR_Q_LIST = "[" + ", ".join(
    f"sum({_FR_CL.format(j=i + 1)}"
    f" * {_FR_CL.format(j=i + 1)})"
    for i in range(DIMS)
) + "]"
_FR_G_LIST = "[" + ", ".join(f"sum(s[{i + 1}])" for i in range(DIMS)) + "]"
# list_sum over a generate_series transform, not a 64-term +-chain:
# DuckDB's binder recurses per binary op and overflows at DIMS=64
_FR_BETWEEN = (
    f"list_sum(list_transform(generate_series(1, {DIMS}), "
    "i -> (s[i] / n_vecs - g[i] / n_total)"
    " * (s[i] / n_vecs - g[i] / n_total)))"
)
_FR_WITHIN = (
    f"list_sum(list_transform(generate_series(1, {DIMS}), "
    "i -> q[i] - s[i] * s[i] / n_vecs))"
)

EMBEDDING_FISHER_SQL = f"""
WITH sums AS MATERIALIZED (
  SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         {_FR_S_LIST} AS s, {_FR_Q_LIST} AS q
  FROM embeddings GROUP BY label
),
tot AS (
  SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total, {_FR_G_LIST} AS g
  FROM sums
)
SELECT label, n_vecs,
       CAST(floor(n_vecs * ({_FR_BETWEEN}) * 10000 + 1e-6) / 10000
            AS DOUBLE) AS between_term,
       CAST(floor(({_FR_WITHIN}) * 10000 + 1e-6) / 10000 AS DOUBLE)
         AS within_term,
       CAST(floor(n_vecs * ({_FR_BETWEEN}) / ({_FR_WITHIN})
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS fisher_term
FROM sums, tot
ORDER BY label
"""


# ---------------------------------------------------------------------------
# MRR / MAP / precision@K vs IVF probe depth (R4-115, training:ann-map):
# the third leg of the ANN audit triptych — recall says WHETHER the
# true neighbors came back, NDCG whether they came back in order, and
# MAP/MRR what a downstream retrieval consumer (RAG top-1, rerankers)
# actually experiences. Relevance is binary membership in the exact
# brute-force top-K (the same truth set the recall audit uses).
#
# Cross-engine exactness: MRR is 1/min(rank) (order-free min, one
# division); MAP's per-hit precision terms are each floored onto a
# 1e-8 integer grid and summed as exact BIGINTs — never an
# order-dependent float sum. The cumulative-hit window runs over the
# <= K rows per probe depth (the K-row bounded window exception).
# Scale shape: the shared IVF-probe scaffolding (:func:`_ivf_probe`).
# ---------------------------------------------------------------------------


def ann_map_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    truth, topk = _ivf_probe(spark, sf_dir)
    truth = truth.select("vec_id", F.lit(1).alias("is_rel"))
    hit = topk.join(F.broadcast(truth), "vec_id", "left").select(
        "n_probe", "rk", F.coalesce(F.col("is_rel"), F.lit(0)).alias("rel")
    )
    # K-row bounded window: cumulative hits within each probe's top-K
    cum = hit.withColumn(
        "cum_rel",
        F.sum("rel").over(
            Window.partitionBy("n_probe")
            .orderBy("rk")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    prec_q = F.when(
        F.col("rel") == 1,
        F.floor(
            F.col("cum_rel").cast("double") / F.col("rk").cast("double")
            * 100000000
            + 1e-6
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    agg = cum.groupBy("n_probe").agg(
        F.sum("rel").cast("long").alias("hits_at_k"),
        F.min(F.when(F.col("rel") == 1, F.col("rk"))).alias("first_hit"),
        F.sum(prec_q).cast("long").alias("ap_q"),
    )
    return agg.select(
        "n_probe",
        "hits_at_k",
        floor_round(
            F.col("hits_at_k").cast("double") / F.lit(float(TOP_K)), 6
        ).alias("p_at_k"),
        floor_round(
            F.coalesce(
                F.lit(1.0) / F.col("first_hit").cast("double"), F.lit(0.0)
            ),
            6,
        ).alias("mrr"),
        floor_round(
            F.col("ap_q").cast("double") / 1.0e8 / F.lit(float(TOP_K)), 6
        ).alias("map_at_k"),
    ).orderBy("n_probe")


ANN_MAP_SQL = f"""
WITH {_ivf_probe_sql("vec_id, 1 AS is_rel")},
hit AS (
  SELECT k.n_probe, k.rk, coalesce(t.is_rel, 0) AS rel
  FROM topk k LEFT JOIN truth t ON t.vec_id = k.vec_id
),
cum AS (
  SELECT n_probe, rk, rel,
         sum(rel) OVER (PARTITION BY n_probe ORDER BY rk
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_rel
  FROM hit
),
agg AS (
  SELECT n_probe,
         CAST(sum(rel) AS BIGINT) AS hits_at_k,
         min(CASE WHEN rel = 1 THEN rk END) AS first_hit,
         CAST(sum(CASE WHEN rel = 1
                       THEN CAST(floor(CAST(cum_rel AS DOUBLE)
                                       / CAST(rk AS DOUBLE)
                                       * 100000000 + 1e-6) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS ap_q
  FROM cum GROUP BY 1
)
SELECT CAST(n_probe AS INT) AS n_probe, hits_at_k,
       CAST(floor(CAST(hits_at_k AS DOUBLE) / {float(TOP_K)!r}
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS p_at_k,
       CAST(floor(coalesce(1.0 / CAST(first_hit AS DOUBLE), 0.0)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS mrr,
       CAST(floor(CAST(ap_q AS DOUBLE) / 100000000.0 / {float(TOP_K)!r}
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS map_at_k
FROM agg
ORDER BY n_probe
"""


# ---------------------------------------------------------------------------
# Inter-centroid cosine matrix (R4-130, training:ann-confusability):
# which label pairs are CONFUSABLE — the IVF-health diagnostic that
# explains the recall/NDCG/MAP curves above (two near-parallel
# centroids mean probe-depth-1 routinely routes to the wrong cell) and
# the SemDeDup pre-read (a high-cosine centroid pair is where
# cross-cluster near-dups hide). Centroids are the same per-label
# component means the IVF audits use; the pair join runs on the K-row
# centroid table (K^2 bounded output), with each pair's cosine floored
# onto the 1e-4 grid.
# ---------------------------------------------------------------------------


def centroid_distance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label", F.posexplode(_as_double(F.col("embedding"))).alias("i", "cx")
    ).groupBy("label", "i").agg(F.avg("cx").alias("cx"))
    sizes = emb.groupBy(F.col("label").alias("s_label")).agg(
        F.count("*").cast("long").alias("n_vecs")
    )
    a = comp.select(
        F.col("label").alias("la"), "i", F.col("cx").alias("ax")
    )
    b = comp.select(
        F.col("label").alias("lb"), "i", F.col("cx").alias("bx")
    )
    pairs = (
        a.join(b, "i")
        .where(F.col("la") < F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.sum(F.col("ax") * F.col("bx")).alias("dot"),
            F.sqrt(F.sum(F.col("ax") * F.col("ax"))).alias("na"),
            F.sqrt(F.sum(F.col("bx") * F.col("bx"))).alias("nb"),
        )
    )
    out = (
        pairs.join(F.broadcast(sizes), F.col("la") == F.col("s_label"))
        .withColumnRenamed("n_vecs", "n_a")
        .drop("s_label")
        .join(F.broadcast(sizes), F.col("lb") == F.col("s_label"))
        .withColumnRenamed("n_vecs", "n_b")
        .drop("s_label")
    )
    return out.select(
        F.col("la").alias("label_a"),
        F.col("lb").alias("label_b"),
        "n_a",
        "n_b",
        floor_round(
            F.col("dot") / (F.col("na") * F.col("nb")), 4
        ).alias("centroid_cos"),
    ).orderBy("label_a", "label_b")


CENTROID_MATRIX_SQL = """
WITH comp AS (
  SELECT label, i, avg(CAST(x AS DOUBLE)) AS cx
  FROM (SELECT label, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings)
  GROUP BY 1, 2
),
sizes AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_vecs
  FROM embeddings GROUP BY 1
),
pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
         sum(a.cx * b.cx) AS dot,
         sqrt(sum(a.cx * a.cx)) AS na,
         sqrt(sum(b.cx * b.cx)) AS nb
  FROM comp a JOIN comp b ON a.i = b.i AND a.label < b.label
  GROUP BY 1, 2
)
SELECT p.label_a, p.label_b,
       x.n_vecs AS n_a, y.n_vecs AS n_b,
       CAST(floor(p.dot / (p.na * p.nb) * 10000 + 1e-6) / 10000
            AS DOUBLE) AS centroid_cos
FROM pairs p
JOIN sizes x ON x.label = p.label_a
JOIN sizes y ON y.label = p.label_b
ORDER BY label_a, label_b
"""


# ---------------------------------------------------------------------------
# Embedding norm profile per label (R4-132): the encoder-health check
# that precedes every cosine-based op above — a label whose L2 norms
# collapse toward 0 or spread wildly signals truncated inputs or
# mixed encoder versions (cosine silently hides magnitude pathologies;
# this surfaces them). Each vector's norm is ONE per-row double
# floored onto a 1e-4 grid, so the per-label moment sums are exact
# BIGINTs; mean/CV and min/max are closed forms per K-row output.
# ---------------------------------------------------------------------------


def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            _as_double(F.col("embedding")),
            F.lit(0.0),
            lambda acc, x: acc
            + _prof_clamp(x) * _prof_clamp(x),
        )
    )
    q = emb.select(
        "label",
        F.floor(norm * 10000 + 1e-6).cast("long").alias("nq"),
    )
    agg = q.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum("nq").cast("long").alias("s"),
        # decimal(38,0): exact integer sum without long's overflow
        # cliff (nq is clamp-bounded but nq**2 sums grow with corpus)
        F.sum((F.col("nq") * F.col("nq")).cast("decimal(38,0)"))
        .alias("ss"),
        F.min("nq").cast("long").alias("mn"),
        F.max("nq").cast("long").alias("mx"),
    )
    mu = F.col("s").cast("double") / F.col("n_vecs").cast("double")
    sd = F.sqrt(
        F.col("ss").cast("double") / F.col("n_vecs").cast("double")
        - mu * mu
    )
    return agg.select(
        "label",
        "n_vecs",
        floor_round(mu / 10000.0, 4).alias("mean_norm"),
        floor_round(sd / mu, 6).alias("cv_norm"),
        (F.col("mn").cast("double") / 10000).alias("min_norm"),
        (F.col("mx").cast("double") / 10000).alias("max_norm"),
    ).orderBy("label")


NORM_PROFILE_SQL = """
WITH q AS (
  SELECT label,
         CAST(floor(sqrt(list_sum(list_transform(embedding,
                x -> least(greatest(CAST(x AS DOUBLE), -1e3), 1e3)
                     * least(greatest(CAST(x AS DOUBLE), -1e3), 1e3))))
                    * 10000 + 1e-6) AS BIGINT) AS nq
  FROM embeddings
),
agg AS (
  SELECT label,
         CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(sum(nq) AS BIGINT) AS s,
         CAST(sum(nq * nq) AS HUGEINT) AS ss,
         CAST(min(nq) AS BIGINT) AS mn,
         CAST(max(nq) AS BIGINT) AS mx
  FROM q GROUP BY 1
)
SELECT label, n_vecs,
       CAST(floor(CAST(s AS DOUBLE) / CAST(n_vecs AS DOUBLE) / 10000.0
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS mean_norm,
       CAST(floor(sqrt(CAST(ss AS DOUBLE) / CAST(n_vecs AS DOUBLE)
                       - (CAST(s AS DOUBLE) / CAST(n_vecs AS DOUBLE))
                         * (CAST(s AS DOUBLE) / CAST(n_vecs AS DOUBLE)))
                  / (CAST(s AS DOUBLE) / CAST(n_vecs AS DOUBLE))
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS cv_norm,
       CAST(mn AS DOUBLE) / 10000 AS min_norm,
       CAST(mx AS DOUBLE) / 10000 AS max_norm
FROM agg
ORDER BY label
"""


# ---------------------------------------------------------------------------
# Per-dimension variance profile (R4-153): the second encoder-health
# leg next to the norm profile — a dimension whose variance collapses
# is DEAD (wasted index width), one that dominates skews every cosine;
# both are classic embedding-collapse symptoms. Components are floored
# onto a 1e-6 grid per row (one deterministic double each), so the
# per-dimension moment sums are exact BIGINTs; output is one row per
# dimension with mean/var and the dominance share var_d / Σvar.
# ---------------------------------------------------------------------------


def _dim_moments(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, Column, Column]:
    """Per-dimension moments of the embedding components, each floored
    onto the 1e-6 grid (``xq``): ``(agg, mu, var)`` where ``agg`` is
    ``(i, n, s, ss)`` with exact integer sums, ``mu`` the mean in grid
    units and ``var`` the variance in component units, as columns over
    ``agg``."""
    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(
        F.posexplode(_as_double(F.col("embedding"))).alias("i", "x")
    ).select(
        "i",
        F.floor(_prof_clamp(F.col("x")) * 1000000 + 1e-6)
        .cast("long")
        .alias("xq"),
    )
    agg = comp.groupBy("i").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xq").cast("long").alias("s"),
        F.sum((F.col("xq") * F.col("xq")).cast("decimal(38,0)"))
        .alias("ss"),
    )
    mu = F.col("s").cast("double") / F.col("n").cast("double")
    var = (
        F.col("ss").cast("double") / F.col("n").cast("double") - mu * mu
    ) / 1.0e12
    return agg, mu, var


def embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg, mu, var = _dim_moments(spark, sf_dir)
    scored = agg.select(
        F.col("i").cast("long").alias("dim"),
        floor_round(mu / 1000000.0, 6).alias("mean_c"),
        floor_round(var, 8).alias("var_c"),
        F.floor(var * 100000000 + 1e-6).cast("long").alias("vq"),
    )
    tot = scored.agg(F.sum("vq").cast("long").alias("v_total"))
    return (
        scored.crossJoin(F.broadcast(tot))
        .select(
            "dim",
            "mean_c",
            "var_c",
            floor_round(
                F.col("vq").cast("double")
                / F.col("v_total").cast("double"),
                6,
            ).alias("var_share"),
        )
        .orderBy("dim")
    )


DIM_VARIANCE_SQL = """
WITH comp AS (
  SELECT i, CAST(floor(least(greatest(CAST(x AS DOUBLE), -1e3), 1e3)
                       * 1000000 + 1e-6) AS BIGINT)
           AS xq
  FROM (SELECT unnest(embedding) AS x,
               generate_subscripts(embedding, 1) - 1 AS i
        FROM embeddings)
),
agg AS (
  SELECT i,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(xq) AS BIGINT) AS s,
         CAST(sum(xq * xq) AS HUGEINT) AS ss
  FROM comp GROUP BY 1
),
scored AS (
  SELECT CAST(i AS BIGINT) AS dim,
         CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0
                    * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS mean_c,
         CAST(floor((CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                     - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) / 1e12
                    * 100000000 + 1e-6) / 100000000 AS DOUBLE) AS var_c,
         CAST(floor((CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                     - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) / 1e12
                    * 100000000 + 1e-6) AS BIGINT) AS vq
  FROM agg
),
tot AS (SELECT CAST(sum(vq) AS BIGINT) AS v_total FROM scored)
SELECT dim, mean_c, var_c,
       CAST(floor(CAST(vq AS DOUBLE) / CAST(t.v_total AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS var_share
FROM scored, tot t
ORDER BY dim
"""


# ---------------------------------------------------------------------------
# MRR + ERR@K vs IVF probe depth (R4-172, training:ann-err-mrr): the
# two remaining canonical ranking metrics next to recall (R3-90), NDCG
# (R4-52) and MAP (R4-115). MRR grades "how fast does the FIRST true
# neighbor appear"; ERR (Chapelle 2009's expected reciprocal rank) is
# the cascade model — a user scans down, stops at a satisfying result
# with probability R_r = (2^g − 1)/2^gmax — which penalizes burying a
# highly-relevant result below mediocre ones more than DCG does.
# Relevance grades reuse the NDCG convention: g(v) = K − truth_rank + 1
# for the exact top-K, else 0 (gmax = K).
#
# Exactness: ERR's survival chain Π(1 − R_i) is a PRODUCT — unlike the
# DCG sum it cannot ride a floor grid — so the K-term cascade is
# UNROLLED into one fixed-order arithmetic expression over the K
# pivoted grade columns (max(CASE WHEN rk = i)); both engines execute
# the identical op sequence, so the doubles agree bit-for-bit before
# the final floor6. MRR is a single exact rational (1/first-hit-rank).
#
# Scale shape: the shared IVF-probe scaffolding (:func:`_ivf_probe`);
# the only state beyond it is the K-column pivot per probe depth (a bounded
# RECALL_MAX_PROBE × K grid).
# ---------------------------------------------------------------------------


def ann_err_mrr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth, topk = _ivf_probe(spark, sf_dir)
    g = F.coalesce(F.lit(TOP_K) - F.col("truth_rank") + 1, F.lit(0))
    pivoted = (
        topk.join(F.broadcast(truth), "vec_id", "left")
        .groupBy("n_probe")
        .agg(
            F.min(F.when(g > 0, F.col("rk"))).alias("first_hit"),
            *[
                F.coalesce(
                    F.max(F.when(F.col("rk") == i, g)), F.lit(0)
                ).cast("long").alias(f"g{i}")
                for i in range(1, TOP_K + 1)
            ],
        )
    )
    # unrolled cascade, fixed evaluation order (identical in the oracle)
    gmax_pow = float(2 ** TOP_K)
    err = F.lit(0.0)
    surv = F.lit(1.0)
    for r in range(1, TOP_K + 1):
        r_r = (F.pow(F.lit(2.0), F.col(f"g{r}").cast("double")) - 1.0) / gmax_pow
        err = err + surv * r_r / float(r)
        surv = surv * (1.0 - r_r)
    mrr = F.when(
        F.col("first_hit").isNotNull(),
        1.0 / F.col("first_hit").cast("double"),
    ).otherwise(F.lit(0.0))
    return pivoted.select(
        "n_probe",
        floor_round(mrr, 6).alias("mrr"),
        floor_round(err, 6).alias("err"),
    ).orderBy("n_probe")


def _err_sql_chain() -> str:
    """The identical unrolled cascade as SQL text (same op order)."""
    gmax_pow = float(2 ** TOP_K)
    err_terms = []
    surv = "1.0"
    for r in range(1, TOP_K + 1):
        r_r = f"((pow(2.0, CAST(g{r} AS DOUBLE)) - 1.0) / {gmax_pow!r})"
        err_terms.append(f"({surv}) * {r_r} / {float(r)!r}")
        surv = f"({surv}) * (1.0 - {r_r})"
    return " + ".join(err_terms)


ANN_ERR_MRR_SQL = f"""
WITH {_ivf_probe_sql("vec_id, t_rank AS truth_rank")},
graded AS (
  SELECT k.n_probe, k.rk,
         coalesce({TOP_K} - t.truth_rank + 1, 0) AS g
  FROM topk k LEFT JOIN truth t ON t.vec_id = k.vec_id
),
pivoted AS (
  SELECT n_probe,
         min(CASE WHEN g > 0 THEN rk END) AS first_hit,
         {", ".join(
             f"CAST(coalesce(max(CASE WHEN rk = {i} THEN g END), 0) "
             f"AS BIGINT) AS g{i}"
             for i in range(1, TOP_K + 1)
         )}
  FROM graded GROUP BY n_probe
)
SELECT CAST(n_probe AS INT) AS n_probe,
       CAST(floor(CASE WHEN first_hit IS NOT NULL
                       THEN 1.0 / CAST(first_hit AS DOUBLE)
                       ELSE 0.0 END * 1000000 + 1e-6) / 1000000
            AS DOUBLE) AS mrr,
       CAST(floor(({_err_sql_chain()}) * 1000000 + 1e-6) / 1000000
            AS DOUBLE) AS err
FROM pivoted
ORDER BY n_probe
"""


# ---------------------------------------------------------------------------
# Embedding effective dimensionality (R4-194, training:effective-dim):
# the one-number encoder-health read on top of the per-dimension
# variance profile (R4-152) — the participation ratio
# PR = (Σ_d v_d)² / Σ_d v_d², the standard "how many dimensions
# actually carry variance" statistic (PR = D for isotropic, → 1 for
# rank-collapsed embeddings; anisotropy/dimension-collapse is the
# known failure mode of contrastive encoders). Variances land on the
# shared 1e-8 integer grid, so the numerator square and denominator
# sum are EXACT BIGINTs ((Σvq)² ≤ ~4e17 at 64 dims — inside BIGINT,
# stated bound) and only the final ratio is a double.
#
# Scale shape: one posexplode → per-dim hash aggregate (64-row
# state) → one 3-number aggregate. Nothing else moves.
# ---------------------------------------------------------------------------


def embedding_effective_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg, _, var = _dim_moments(spark, sf_dir)
    scored = agg.select(
        F.floor(var * 100000000 + 1e-6).cast("long").alias("vq")
    )
    tot = scored.agg(
        F.count("*").cast("long").alias("n_dims"),
        F.sum("vq").cast("long").alias("sv"),
        # vq is clamp-bounded ~1e14, so vq**2 needs decimal width
        F.sum(F.col("vq").cast("decimal(38,0)") * F.col("vq"))
        .alias("svv"),
        F.max("vq").cast("long").alias("v_max"),
    )
    pr = (
        F.col("sv").cast("decimal(38,0)") * F.col("sv")
    ).cast("double") / F.col("svv").cast("double")
    return tot.select(
        "n_dims",
        floor_round(pr, 4).alias("effective_dim"),
        floor_round(pr / F.col("n_dims").cast("double"), 6).alias(
            "pr_ratio"
        ),
        floor_round(
            F.col("v_max").cast("double") / F.col("sv").cast("double"), 6
        ).alias("top_dim_var_share"),
    )


EFFECTIVE_DIM_SQL = """
WITH comp AS (
  SELECT i, CAST(floor(least(greatest(CAST(x AS DOUBLE), -1e3), 1e3)
                       * 1000000 + 1e-6) AS BIGINT)
           AS xq
  FROM (SELECT unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings)
),
agg AS (
  SELECT i, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(xq) AS BIGINT) AS s,
         CAST(sum(xq * xq) AS HUGEINT) AS ss
  FROM comp GROUP BY 1
),
scored AS (
  SELECT CAST(floor((CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                     - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                    / 1e12
                    * 100000000 + 1e-6) AS BIGINT) AS vq
  FROM agg
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_dims,
         CAST(sum(vq) AS BIGINT) AS sv,
         CAST(sum(CAST(vq AS HUGEINT) * vq) AS HUGEINT) AS svv,
         CAST(max(vq) AS BIGINT) AS v_max
  FROM scored
)
SELECT n_dims,
       CAST(floor(CAST(CAST(sv AS HUGEINT) * sv AS DOUBLE)
                  / CAST(svv AS DOUBLE)
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS effective_dim,
       CAST(floor(CAST(CAST(sv AS HUGEINT) * sv AS DOUBLE)
                  / CAST(svv AS DOUBLE)
                  / CAST(n_dims AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS pr_ratio,
       CAST(floor(CAST(v_max AS DOUBLE) / CAST(sv AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE)
         AS top_dim_var_share
FROM tot
"""


# ---------------------------------------------------------------------------
# LSH bits→width planning curve (R5-10): the index-design read behind
# the round-5 vector scale stress (BENCH/SCALE_STRESS_VEC_r05.json /
# docs/PLANS.md §22.3). For each candidate band-bit count, one row of
# bucket statistics over band 0: bucket count, max/mean width, and the
# self-join candidate-pair mass Σ w·(w−1)/2 — the quantity that is
# QUADRATIC in width and decides whether a pair-mining join survives
# the corpus (observed at 240k vectors: 8 bits → 110 s / 5.3 GB
# shuffle, 14 bits → 15 s / 367 MB, identical output). The rule the
# curve operationalizes: n_bits ≈ log2(N / target_width).
#
# Scale shape: widths are one hash agg per bit setting over the scan
# (bounded by the 2^bits key domain), the curve is ≤len(settings)
# rows. Mean width is floored on the 1e4 grid; everything else is
# exact BIGINT.
# ---------------------------------------------------------------------------

LSH_CURVE_BITS = (4, 6, 8)


def lsh_bits_width_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("embedding")
    return _width_curve(
        [
            (
                bits,
                emb.select(
                    F.element_at(
                        _hp_band_structs(
                            F.col("embedding"), n_bands=1, n_bits=bits
                        ),
                        1,
                    )["band_key"].alias("band_key")
                ),
            )
            for bits in LSH_CURVE_BITS
        ],
        "n_bits",
        "n_buckets",
    )


def _width_curve(
    keyed: list[tuple[int, DataFrame]], setting_col: str, count_col: str
) -> DataFrame:
    """One curve row per ``(setting, keys)``: the distinct-key count
    (``count_col``), max/mean width and the pair mass Σ w·(w−1)/2 of
    the groups ``keys`` (a one-column frame) falls into."""
    curves = []
    for setting, keys in keyed:
        widths = keys.groupBy(*keys.columns).agg(
            F.count("*").cast("long").alias("w")
        )
        curves.append(
            widths.agg(
                F.lit(setting).alias(setting_col),
                F.count("*").cast("long").alias(count_col),
                F.max("w").cast("long").alias("max_width"),
                F.sum("w").cast("long").alias("n_vecs"),
                F.sum(F.col("w") * (F.col("w") - 1) / 2)
                .cast("long")
                .alias("pair_mass"),
            )
        )
    out = curves[0]
    for c in curves[1:]:
        out = out.unionByName(c)
    return out.select(
        setting_col,
        count_col,
        "max_width",
        floor_round(
            F.col("n_vecs").cast("double") / F.col(count_col).cast("double"),
            4,
        ).alias("mean_width"),
        "pair_mass",
    ).orderBy(setting_col)


def _lsh_curve_sql_one(bits: int) -> str:
    terms = []
    for r in range(bits):
        j = r  # band 0: plane index = 0*bits + r
        plane = ", ".join(f"{math.sin((j + 1) * (i + 1))!r}" for i in range(DIMS))
        dot = (
            f"list_sum(list_transform(generate_series(1, {DIMS}), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ([{plane}])[i]))"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {2**r} ELSE 0 END)")
    key = "CAST(" + " + ".join(terms) + " AS BIGINT)"
    return f"""
  SELECT {bits} AS n_bits,
         CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(max(w) AS BIGINT) AS max_width,
         CAST(floor(CAST(sum(w) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                    * 10000 + 1e-6) / 10000 AS DOUBLE) AS mean_width,
         CAST(sum(w * (w - 1) / 2) AS BIGINT) AS pair_mass
  FROM (SELECT {key} AS band_key, CAST(count(*) AS BIGINT) AS w
        FROM embeddings GROUP BY 1)"""


LSH_BITS_CURVE_SQL = (
    "\nUNION ALL\n".join(_lsh_curve_sql_one(b) for b in LSH_CURVE_BITS)
    + "\nORDER BY n_bits"
)


# ---------------------------------------------------------------------------
# SemDeDup K→cluster-width audit (R5-11): the companion planning read
# for the OTHER quadratic knob the stress quantified (docs/PLANS.md
# §22.3) — the within-cluster pair join is quadratic in cluster
# WIDTH, so the seed count must grow with the corpus (K ≈
# N / target_width; at 245k vectors the graded toy K=8 would hand one
# task ~4.7e8 pair evaluations). For each candidate K: max/mean
# cluster width and the within-cluster pair mass Σ w·(w−1)/2, from
# the SAME nearest-seed assignment the graded semantic_dedup uses —
# so the curve predicts the real join's cost, not a proxy's.
#
# Scale shape: per K one K-row broadcast + one max(struct) hash agg
# (the whitelisted seed-join idiom) + one width hash agg bounded by
# K; output ≤len(settings) rows.
# ---------------------------------------------------------------------------

SEMDEDUP_CURVE_K = (2, 8, 32)


def semdedup_k_width_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .select("vec_id", "embedding",
                _norm_col(F.col("embedding")).alias("_n"))
    )
    keyed = []
    for k in SEMDEDUP_CURVE_K:
        seeds = F.broadcast(
            emb.filter(F.col("vec_id") < k).select(
                F.col("vec_id").cast("int").alias("seed_id"),
                F.col("embedding").alias("seed_emb"),
                F.col("_n").alias("_sn"),
            )
        )
        assigned = (
            emb.crossJoin(seeds)
            .select(
                "vec_id",
                "seed_id",
                F.coalesce(
                    _cosine_pre(
                        F.col("embedding"), F.col("seed_emb"),
                        F.col("_n"), F.col("_sn"),
                    ),
                    F.lit(-2.0),
                ).alias("cos_seed"),
            )
            .groupBy("vec_id")
            .agg(
                F.max(
                    F.struct(
                        F.col("cos_seed"), (-F.col("seed_id")).alias("nid")
                    )
                ).alias("w")
            )
            .select((-F.col("w")["nid"]).cast("int").alias("cluster"))
        )
        keyed.append((k, assigned))
    return _width_curve(keyed, "k_seeds", "n_clusters")


def _semdedup_curve_sql_one(k: int) -> str:
    return f"""
  SELECT {k} AS k_seeds,
         CAST(count(*) AS BIGINT) AS n_clusters,
         CAST(max(w) AS BIGINT) AS max_width,
         CAST(floor(CAST(sum(w) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                    * 10000 + 1e-6) / 10000 AS DOUBLE) AS mean_width,
         CAST(sum(w * (w - 1) / 2) AS BIGINT) AS pair_mass
  FROM (
    SELECT cluster, CAST(count(*) AS BIGINT) AS w
    FROM (
      SELECT vec_id,
             CAST(-(max(struct_pack(c := cos_seed, nid := -seed_id)).nid)
                  AS INT) AS cluster
      FROM (
        SELECT e.vec_id, s.seed_id,
               coalesce({_cosine_sql('e.embedding', 's.seed_emb')}, -2.0)
                 AS cos_seed
        FROM embeddings e
        CROSS JOIN (SELECT CAST(vec_id AS INT) AS seed_id,
                           embedding AS seed_emb
                    FROM embeddings WHERE vec_id < {k}) s
      )
      GROUP BY vec_id
    )
    GROUP BY cluster
  )"""


SEMDEDUP_K_AUDIT_SQL = (
    "\nUNION ALL\n".join(_semdedup_curve_sql_one(k) for k in SEMDEDUP_CURVE_K)
    + "\nORDER BY k_seeds"
)
