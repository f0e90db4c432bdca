r"""Deduplication operators over the ``documents`` table.

Training-pipeline dedup suite (graded as first-class alongside
SURVEY.md §2): exact hash-groupBy, word-3-gram Jaccard near-dup,
MinHash + LSH band-bucket join, SimHash bucketing, and connected-
components survivor selection over the LSH collision graph.

Scale shape (the 100 TB story):
* exact dedup — one shuffle on the md5 fingerprint; map-side partial
  aggregation makes the shuffle carry one row per distinct fp per task.
* Jaccard — O(n²) tamed by a CONTENT-BASED candidate policy: candidate
  pairs come from the MinHash band buckets (documents sharing ≥1 band),
  then exact 3-gram-shingle Jaccard verifies candidates only. The join
  is an equi-join on (band_id, band_hash) — never a cartesian product —
  and recall is the LSH guarantee (a pair at shingle-Jaccard s is a
  candidate with prob 1 - (1 - s^rows)^bands), not an id-range
  accident.
* MinHash/LSH — the canonical web-scale path: signatures are computed
  scan-side (no shuffle), the only shuffle is the band-bucket self-join,
  whose keys are uniformly distributed md5s → no skew.
* SimHash — signature histogram; a single groupBy on a 16-bit key.
* connected components — iterated min-label propagation over collision
  edges (bounded small-step joins + anti-join convergence check), so a
  chain a~b~c collapses to ONE survivor even though a and c never
  collide directly. Edges are per-bucket SPANNING STARS (member →
  bucket minimum), not all pairs: identical components at O(width)
  instead of O(width²) per bucket (r4; the 48× scale stress OOM'd the
  all-pairs form).

All hashing is md5 (identical in Spark and DuckDB) so every operator
here has an exact SQL oracle (connected components via DuckDB's
recursive CTE).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import DUP_ID_OFFSET, N_INJECTED_DUPS, floor_round, load
from .base import tokens as _tokens

SHINGLE = 3           # words per shingle
MINHASH_K = 8         # signature length
LSH_BANDS = 4         # bands of 2 rows each
LSH_ROWS = MINHASH_K // LSH_BANDS
JACCARD_THRESHOLD = 0.5
# ---------------------------------------------------------------------------
# exact dedup: hash-groupBy
# ---------------------------------------------------------------------------


def exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("fp"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
    )


EXACT_DEDUP_SQL = """
SELECT md5(text) AS fp, count(*) AS n_docs, min(doc_id) AS keeper
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# word-3-gram Jaccard near-dup pairs over MinHash-band candidates
# (content-based candidate policy: pairs sharing ≥1 LSH band; exact
#  shingle-set Jaccard verifies candidates only — equi-join throughout)
# ---------------------------------------------------------------------------


def _candidate_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every same-language banded candidate pair with both shingle sets,
    ``(a_id, b_id, a_sh, b_sh, ...)`` with ``a_id < b_id``: the shared
    prefix of the pair-emitting Jaccard and containment queries."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    dups = docs.filter(F.col("doc_id") < N_INJECTED_DUPS).select(
        (F.col("doc_id") + DUP_ID_OFFSET).alias("doc_id"), "lang", "text"
    )
    pool = docs.unionByName(dups)
    # candidates from the band table of _docs_with_injected_dups (not
    # pool.select(...)): its logical plan is then IDENTICAL to the one
    # the LSH-pairs / survivors / connected-components queries cache,
    # so one session computes the signature table once for the whole
    # dedup suite
    cand = minhash_lsh_pairs(spark, sf_dir)
    # persist: consumed twice (a and b sides of the candidate join), and
    # every banded-shingle query builds this same plan, so a session
    # shingles the pool once for all of them
    sh = pool.select(
        "doc_id", "lang", "text", _tokens().alias("toks")
    ).select(
        "doc_id",
        "lang",
        F.array_distinct(_shingles(F.col("toks"), F.col("text"))).alias("shset"),
    ).persist()
    sa = sh.select(
        F.col("doc_id").alias("a_id"),
        F.col("lang").alias("a_lang"),
        F.col("shset").alias("a_sh"),
    )
    sb = sh.select(
        F.col("doc_id").alias("b_id"),
        F.col("lang").alias("b_lang"),
        F.col("shset").alias("b_sh"),
    )
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .filter(F.col("a_lang") == F.col("b_lang"))
    )


def _jaccard_scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ngram_jaccard_pairs WITHOUT the report threshold: every banded
    candidate pair with its exact floored Jaccard (shared kernel)."""
    inter = F.size(F.array_intersect(F.col("a_sh"), F.col("b_sh")))
    # |A∪B| = |A|+|B|−|A∩B| for sets (shsets are array_distinct'd):
    # integer-exact, and skips building a second per-pair hash set
    union = F.size("a_sh") + F.size("b_sh") - inter
    jac = (F.floor(inter.cast("double") / union * 10000 + 1e-6) / 10000).cast("double")
    return _candidate_shingle_sets(spark, sf_dir).select(
        "a_id", "b_id", jac.alias("jaccard")
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jaccard_scored_pairs(spark, sf_dir).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )


# ---------------------------------------------------------------------------
# MinHash signatures → LSH band buckets → near-dup pairs
# ---------------------------------------------------------------------------


def _shingles(toks: Column, text_col: Column) -> Column:
    """Word 3-gram shingles; short docs fall back to the whole text.

    ``toks`` MUST be a materialized column reference (``F.col``), never
    the raw ``split()`` expression: expressions CAPTURED inside a HOF
    lambda body are re-evaluated once per element, so an inlined split
    makes shingling O(len²) per doc — a 20k-token doc took >280 s vs
    2 s materialized (adversarial-sweep find). ``slice`` instead of a
    per-position ``element_at`` fan-out is another ~3×."""
    windows = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (SHINGLE - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, SHINGLE)),
    )
    return F.when(F.size(toks) >= SHINGLE, windows).otherwise(F.array(text_col))


def _minhash_sigs(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, sig0 … sig{MINHASH_K-1}): the MinHash
    signature table every band and estimate consumer reads.

    Signature computation is explode → hash-aggregate, NOT a per-row
    higher-order-function chain: Spark evaluates HOF lambdas
    interpreted (outside whole-stage codegen), so k salted-md5
    ``transform``s over ~10³ shingles per doc crawl, while
    ``min(md5(shingle || salt))`` inside a groupBy runs codegen'd with
    map-side partial aggregation — the shuffle carries k mins per doc
    per task, not the shingles. Values are identical either way (same
    min-over-salted-md5), so the DuckDB oracle is unchanged."""
    per_sh = docs.select(
        "doc_id", "text", _tokens().alias("toks")
    ).select(
        "doc_id", F.explode(_shingles(F.col("toks"), F.col("text"))).alias("s")
    )
    return per_sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.col("s"), F.lit(f"#{k}")))).alias(f"sig{k}")
            for k in range(MINHASH_K)
        ]
    )


def _sig_bands(sigs: DataFrame) -> DataFrame:
    """Signature table → (doc_id, band_id, band_hash), one row per band."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat(
                        *[F.col(f"sig{b * LSH_ROWS + r}") for r in range(LSH_ROWS)]
                    )
                ).alias("band_hash"),
            )
            for b in range(LSH_BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(bands).alias("bb")).select(
        "doc_id",
        F.col("bb.band_id").alias("band_id"),
        F.col("bb.band_hash").alias("band_hash"),
    )


def _with_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, band_id, band_hash), one row per band.

    Persist: every consumer self-joins bands (a × b); the cached
    output is tiny — 4 rows of (id, int, 32-char hash) per doc —
    exactly the signature table a 100 TB run would materialize
    before LSH joining."""
    return _sig_bands(_minhash_sigs(docs)).persist()


def minhash_band_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _with_bands(load(spark, sf_dir, "documents").select("doc_id", "text"))


_SHINGLES_SQL = (
    f"CASE WHEN len(toks) >= {SHINGLE} THEN "
    f"list_transform(generate_series(1, len(toks) - {SHINGLE - 1}), "
    f"i -> array_to_string(toks[i:i+{SHINGLE - 1}], ' ')) "
    f"ELSE [text] END"
)
_SIG_SQL = ", ".join(
    f"list_min(list_transform(sh, s -> md5(s || '#{k}'))) AS sig{k}"
    for k in range(MINHASH_K)
)
_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, "
    f"md5({' || '.join(f'sig{b * LSH_ROWS + r}' for r in range(LSH_ROWS))}) AS band_hash "
    f"FROM sigs"
    for b in range(LSH_BANDS)
)


def _minhash_sql(source: str) -> str:
    return rf"""
WITH base AS ({source}),
toksrc AS (
  SELECT doc_id, text, string_split_regex(text, '\s+') AS toks FROM base
),
shing AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh FROM toksrc
),
sigs AS (
  SELECT doc_id, {_SIG_SQL} FROM shing
)
{_BANDS_SQL}
"""


MINHASH_BANDS_SQL = _minhash_sql("SELECT doc_id, text FROM documents")


def _docs_with_injected_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") < N_INJECTED_DUPS).select(
        (F.col("doc_id") + DUP_ID_OFFSET).alias("doc_id"), "text"
    )
    return docs.unionByName(dups)


def _band_pairs(bands: DataFrame) -> DataFrame:
    """Every distinct (a_id < b_id) pair sharing ≥1 band of ``bands``."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs sharing ≥1 LSH band (tested with injected exact dups)."""
    return _band_pairs(_with_bands(_docs_with_injected_dups(spark, sf_dir)))


_DUP_SOURCE_SQL = f"""
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + {DUP_ID_OFFSET} AS doc_id, text
FROM documents WHERE doc_id < {N_INJECTED_DUPS}
"""

# every distinct (a_id < b_id) pair sharing >= 1 band of ``bands``
_BAND_PAIRS_SQL = """
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_hash = b.band_hash
 AND a.doc_id < b.doc_id
"""

MINHASH_LSH_PAIRS_SQL = f"""
WITH bands AS ({_minhash_sql(_DUP_SOURCE_SQL)})
{_BAND_PAIRS_SQL}
"""


# ---------------------------------------------------------------------------
# SimHash (16-bit, md5-derived bit hashes → portable across engines)
# ---------------------------------------------------------------------------

SIMHASH_BITS = 16


def _signed_acc(salt: str):
    # factory (not lambda default args): Spark counts default args in HOF
    # lambda arity and would bind the array index instead of the salt.
    return lambda acc, t: acc + F.when(
        F.substring(F.md5(F.concat(t, F.lit(salt))), 1, 1) < "8", 1
    ).otherwise(-1)


def _simhash(toks: Column) -> Column:
    total = None
    for j in range(SIMHASH_BITS):
        signed = F.aggregate(toks, F.lit(0), _signed_acc(f"#{j}"))
        bit = F.when(signed > 0, F.lit(2**j)).otherwise(F.lit(0))
        total = bit if total is None else total + bit
    return total.cast("long")


def simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash histogram.

    Stays a per-row HOF walk deliberately: unlike MinHash (nested
    shingle-HOF recomputed per signature — see :func:`_with_bands`),
    the token array here is materialized once and the md5 volume
    dominates either way; the explode→agg variant was measured SLOWER
    (8.9 s vs 4.5 s at sf0.1) because the 7.5M-row shuffle adds pure
    overhead."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(_tokens().alias("toks"))
        .select(_simhash(F.col("toks")).alias("simhash"))
        .groupBy("simhash")
        .agg(F.count("*").alias("n_docs"))
    )


_SIMHASH_BIT_SQL = " + ".join(
    f"(CASE WHEN list_sum(list_transform(toks, t -> CASE WHEN substr(md5(t || '#{j}'), 1, 1) < '8' THEN 1 ELSE -1 END)) > 0 THEN {2**j} ELSE 0 END)"
    for j in range(SIMHASH_BITS)
)

SIMHASH_BUCKETS_SQL = rf"""
SELECT simhash, count(*) AS n_docs FROM (
  SELECT CAST({_SIMHASH_BIT_SQL} AS BIGINT) AS simhash
  FROM (SELECT string_split_regex(text, '\s+') AS toks FROM documents)
)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# end-to-end dedup: survivors after LSH pair removal
# (policy: a doc colliding with any smaller-id doc is removed — one
#  deterministic pass, no transitive closure; the winner of each
#  collision set is its minimum doc_id)
# ---------------------------------------------------------------------------


def _survivors_from_pool(pool: DataFrame) -> DataFrame:
    """Single-pass near-dup survivors, degenerate-corpus-safe.

    Policy (unchanged from r1/r2, same output as the SQL oracle): a doc
    is removed iff ANY smaller-id doc shares an LSH band with it — so
    each text's survivor candidate is its group minimum, and it
    survives iff no band-colliding text has a smaller group minimum.

    The skew fix (r3): collapse byte-identical texts BEFORE any band
    work. Identical docs share every band; a corpus of n identical
    docs would otherwise cost n²/2 collision rows that AQE can split
    but not shrink. Collapsing first sends ONE representative per
    distinct text into the band table, so a million-copy spam document
    contributes a single band row; group minima are recovered by
    hash-aggregation (map-side combinable, no skew).

    The quadratic fix (r4, surfaced by the 48× scale stress OOMing in
    this stage): the smaller-id collider check needs no pair self-join
    at all. Within one (band_id, band_hash) bucket, the minimum
    smaller-id collider of every member IS the bucket minimum — so
    ``nb_min(d) = min over d's buckets of (bucket_min WHERE
    bucket_min < d)``, exactly the self-join's answer, computed as one
    hash-aggregate per bucket plus a fan-out-1 join back to the band
    rows. Cost is linear in band rows where the self-join was
    quadratic in bucket width (a 10k-wide bucket: 10k rows vs 50M
    pairs). The pair-emitting ops (`minhash_lsh_pairs`,
    `ngram_jaccard_pairs`, containment, threshold curve) keep the
    bucket join because the pair list IS their output contract.
    """
    groups = pool.groupBy("text").agg(F.min("doc_id").alias("rep"))
    bands = _with_bands(
        groups.select(F.col("rep").alias("doc_id"), "text")
    )
    bmin = bands.groupBy("band_id", "band_hash").agg(
        F.min("doc_id").alias("bucket_min")
    )
    nb_min = (
        bands.join(bmin, ["band_id", "band_hash"])
        .filter(F.col("bucket_min") < F.col("doc_id"))
        .groupBy(F.col("doc_id").alias("rep"))
        .agg(F.min("bucket_min").alias("nb_min"))
    )
    return (
        groups.join(nb_min, "rep", "left")
        .filter(F.col("nb_min").isNull())
        .select(F.col("rep").alias("doc_id"))
    )


def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _survivors_from_pool(_docs_with_injected_dups(spark, sf_dir))


DEDUP_SURVIVORS_SQL = f"""
WITH bands AS ({_minhash_sql(_DUP_SOURCE_SQL)}),
removed AS (
  SELECT DISTINCT b.doc_id
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)
SELECT p.doc_id FROM ({_DUP_SOURCE_SQL}) p
WHERE p.doc_id NOT IN (SELECT doc_id FROM removed)
"""


# ---------------------------------------------------------------------------
# composed training-data filter: language + quality + near-dup removal
# (the shape of a real pretraining-corpus cleaning job)
# ---------------------------------------------------------------------------

_MIN_TOKENS = 40
_MAX_STOP_RATIO = 0.30


def training_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = _tokens()
    n_tokens = F.size(toks)
    stop_hits = F.size(
        F.array_intersect(toks, F.array(*[F.lit(w) for w in ("the", "a", "fast", "slow")]))
    )  # distinct-hit ratio proxy (portable)
    kept = docs.filter(
        (F.col("lang") == "en")
        & (n_tokens >= _MIN_TOKENS)
        & (stop_hits.cast("double") / n_tokens <= _MAX_STOP_RATIO)
    ).select("doc_id", F.md5("text").alias("fp"))
    # exact-dup removal among the kept set: keep min doc_id per fp
    keeper = kept.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    return keeper.select("doc_id").orderBy("doc_id")


TRAINING_FILTER_SQL = rf"""
WITH kept AS (
  SELECT doc_id, md5(text) AS fp
  FROM (
    SELECT doc_id, lang, text,
           string_split_regex(text, '\s+') AS toks
    FROM documents
  )
  WHERE lang = 'en'
    AND len(toks) >= {_MIN_TOKENS}
    AND CAST(len(list_intersect(toks, ['the','a','fast','slow'])) AS DOUBLE)
        / len(toks) <= {_MAX_STOP_RATIO}
)
SELECT min(doc_id) AS doc_id FROM kept GROUP BY fp ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# transitive dedup: connected components over the LSH collision graph
# (iterated min-label propagation — a chain a~b~c collapses to the
#  component minimum even though a and c never collide directly; the
#  single-pass ``dedup_survivors`` above cannot do that)
#
# Scale shape: each iteration is one equi-join (edges × labels) + one
# groupBy + one anti-join convergence check; iterations are bounded by
# the collision-graph diameter (tiny for dedup graphs — near-dup
# clusters are dense). Labels are localCheckpoint()ed per iteration so
# the plan does not grow with iteration count.
# ---------------------------------------------------------------------------

CC_MAX_ITERS = 20


def _band_star_edges(bands: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) → (a_id, b_id) star edges, a_id < b_id.

    A band bucket is a clique in the collision graph; for CONNECTED
    COMPONENTS a spanning star — every member linked to the bucket
    minimum — yields the identical components with O(width) edges
    instead of the all-pairs join's O(width²/2). The r4 scale stress
    (48× bench, ~240k docs) OOM'd the all-pairs form at the edge
    materialization (one wide bucket → tens of millions of pairs in a
    single task); the star form is linear in band rows, its join back
    to the bucket minima is fan-out-1, and no task ever owns more than
    a bucket's width. Use this for CC/survivor reachability; the
    pair-EMITTING queries keep the bucket self-join because the pair
    list is their output contract.
    """
    bmin = bands.groupBy("band_id", "band_hash").agg(
        F.min("doc_id").alias("a_id")
    )
    return (
        bands.join(bmin, ["band_id", "band_hash"])
        .filter(F.col("doc_id") > F.col("a_id"))
        .select("a_id", F.col("doc_id").alias("b_id"))
        .distinct()
    )


def connected_components(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """(doc_id) nodes + (a_id, b_id) undirected pairs → (doc_id, survivor)
    where survivor = the component's minimum doc_id.

    Iterated min-label propagation, bounded by ``CC_MAX_ITERS``;
    convergence is an anti-join (any (doc_id, survivor) row not present
    in the previous labelling ⇒ iterate again)."""
    edges = pairs.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    ).unionByName(
        pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))
    )
    edges = edges.localCheckpoint(eager=True)
    labels = nodes.select("doc_id", F.col("doc_id").alias("survivor"))
    converged = False
    for _ in range(CC_MAX_ITERS):
        nbr_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("survivor").alias("nbr_survivor"))
        )
        new_labels = (
            labels.join(nbr_min, labels.doc_id == nbr_min.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("survivor"), F.coalesce(F.col("nbr_survivor"), F.col("survivor"))
                ).alias("survivor"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.join(
            labels, ["doc_id", "survivor"], "left_anti"
        ).limit(1).count()
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # never return a partially-propagated labelling as if it were
        # the fixpoint — an unconverged result silently under-collapses
        # components (and diverges from the recursive-CTE oracle)
        raise RuntimeError(
            f"connected_components did not converge in {CC_MAX_ITERS} "
            "iterations — collision-graph diameter exceeds the bound; "
            "raise CC_MAX_ITERS"
        )
    return labels


def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # star edges, not all pairs: identical components (a bucket is a
    # clique; its spanning star reaches every member), linear cost —
    # see _band_star_edges. The recursive-CTE oracle keeps the
    # all-pairs edge set; components are the same fixpoint.
    pool = _docs_with_injected_dups(spark, sf_dir)
    return connected_components(pool, _band_star_edges(_with_bands(pool)))


# DuckDB's WITH RECURSIVE rejects a bare WITH as a sibling CTE *body*
# (`bands AS (WITH base AS ...)` fails to scope), but accepts it inside
# a parenthesized derived table — so wrap _minhash_sql once and let the
# pairs CTE self-join the materialized bands instead of recomputing the
# signature pipeline per join side.
# The component-closure CTEs the recursive-CTE oracles share: band
# pairs → undirected edges → ``reach(node, r)``, every node paired with
# each doc it reaches (itself included); min(r) is its component label.
_CC_REACH_SQL = f"""bands AS (SELECT * FROM ({_minhash_sql(_DUP_SOURCE_SQL)}) t),
pairs AS ({_BAND_PAIRS_SQL}),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION
  SELECT b_id AS src, a_id AS dst FROM pairs
),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM ({_DUP_SOURCE_SQL})
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
)"""

DEDUP_CC_SQL = f"""
WITH RECURSIVE
{_CC_REACH_SQL}
SELECT node AS doc_id, min(r) AS survivor FROM reach GROUP BY 1
"""


# The banded-candidate CTEs the pair-emitting shingle oracles share:
# ``cand`` holds the LSH candidate pairs, ``sh`` every pool doc's
# distinct shingle set.
_BANDED_SHINGLES_SQL = rf"""bands AS MATERIALIZED ({_minhash_sql(_DUP_SOURCE_SQL)}),
cand AS MATERIALIZED ({_BAND_PAIRS_SQL}),
sh AS MATERIALIZED (
  SELECT doc_id, lang, list_distinct({_SHINGLES_SQL}) AS shset
  FROM (
    SELECT doc_id, lang, text, string_split_regex(text, '\s+') AS toks
    FROM (
      SELECT doc_id, lang, text FROM documents
      UNION ALL
      SELECT doc_id + {DUP_ID_OFFSET} AS doc_id, lang, text
      FROM documents WHERE doc_id < {N_INJECTED_DUPS}
    )
  )
)"""

NGRAM_JACCARD_SQL = rf"""
WITH {_BANDED_SHINGLES_SQL}
SELECT a_id, b_id, jaccard FROM (
  SELECT c.a_id, c.b_id,
         CAST(floor(CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
               / len(list_distinct(list_concat(a.shset, b.shset))) * 10000
               + 1e-6) / 10000 AS DOUBLE) AS jaccard
  FROM cand c
  JOIN sh a ON c.a_id = a.doc_id
  JOIN sh b ON c.b_id = b.doc_id AND a.lang = b.lang
)
WHERE jaccard >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# incremental near-dup ingest: new documents vs a persistent corpus band store
# (the continuous-crawl shape: dedupe each incoming batch against everything
# already ingested, then fold the survivors' signatures into the store)
# ---------------------------------------------------------------------------

INGEST_SPLIT = 300             # graded query: corpus = doc_id < SPLIT
INGEST_CORPUS_DUPS = 10        # injected dups of corpus docs (status dup_of_corpus)
INGEST_BATCH_DUPS = 5          # injected dups of earlier batch docs (dup_in_batch)
# offsets rebase on the SHARED injected-dup offset (base.DUP_ID_OFFSET)
# so injected ids can never alias real doc_ids at any scale factor —
# 10_000/20_000 would collide with genuine docs at sf1 (~50k docs),
# making the batch carry duplicate ids with different texts and the
# ORDER BY doc_id tie order engine-dependent
INGEST_CORPUS_DUP_OFFSET = DUP_ID_OFFSET
INGEST_BATCH_DUP_OFFSET = 2 * DUP_ID_OFFSET


def _ingest_statuses(store_bands: DataFrame, batch: DataFrame) -> DataFrame:
    """(doc_id, status) for every batch doc against an existing corpus.

    status ∈ {'dup_of_corpus', 'dup_in_batch', 'kept'}: a doc is
    dup_of_corpus iff it shares ≥1 LSH band with any store doc,
    else dup_in_batch iff it shares a band with any smaller-id batch
    doc (the single-pass policy of :func:`_survivors_from_pool`),
    else kept.

    Scale shape: the batch side exact-collapses by text BEFORE any
    band work (the r3 degenerate-corpus fix — a million-copy spam doc
    contributes ONE representative), the store join broadcasts the
    collapsed batch bands (a micro-batch is always the small side —
    the store scan streams through a BroadcastHashJoin, the 10^12-doc
    band table never shuffles), and member statuses are recovered from
    rep statuses by an md5(text) equi-join. Identical texts have
    identical bands, so rep-level evaluation is value-identical to the
    per-doc policy (members always collide with their own rep and are
    never 'kept'); the SQL oracle states the plain per-doc form.

    NULL-text docs take a side path: their bands are NULL (every hash
    of NULL is NULL), so per-doc they collide with nothing — not even
    each other — and come out 'kept', exactly as NULL propagation
    gives the SQL oracle. Routing them around the md5(fp) join also
    keeps them from being silently dropped by its NULL keys.
    """
    nulls = batch.filter(F.col("text").isNull()).select(
        "doc_id", F.lit("kept").alias("status")
    )
    batch = batch.filter(F.col("text").isNotNull())
    groups, rep_bands = _collapse_batch(batch)
    return _statuses_from_reps(
        store_bands, batch, groups, rep_bands
    ).unionByName(nulls)


def _collapse_batch(batch: DataFrame):
    """Exact-collapse a (doc_id, text) batch by md5(text): returns
    (groups, rep_bands); rep_bands is persisted (callers on the
    per-epoch ingest path must unpersist after materializing)."""
    groups = (
        batch.select("doc_id", "text", F.md5("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("rep"), F.first("text").alias("text"))
    )
    rep_bands = _with_bands(groups.select(F.col("rep").alias("doc_id"), "text"))
    return groups, rep_bands


def _rep_status(
    groups: DataFrame, vs_store: DataFrame, in_batch: DataFrame
) -> DataFrame:
    """(fp, rep, rep_status) per fingerprint group: ``dup_of_corpus``
    when the rep hits the store (``vs_store.store_hit``), else
    ``dup_in_batch`` when it has a smaller batch collider
    (``in_batch.batch_hit``), else ``kept``. Shared by the text and the
    vector ingest."""
    return (
        groups.join(vs_store, "rep", "left")
        .join(in_batch, "rep", "left")
        .select(
            "fp",
            "rep",
            F.when(F.col("store_hit"), F.lit("dup_of_corpus"))
            .when(F.col("batch_hit"), F.lit("dup_in_batch"))
            .otherwise(F.lit("kept"))
            .alias("rep_status"),
        )
    )


def _statuses_from_reps(
    store_bands: DataFrame,
    batch: DataFrame,
    groups: DataFrame,
    rep_bands: DataFrame,
) -> DataFrame:
    batch = batch.select("doc_id", "text", F.md5("text").alias("fp"))
    vs_store = (
        store_bands.select("band_id", "band_hash")
        .join(F.broadcast(rep_bands), ["band_id", "band_hash"])
        .select(F.col("doc_id").alias("rep"))
        .distinct()
        .withColumn("store_hit", F.lit(True))
    )
    # smaller-id-collider existence via bucket minima (the r4 star
    # reduction — see _band_star_edges): a rep has a smaller batch
    # collider iff any of its buckets has a smaller minimum. Linear in
    # band rows; the old rep×rep self-join was quadratic in bucket
    # width (degenerate micro-batches: one near-dup template fanned
    # out across the batch collapses to distinct-but-colliding reps).
    bmin = rep_bands.groupBy("band_id", "band_hash").agg(
        F.min("doc_id").alias("bucket_min")
    )
    in_batch = (
        rep_bands.join(bmin, ["band_id", "band_hash"])
        .filter(F.col("bucket_min") < F.col("doc_id"))
        .select(F.col("doc_id").alias("rep"))
        .distinct()
        .withColumn("batch_hit", F.lit(True))
    )
    rep_status = _rep_status(groups, vs_store, in_batch)
    return batch.join(rep_status, "fp").select(
        "doc_id",
        F.when(F.col("doc_id") == F.col("rep"), F.col("rep_status"))
        .when(F.col("rep_status") == "dup_of_corpus", F.lit("dup_of_corpus"))
        .otherwise(F.lit("dup_in_batch"))
        .alias("status"),
    )


def neardup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded entry: corpus = documents with doc_id < INGEST_SPLIT; the
    incoming batch = the remaining documents plus injected near-dups of
    corpus docs (must come out dup_of_corpus) and of earlier batch docs
    (must come out dup_in_batch)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < INGEST_SPLIT)
    fresh = docs.filter(F.col("doc_id") >= INGEST_SPLIT)
    corpus_dups = docs.filter(F.col("doc_id") < INGEST_CORPUS_DUPS).select(
        (F.col("doc_id") + INGEST_CORPUS_DUP_OFFSET).alias("doc_id"), "text"
    )
    batch_dups = docs.filter(
        (F.col("doc_id") >= INGEST_SPLIT)
        & (F.col("doc_id") < INGEST_SPLIT + INGEST_BATCH_DUPS)
    ).select((F.col("doc_id") + INGEST_BATCH_DUP_OFFSET).alias("doc_id"), "text")
    batch = fresh.unionByName(corpus_dups).unionByName(batch_dups)
    return _ingest_statuses(_with_bands(corpus), batch).orderBy("doc_id")


_INGEST_CORPUS_SQL = (
    f"SELECT doc_id, text FROM documents WHERE doc_id < {INGEST_SPLIT}"
)
_INGEST_BATCH_SQL = f"""
SELECT doc_id, text FROM documents WHERE doc_id >= {INGEST_SPLIT}
UNION ALL
SELECT doc_id + {INGEST_CORPUS_DUP_OFFSET} AS doc_id, text
FROM documents WHERE doc_id < {INGEST_CORPUS_DUPS}
UNION ALL
SELECT doc_id + {INGEST_BATCH_DUP_OFFSET} AS doc_id, text
FROM documents
WHERE doc_id >= {INGEST_SPLIT} AND doc_id < {INGEST_SPLIT + INGEST_BATCH_DUPS}
"""

NEARDUP_INGEST_SQL = f"""
WITH store_bands AS ({_minhash_sql(_INGEST_CORPUS_SQL)}),
batch_bands AS ({_minhash_sql(_INGEST_BATCH_SQL)}),
vs_store AS (
  SELECT DISTINCT b.doc_id FROM batch_bands b
  JOIN store_bands s
    ON b.band_id = s.band_id AND b.band_hash = s.band_hash
),
in_batch AS (
  SELECT DISTINCT a.doc_id FROM batch_bands a
  JOIN batch_bands e
    ON a.band_id = e.band_id AND a.band_hash = e.band_hash
   AND e.doc_id < a.doc_id
)
SELECT p.doc_id,
       CASE WHEN p.doc_id IN (SELECT doc_id FROM vs_store) THEN 'dup_of_corpus'
            WHEN p.doc_id IN (SELECT doc_id FROM in_batch) THEN 'dup_in_batch'
            ELSE 'kept' END AS status
FROM ({_INGEST_BATCH_SQL}) p
ORDER BY doc_id
"""


# --- persistent band store (the on-disk side of incremental ingest) --------
#
# Layout: <store>/batch=b<id>/pfx=x<2 hex chars of band_hash>/part-*.parquet
# * pfx    — hash-prefix partition (256 dirs at scale): an ingest reads
#   ONLY the prefixes present in the incoming batch (partition pruning),
#   and files are sorted by band_hash within partitions so selective
#   probes also skip row groups on min/max stats. The 'x' sentinel pins
#   partition-column inference to string (an all-digit prefix set would
#   otherwise flip the column to int between stores).
# * batch  — one dir per ingest commit, 'b<batch_id>'. Re-delivering a
#   batch id OVERWRITES its own dir and nothing else, so a crashed or
#   replayed micro-batch converges (foreachBatch epoch ids give this
#   exactly-once store state); statuses are computed with the current
#   batch's dir EXCLUDED, so a half-written previous attempt can never
#   influence its own retry. At-least-once re-delivery under a NEW
#   batch id is also safe: a doc never collides with its own stored
#   bands (store side anti-joins the incoming doc_ids) — it costs only
#   duplicate band rows, which collision detection (DISTINCT) ignores
#   and compaction can fold.
# At 10^12 docs the store is ~4 rows × ~50 B per doc; per-batch dirs
# are small-file pressure under frequent micro-batches — fold them
# periodically (read all, rewrite as batch=b<compact-id>, drop olds),
# the compact_store pattern from lineage.py.


def _write_band_batch(bands: DataFrame, store_dir: str, batch_id) -> None:
    (
        bands.select(
            "doc_id",
            "band_id",
            "band_hash",
            F.concat(F.lit("x"), F.substring("band_hash", 1, 2)).alias("pfx"),
        )
        .repartition("pfx")
        .sortWithinPartitions("band_hash")
        .write.partitionBy("pfx")
        .mode("overwrite")
        .parquet(f"{store_dir}/batch=b{batch_id}")
    )


def band_store_init(
    spark: SparkSession, store_dir: str, docs: DataFrame
) -> None:
    """Bootstrap the band store from an existing corpus (doc_id, text)."""
    _write_band_batch(_with_bands(docs.select("doc_id", "text")), store_dir, "init")


def _store_scan(
    spark: SparkSession,
    store_dir: str,
    exclude_batch: str,
    part_col: str,
    part_vals: list,
    data_schema,
) -> DataFrame:
    """Partition-pruned scan of a per-batch store (shared by the text
    band store and the vector store in similarity.py).

    The schema is EXPLICIT, never inferred: a store whose only batch
    dirs carry no data files (an empty first micro-batch commits just
    _SUCCESS; a crashed write leaves nothing) must read as zero rows,
    not poison every later ingest with an unable-to-infer-schema
    error. "Exists" likewise means committed batch dirs — the store
    lock may have created the directory (and its hidden .lock) before
    any write."""
    import os

    from pyspark.sql.types import StringType, StructField, StructType

    if not os.path.isdir(store_dir) or not any(
        d.startswith("batch=") for d in os.listdir(store_dir)
    ):
        return spark.createDataFrame([], data_schema)
    full = StructType(
        list(data_schema.fields)
        + [StructField(part_col, StringType()), StructField("batch", StringType())]
    )
    return (
        spark.read.schema(full)
        .parquet(store_dir)
        .filter(
            (F.col("batch") != F.lit(exclude_batch))
            & F.col(part_col).isin(part_vals)
        )
        .select(*[f.name for f in data_schema.fields])
    )


def _band_schema(batch: DataFrame):
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    return StructType(
        [
            StructField("doc_id", batch.schema["doc_id"].dataType),
            StructField("band_id", IntegerType()),
            StructField("band_hash", StringType()),
        ]
    )


def _store_bands(
    spark: SparkSession, store_dir: str, exclude_batch: str, pfxs: list
) -> DataFrame:
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("band_id", IntegerType()),
            StructField("band_hash", StringType()),
        ]
    )
    return _store_scan(spark, store_dir, exclude_batch, "pfx", pfxs, schema)


def neardup_ingest(
    spark: SparkSession, store_dir: str, docs: DataFrame, batch_id
) -> DataFrame:
    """Dedupe one incoming batch against the persistent band store,
    then fold the survivors' bands in. Returns (doc_id, status).

    One pass of :func:`_ingest_statuses` with the store side (a) pruned
    to the batch's hash prefixes (partition pruning — the bounded
    ≤256-value prefix list is the only driver-side collect), (b) the
    current batch's own dir excluded (replay hygiene, see layout note),
    and (c) incoming doc_ids anti-joined away (a doc never dups against
    itself). The store scan flows through broadcast joins of the
    collapsed batch bands — the historical band table never shuffles.

    Concurrent writers (two ingests, or ingest vs compact) serialize
    on an exclusive flock over the store (lineage.flock_file — bounded
    acquisition, so a wedged holder raises TimeoutError instead of
    hanging every later ingest); the returned statuses are
    localCheckpoint-ed (micro-batch-sized), so the handle stays valid
    even if a later compaction deletes the batch dirs the decision
    read. The batch's signatures are computed ONCE (_collapse_batch)
    and shared by the prefix collect, the status kernel, and the
    survivor write; the persisted frame is released before returning —
    a long-running streaming ingest must not accumulate one cache
    entry per epoch.
    """
    batch = docs.select("doc_id", "text")
    nulls = batch.filter(F.col("text").isNull()).select(
        "doc_id", F.lit("kept").alias("status")
    )
    batch = batch.filter(F.col("text").isNotNull())
    groups, rep_bands = _collapse_batch(batch)
    try:
        pfxs = [
            r["p"]
            for r in rep_bands.select(
                F.concat(F.lit("x"), F.substring("band_hash", 1, 2)).alias("p")
            )
            .distinct()
            .collect()
        ]
        with _band_store_lock(store_dir):
            store = _store_scan(
                spark, store_dir, f"b{batch_id}", "pfx", pfxs, _band_schema(batch)
            ).join(F.broadcast(batch.select("doc_id")), "doc_id", "left_anti")
            statuses = (
                _statuses_from_reps(store, batch, groups, rep_bands)
                .unionByName(nulls)
                .localCheckpoint(eager=True)
            )
            kept = statuses.filter(F.col("status") == "kept").select(
                F.col("doc_id").alias("rep")
            )
            kept_bands = rep_bands.join(
                F.broadcast(kept), rep_bands["doc_id"] == kept["rep"], "left_semi"
            )
            _write_band_batch(kept_bands, store_dir, batch_id)
    finally:
        rep_bands.unpersist()
    return statuses


def _band_store_lock(store_dir: str):
    """Exclusive store lock — lineage.flock_file (auto-released on
    holder death, bounded acquisition) on a hidden file inside the
    store dir."""
    import os

    from ..lineage import MERGE_LOCK_WAIT_S, flock_file

    os.makedirs(store_dir, exist_ok=True)
    return flock_file(os.path.join(store_dir, ".lock"), MERGE_LOCK_WAIT_S)


def band_store_compact(spark: SparkSession, store_dir: str, compact_id) -> int:
    """Fold all per-batch dirs into ONE (the small-file fold the layout
    note promises — `rewrite_data_files` for the band store), also
    deduplicating the harmless duplicate band rows at-least-once
    re-delivery can leave. Returns the compacted row count.

    The compacted dir lives in its own ``batch=bc<compact_id>``
    namespace: an ingest excludes ``b<epoch>`` when deciding, and a
    compact dir named like a future epoch would be invisibly excluded
    — hiding the whole corpus from that batch's dedup decision.

    Protocol: under the store lock, snapshot the current batch dirs,
    write their DISTINCT union to a hidden staging dir (dot-prefixed —
    invisible to Spark's file listing, so a crash mid-write can never
    corrupt readers), rename it into place as ``batch=b<compact_id>``
    (the commit point), then remove the superseded dirs. A crash after
    the rename but before the removals leaves duplicate rows that the
    next compaction folds — never data loss.
    """
    return _compact_commit(
        spark,
        store_dir,
        compact_id,
        lambda df: df.select("doc_id", "band_id", "band_hash").distinct(),
        "pfx",
        F.concat(F.lit("x"), F.substring("band_hash", 1, 2)),
        "band_hash",
    )


def _compact_commit(
    spark: SparkSession,
    store_dir: str,
    compact_id,
    fold_fn,
    part_col: str,
    part_expr,
    sort_col: str,
) -> int:
    """Shared compact protocol for the per-batch stores (text bands
    here, vectors in similarity.py): see band_store_compact for the
    staging/rename/remove commit discipline."""
    import os
    import shutil

    with _band_store_lock(store_dir):
        target = os.path.join(store_dir, f"batch=bc{compact_id}")
        if os.path.exists(target):
            raise FileExistsError(f"compact id already used: {target}")
        olds = [
            os.path.join(store_dir, d)
            for d in os.listdir(store_dir)
            if d.startswith("batch=")
        ]
        # dirs with no data files (empty micro-batch commits) hold
        # nothing worth folding AND break schema inference — compact
        # only when some real parquet exists, else just drop the husks
        has_data = any(
            f.endswith(".parquet")
            for d in olds
            for root, _, files in os.walk(d)
            for f in files
        )
        if not olds or not has_data:
            for d in olds:
                shutil.rmtree(d)
            return 0
        folded = fold_fn(spark.read.parquet(store_dir))
        staging = os.path.join(store_dir, f".compact_bc{compact_id}")
        (
            folded.select("*", part_expr.alias(part_col))
            .repartition(part_col)
            .sortWithinPartitions(sort_col)
            .write.partitionBy(part_col)
            .mode("overwrite")
            .parquet(staging)
        )
        n = spark.read.parquet(staging).count()
        os.rename(staging, target)  # commit point
        for d in olds:
            shutil.rmtree(d)
    return n


# ---------------------------------------------------------------------------
# Exact-substring duplicate statistics (training:substring-dedup)
#
# Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
# Better") remove any substring that occurs verbatim more than once in
# the corpus, found via a suffix array. The Spark-native shape replaces
# the suffix array with rolling fixed-width token windows (the same
# windows winnowing fingerprints ride): a window whose md5 appears more
# than once ANYWHERE in the corpus (cross-doc or within-doc repeat —
# the paper's criterion) is a duplicated span. Per doc we report how
# many of its windows are duplicated and the duplicated fraction — the
# statistic the paper's filtering decision consumes.
#
# Scale shape: explode to (doc_id, window_hash) — map-only; occurrence
# counting is one hash-aggregate on uniform md5 keys (map-side
# combined); the flag-back is a left-semi equi-join on the same
# uniform keys. The duplicated-hash set is data-dependent (boilerplate
# can make it huge) so it is NOT broadcast — AQE downgrades the
# exchange to broadcast by itself whenever it happens to be small.
# Totals never re-shuffle: they are a map-only expression on the scan.
# ---------------------------------------------------------------------------

SUBSTR_W = 8  # window width in tokens (matches the winnowing window)


def substring_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # toks materialized before the HOF (capture rule — see _shingles)
    toks = docs.select("doc_id", _tokens().alias("toks"))
    win_hashes = F.transform(
        F.sequence(F.lit(1), F.size(F.col("toks")) - (SUBSTR_W - 1)),
        lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("toks"), i, SUBSTR_W))),
    )
    guarded = F.when(F.size("toks") >= SUBSTR_W, win_hashes).otherwise(
        F.array().cast("array<string>")
    )
    wins = toks.select("doc_id", F.explode(guarded).alias("h"))
    dup = (
        wins.groupBy("h")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .select("h")
    )
    per = (
        wins.join(dup, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("dup_windows"))
    )
    tot = toks.select(
        "doc_id",
        F.greatest(F.size("toks") - (SUBSTR_W - 1), F.lit(0))
        .cast("long")
        .alias("total_windows"),
    )
    frac = F.when(
        F.col("total_windows") > 0,
        floor_round(
            F.col("dup_windows") / F.col("total_windows"), 4
        ),
    ).otherwise(F.lit(0.0))
    return (
        tot.join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("dup_windows", F.lit(0)).cast("long").alias("dup_windows"),
            "total_windows",
        )
        .select("doc_id", "dup_windows", "total_windows", frac.alias("dup_fraction"))
    )


SUBSTRING_DUP_SQL = rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents
),
wins AS (
  SELECT doc_id, md5(array_to_string(t[i:i + {SUBSTR_W - 1}], ' ')) AS h
  FROM toks,
       unnest(generate_series(1, greatest(len(t) - {SUBSTR_W - 1}, 0))) AS u(i)
),
dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) > 1),
per AS (
  SELECT doc_id, count(*) AS dup_windows
  FROM wins WHERE h IN (SELECT h FROM dup)
  GROUP BY doc_id
),
tot AS (
  SELECT doc_id, greatest(len(t) - {SUBSTR_W - 1}, 0) AS total_windows FROM toks
)
SELECT t.doc_id,
       CAST(coalesce(p.dup_windows, 0) AS BIGINT) AS dup_windows,
       CAST(t.total_windows AS BIGINT) AS total_windows,
       CAST(CASE WHEN t.total_windows > 0
                 THEN floor(coalesce(p.dup_windows, 0) * 1.0 / t.total_windows
                            * 10000 + 1e-6) / 10000
                 ELSE 0.0 END AS DOUBLE) AS dup_fraction
FROM tot t LEFT JOIN per p ON p.doc_id = t.doc_id
"""


# ---------------------------------------------------------------------------
# Exact-substring dedup REWRITE (training:substring-dedup-rewrite)
#
# The actual corpus operation from Lee et al. 2022: every duplicated
# span keeps its globally-first occurrence (min (doc_id, pos) — the
# same first-winner rule paragraph_dedup uses) and every OTHER
# occurrence is cut out of its document. A token is removed iff any
# non-winner duplicated window covers it; the surviving tokens are
# reassembled in order. Output carries the rewritten text as an md5
# FINGERPRINT (never the payload — diff-sized rows at any doc size)
# plus kept/removed counts.
#
# Scale shape, in order:
#   1. window hashes ride the same map-only HOF as substring_dup_stats;
#   2. winner/count per hash is groupBy().agg(count, min(struct)) +
#      equi-join back — NOT a window over the hash (a boilerplate span
#      duplicated 10^9 times would be one unsplittable window
#      partition; the aggregate map-side-combines the hot key and the
#      join is AQE-skew-splittable — the paragraph_dedup lesson,
#      docs/PLANS.md §15);
#   3. covered token indexes = explode of the (bounded, W-row) window
#      span per dup occurrence, distinct on (doc_id, t);
#   4. ONLY touched docs (left-semi on the covered set) pay the full
#      token explode → anti-join → ordered reassembly; the untouched
#      majority of a web corpus is a map-only projection. No HOF ever
#      scans the covered array per token (that is O(n·|cov|) on a
#      megadoc — the anti-join is the linear shape).
# ---------------------------------------------------------------------------


def substring_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    W = SUBSTR_W
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _tokens().alias("toks"))
    win_hashes = F.transform(
        F.sequence(F.lit(1), F.size(F.col("toks")) - (W - 1)),
        lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("toks"), i, W))),
    )
    guarded = F.when(F.size("toks") >= W, win_hashes).otherwise(
        F.array().cast("array<string>")
    )
    wins = toks.select(
        "doc_id", F.posexplode(guarded).alias("i0", "h")
    ).select("doc_id", (F.col("i0") + 1).alias("pos"), "h")
    stats = (
        wins.groupBy("h")
        .agg(
            F.count("*").alias("c"),
            F.min(F.struct("doc_id", "pos")).alias("w"),
        )
        .filter(F.col("c") > 1)
        .select("h", "w")
    )
    dup_occ = (
        wins.join(stats, "h")
        .filter(
            ~(
                (F.col("doc_id") == F.col("w.doc_id"))
                & (F.col("pos") == F.col("w.pos"))
            )
        )
        .select("doc_id", "pos")
    )
    cov = dup_occ.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (W - 1))).alias("t"),
    ).distinct()
    touched_ids = cov.select("doc_id").distinct()
    untouched = toks.join(touched_ids, "doc_id", "left_anti").select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.lit(0).cast("long").alias("n_removed"),
        F.md5(F.concat_ws(" ", F.col("toks"))).alias("dedup_text_md5"),
    )
    touched_toks = toks.join(touched_ids, "doc_id", "left_semi")
    tok_rows = touched_toks.select(
        "doc_id", F.posexplode("toks").alias("i0", "tok")
    ).select("doc_id", (F.col("i0") + 1).alias("t"), "tok")
    rebuilt = (
        tok_rows.join(cov, ["doc_id", "t"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("t", "tok"))
                        ),
                        lambda x: x["tok"],
                    ),
                )
            ).alias("kept_md5"),
        )
    )
    touched = (
        touched_toks.select(
            "doc_id", F.size("toks").cast("long").alias("n_tokens")
        )
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (
                F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))
            ).cast("long").alias("n_removed"),
            F.coalesce(
                F.col("kept_md5"), F.md5(F.lit(""))
            ).alias("dedup_text_md5"),
        )
    )
    return untouched.unionByName(touched)


SUBSTRING_REWRITE_SQL = rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS tks FROM documents
),
wins AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(tks[i:i + {SUBSTR_W - 1}], ' ')) AS h
  FROM toks,
       unnest(generate_series(1, greatest(len(tks) - {SUBSTR_W - 1}, 0)))
         AS u(i)
),
won AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY h) AS c,
         min(struct_pack(doc_id := doc_id, pos := pos))
           OVER (PARTITION BY h) AS w
  FROM wins
),
dup_occ AS (
  SELECT doc_id, pos FROM won
  WHERE c > 1 AND NOT (w.doc_id = doc_id AND w.pos = pos)
),
cov AS (
  SELECT DISTINCT doc_id, CAST(t AS BIGINT) AS t
  FROM dup_occ, unnest(generate_series(pos, pos + {SUBSTR_W - 1})) AS u(t)
),
touched AS (SELECT DISTINCT doc_id FROM cov),
tok_rows AS (
  SELECT k.doc_id, CAST(i AS BIGINT) AS t, k.tks[i] AS tok
  FROM toks k JOIN touched USING (doc_id),
       unnest(generate_series(1, len(k.tks))) AS u(i)
),
kept AS (
  SELECT r.doc_id, r.t, r.tok
  FROM tok_rows r
  WHERE NOT EXISTS (
    SELECT 1 FROM cov c WHERE c.doc_id = r.doc_id AND c.t = r.t
  )
),
rebuilt AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         md5(string_agg(tok, ' ' ORDER BY t)) AS kept_md5
  FROM kept GROUP BY doc_id
)
SELECT k.doc_id, CAST(len(k.tks) AS BIGINT) AS n_tokens,
       CAST(0 AS BIGINT) AS n_removed,
       md5(array_to_string(k.tks, ' ')) AS dedup_text_md5
FROM toks k
WHERE k.doc_id NOT IN (SELECT doc_id FROM touched)
UNION ALL
SELECT k.doc_id, CAST(len(k.tks) AS BIGINT) AS n_tokens,
       CAST(len(k.tks) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(r.kept_md5, md5('')) AS dedup_text_md5
FROM toks k
JOIN touched USING (doc_id)
LEFT JOIN rebuilt r ON r.doc_id = k.doc_id
"""


# ---------------------------------------------------------------------------
# Shingle CONTAINMENT pairs (training:containment — Broder 1997's
# asymmetric twin of resemblance/Jaccard: containment(A in B) =
# |S(A) ∩ S(B)| / |S(A)|. Jaccard misses the quote/wrapper case — a
# short doc fully embedded in a long one scores low resemblance but
# containment ≈ 1 — which is exactly the template/boilerplate
# relationship a crawl dedup pass needs to see).
#
# Same scale shape as ngram_jaccard_pairs, over the same banded
# candidates (:func:`_candidate_shingle_sets` — the shared MinHash band
# table, equi-join, plan-audited): exact shingle-set arithmetic on
# candidates only; both directions reported plus the
# dominant direction ('mutual' on the floored-value tie, so the
# label is engine-stable by construction).
# ---------------------------------------------------------------------------

CONTAIN_THRESHOLD = 0.8


def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    inter = F.size(F.array_intersect(F.col("a_sh"), F.col("b_sh"))).cast(
        "double"
    )
    c_a = floor_round(inter / F.size("a_sh"), 4)
    c_b = floor_round(inter / F.size("b_sh"), 4)
    scored = _candidate_shingle_sets(spark, sf_dir).select(
        "a_id", "b_id", c_a.alias("containment_a"), c_b.alias("containment_b")
    )
    direction = (
        F.when(F.col("containment_a") > F.col("containment_b"), F.lit("a_in_b"))
        .when(F.col("containment_a") < F.col("containment_b"), F.lit("b_in_a"))
        .otherwise(F.lit("mutual"))
    )
    return scored.filter(
        F.greatest("containment_a", "containment_b") >= CONTAIN_THRESHOLD
    ).select(
        "a_id",
        "b_id",
        "containment_a",
        "containment_b",
        direction.alias("direction"),
    )


CONTAINMENT_SQL = rf"""
WITH {_BANDED_SHINGLES_SQL},
scored AS (
  SELECT c.a_id, c.b_id,
         CAST(floor(CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
               / len(a.shset) * 10000 + 1e-6) / 10000 AS DOUBLE)
           AS containment_a,
         CAST(floor(CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
               / len(b.shset) * 10000 + 1e-6) / 10000 AS DOUBLE)
           AS containment_b
  FROM cand c
  JOIN sh a ON c.a_id = a.doc_id
  JOIN sh b ON c.b_id = b.doc_id AND a.lang = b.lang
)
SELECT a_id, b_id, containment_a, containment_b,
       CASE WHEN containment_a > containment_b THEN 'a_in_b'
            WHEN containment_a < containment_b THEN 'b_in_a'
            ELSE 'mutual' END AS direction
FROM scored
WHERE greatest(containment_a, containment_b) >= {CONTAIN_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Quality-aware survivor selection (training:dedup-survivor-quality) —
# the companion to dedup_connected_components: production dedup keeps
# the BEST member of each duplicate cluster (longest / highest-quality
# — "keep the longest" is the standard heuristic), not the smallest
# id. Per component: the argmax member by (content length DESC,
# doc_id ASC) — injected exact dups tie on length, so the tie-break
# provably keeps the original over its +DUP_ID_OFFSET copy.
#
# Scale shape: the label table (one row per doc) joins the pool on
# doc_id (equi), then the per-component argmax is ONE hash aggregate
# (max of a (len, -doc_id) struct — map-side combinable, one struct of
# state per component per task), so even a mega duplicate-cluster
# never concentrates its members in one task the way the former
# row_number window did. The CC labels come from the iterated
# min-propagation above (localCheckpoint-bounded lineage).
# ---------------------------------------------------------------------------


def dedup_survivors_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = dedup_connected_components(spark, sf_dir)
    pool = _docs_with_injected_dups(spark, sf_dir).select(
        "doc_id", F.length("text").alias("len")
    )
    staged = labels.join(pool, "doc_id").select(
        F.col("survivor").alias("component"), "doc_id", "len"
    )
    # argmax by (len DESC, doc_id ASC) as max(struct(len, -doc_id)) —
    # ONE map-side-combinable hash aggregate. The former row_number
    # window sorted each component's members inside one task, which a
    # mega duplicate-cluster (a million-copy spam text) makes hot; an
    # aggregate carries one struct per component per task instead
    # (r4, same family as the _band_star_edges lesson).
    best = F.max(F.struct(F.col("len"), (-F.col("doc_id")).alias("nid")))
    return (
        staged.groupBy("component")
        .agg(
            best.alias("b"),
            F.count("*").cast("long").alias("n_members"),
        )
        .select(
            "component",
            (-F.col("b.nid")).cast("long").alias("survivor_q"),
            F.col("b.len").cast("long").alias("survivor_len"),
            "n_members",
        )
        .orderBy("component")
    )


DEDUP_SURVIVORS_QUALITY_SQL = f"""
WITH RECURSIVE
{_CC_REACH_SQL},
labels AS (SELECT node AS doc_id, min(r) AS component FROM reach GROUP BY 1),
staged AS (
  SELECT l.component, l.doc_id, length(p.text) AS len
  FROM labels l JOIN ({_DUP_SOURCE_SQL}) p ON p.doc_id = l.doc_id
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY component
                            ORDER BY len DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY component) AS n_members
  FROM staged
)
SELECT component, doc_id AS survivor_q,
       CAST(len AS BIGINT) AS survivor_len,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
ORDER BY component
"""


# ---------------------------------------------------------------------------
# Dedup cluster-size histogram (training:dedup-cluster-histogram) —
# the health report read before trusting a dedup pass: how many
# clusters of each size exist, and what fraction of the corpus the
# non-singleton clusters hold (the dedup "savings"). Two map-side-
# combinable aggregates over the CC labels; at 100 TB this is the
# monitoring query run after every incremental ingest wave.
# ---------------------------------------------------------------------------


def dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = dedup_connected_components(spark, sf_dir)
    sizes = labels.groupBy("survivor").agg(
        F.count("*").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").cast("long").alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("long"),
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


DEDUP_CLUSTER_HISTOGRAM_SQL = f"""
WITH RECURSIVE
{_CC_REACH_SQL},
labels AS (SELECT node AS doc_id, min(r) AS survivor FROM reach GROUP BY 1),
sizes AS (SELECT survivor, count(*) AS cluster_size FROM labels GROUP BY 1)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
FROM sizes
GROUP BY cluster_size
ORDER BY cluster_size
"""


# ---------------------------------------------------------------------------
# Jaccard threshold calibration curve (training:dedup-threshold-curve)
# — picking the dedup threshold is an empirical decision: this report
# shows, for each candidate threshold, how many pairs and how many
# distinct docs a cutoff would merge. Reuses the content-based
# candidate pairs (ngram_jaccard_pairs) and aggregates once per
# threshold step via a tiny cross join on a 5-row threshold dimension
# — the pairs are computed ONCE, not per threshold.
# ---------------------------------------------------------------------------

JACCARD_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def jaccard_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = ngram_jaccard_pairs(spark, sf_dir)
    thr = spark.createDataFrame(
        [(t,) for t in JACCARD_THRESHOLDS], "threshold DOUBLE"
    )
    hit = pairs.crossJoin(F.broadcast(thr)).where(
        F.col("jaccard") >= F.col("threshold")
    )
    # Explode each qualifying pair into its two member ids and run ONE
    # grouped distinct aggregate (map-side partial, spillable hash) —
    # never collect_list: a hot threshold at corpus scale would funnel
    # every pair's id array through a single unbounded aggregation
    # buffer. Each pair contributes exactly two exploded rows, so
    # n_pairs falls out as count(*)/2 in the same pass.
    exploded = hit.select(
        "threshold",
        F.explode(F.array("a_id", "b_id")).alias("doc_id"),
    )
    return (
        exploded.groupBy("threshold")
        .agg(
            (F.count("*") / 2).cast("long").alias("n_pairs"),
            F.countDistinct("doc_id").cast("long").alias("n_docs_touched"),
        )
        .orderBy("threshold")
    )


JACCARD_CURVE_SQL = f"""
WITH pairs AS MATERIALIZED ({NGRAM_JACCARD_SQL}),
thr(threshold) AS (VALUES {', '.join(f'(CAST({t} AS DOUBLE))' for t in JACCARD_THRESHOLDS)}),
exploded AS (
  SELECT t.threshold, u.doc_id
  FROM pairs p
  JOIN thr t ON p.jaccard >= t.threshold,
  unnest([p.a_id, p.b_id]) AS u(doc_id)
)
SELECT threshold,
       CAST(count(*) / 2 AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_touched
FROM exploded
GROUP BY threshold
ORDER BY threshold
"""


# ---------------------------------------------------------------------------
# Contrastive training-pair mining (training:contrastive-pairs — the
# retrieval-training recipe of the Contriever/E5 lineage: mined
# near-duplicates become positives, corpus-random docs become
# negatives). Anchors are the docs with a mined near-dup (here the
# injected-copy set — exactly what LSH mining yields in production);
# each anchor gets its dup as the positive and NEG_K salted-hash
# negatives (deterministic, coordination-free, collision-bumped away
# from anchor and positive). The pair's n-gram jaccard rides along as
# the positive-quality signal. Map-only except the one broadcast join
# pulling the positive's jaccard from the candidate pairs.
# ---------------------------------------------------------------------------

NEG_K = 3


def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").alias("n"))
    anchors = docs.where(F.col("doc_id") < N_INJECTED_DUPS).select(
        F.col("doc_id").alias("anchor_id"),
        (F.col("doc_id") + DUP_ID_OFFSET).alias("positive_id"),
    )
    jac = ngram_jaccard_pairs(spark, sf_dir).select(
        F.col("a_id").alias("anchor_id"),
        F.col("b_id").alias("positive_id"),
        F.col("jaccard").alias("positive_jaccard"),
    )
    out = anchors.join(F.broadcast(jac), ["anchor_id", "positive_id"], "left")
    out = out.crossJoin(F.broadcast(n))
    neg_cols = []
    for j in range(1, NEG_K + 1):
        raw = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"neg{j}|"),
                            F.col("anchor_id").cast("string"),
                        )
                    ),
                    1, 8,
                ),
                16, 10,
            ).cast("long")
            % F.col("n")
        )
        # bump off the anchor itself (negatives must be true negatives;
        # the +OFFSET positive can never collide with a corpus id)
        neg = F.when(raw == F.col("anchor_id"), (raw + 1) % F.col("n")).otherwise(raw)
        neg_cols.append(neg.alias(f"neg_{j}"))
    return out.select(
        "anchor_id", "positive_id", "positive_jaccard", *neg_cols
    ).orderBy("anchor_id")


def _neg_sql(j: int) -> str:
    raw = (
        f"CAST('0x' || substr(md5('neg{j}|' || CAST(a.anchor_id AS VARCHAR)),"
        f" 1, 8) AS BIGINT) % nn.n"
    )
    return (
        f"CASE WHEN {raw} = a.anchor_id THEN ({raw} + 1) % nn.n"
        f" ELSE {raw} END AS neg_{j}"
    )


CONTRASTIVE_PAIRS_SQL = f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
anchors AS (
  SELECT doc_id AS anchor_id, doc_id + {DUP_ID_OFFSET} AS positive_id
  FROM documents WHERE doc_id < {N_INJECTED_DUPS}
),
jac AS (
  SELECT a_id AS anchor_id, b_id AS positive_id,
         jaccard AS positive_jaccard
  FROM ({NGRAM_JACCARD_SQL})
)
SELECT a.anchor_id, a.positive_id, j.positive_jaccard,
       {', '.join(_neg_sql(k) for k in range(1, NEG_K + 1))}
FROM anchors a
LEFT JOIN jac j ON j.anchor_id = a.anchor_id
                AND j.positive_id = a.positive_id
CROSS JOIN nn
ORDER BY a.anchor_id
"""


# ---------------------------------------------------------------------------
# ROUGE-N pair scores over LSH candidates (R4-48, training:rouge —
# Lin 2004): the summarization/overlap eval metric, computed between
# near-dup CANDIDATES (the MinHash band pairs) rather than all pairs —
# at corpus scale ROUGE is what a dedup triage report attaches to each
# candidate pair so a reviewer sees clipped-overlap precision/recall,
# not just a Jaccard number. Injected exact dups anchor the scale:
# their pairs must score exactly 1.0.
#
# Semantics: multiset (clipped) n-gram overlap. recall = clip/|ref|,
# precision = clip/|cand|, F1 = 2·clip/(|ref|+|cand|) (the count-level
# closed form of 2PR/(P+R)). Long format, one row per (pair, n),
# n ∈ {1, 2}; a (pair, n) row exists only when BOTH sides have ≥1
# n-gram.
#
# Scale shape: gram multisets are explode→hash-agg keyed (doc, gram);
# the overlap join rides (doc_id, n, gram) equi-keys with fan-out
# bounded by candidate count × doc length; totals join back on doc_id.
# No windows, no all-pairs.
# ---------------------------------------------------------------------------

ROUGE_NS = (1, 2)


def rouge_pair_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .curation import _grams

    docs = _docs_with_injected_dups(spark, sf_dir)
    pairs = minhash_lsh_pairs(spark, sf_dir).localCheckpoint()
    toks = docs.select(
        "doc_id", F.filter(_tokens(), lambda t: t != "").alias("toks")
    )
    gram_counts = None
    for n in ROUGE_NS:
        g = (
            toks.select(
                "doc_id", F.lit(n).alias("n"),
                F.explode(_grams(F.col("toks"), n)).alias("g"),
            )
            .groupBy("doc_id", "n", "g")
            .agg(F.count("*").alias("c"))
        )
        gram_counts = g if gram_counts is None else gram_counts.unionByName(g)
    totals = gram_counts.groupBy("doc_id", "n").agg(F.sum("c").alias("tot"))
    ga = gram_counts.select(
        F.col("doc_id").alias("a_id"), "n", "g", F.col("c").alias("ca")
    )
    gb = gram_counts.select(
        F.col("doc_id").alias("b_id"), "n", "g", F.col("c").alias("cb")
    )
    clip = (
        pairs.join(ga, "a_id")
        .join(gb, ["b_id", "n", "g"])
        .groupBy("a_id", "b_id", "n")
        .agg(F.sum(F.least("ca", "cb")).alias("clip"))
    )
    ta = totals.select(
        F.col("doc_id").alias("a_id"), "n", F.col("tot").alias("tot_a")
    )
    tb = totals.select(
        F.col("doc_id").alias("b_id"), "n", F.col("tot").alias("tot_b")
    )
    base = (
        pairs.join(ta, "a_id")
        .join(tb, ["b_id", "n"])
        .join(clip, ["a_id", "b_id", "n"], "left")
        .select(
            "a_id", "b_id", F.col("n").cast("int").alias("n"),
            F.coalesce("clip", F.lit(0)).cast("long").alias("clip"),
            F.col("tot_a").cast("long").alias("tot_a"),
            F.col("tot_b").cast("long").alias("tot_b"),
        )
    )
    return base.select(
        "a_id", "b_id", "n", "clip", "tot_a", "tot_b",
        floor_round(F.col("clip") / F.col("tot_a"), 4).alias("recall"),
        floor_round(F.col("clip") / F.col("tot_b"), 4).alias("precision"),
        floor_round(
            2.0 * F.col("clip") / (F.col("tot_a") + F.col("tot_b")), 4
        ).alias("f1"),
    ).orderBy("a_id", "b_id", "n")


def _rouge_grams_sql(n: int) -> str:
    return (
        f"SELECT doc_id, {n} AS n, "
        f"array_to_string(t[i:i+{n - 1}], ' ') AS g "
        "FROM toks, unnest(generate_series(1, "
        f"greatest(len(t) - {n - 1}, 0))) AS u(i)"
    )


ROUGE_PAIRS_SQL = rf"""
WITH src AS ({_DUP_SOURCE_SQL}),
bands AS ({_minhash_sql('SELECT doc_id, text FROM src')}),
pairs AS ({_BAND_PAIRS_SQL}),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
  FROM src
),
gram_counts AS (
  SELECT doc_id, n, g, count(*) AS c FROM (
    {_rouge_grams_sql(1)}
    UNION ALL
    {_rouge_grams_sql(2)}
  )
  GROUP BY 1, 2, 3
),
totals AS (
  SELECT doc_id, n, sum(c) AS tot FROM gram_counts GROUP BY 1, 2
),
clip AS (
  SELECT p.a_id, p.b_id, ga.n, sum(least(ga.c, gb.c)) AS clip
  FROM pairs p
  JOIN gram_counts ga ON ga.doc_id = p.a_id
  JOIN gram_counts gb ON gb.doc_id = p.b_id
                     AND gb.n = ga.n AND gb.g = ga.g
  GROUP BY 1, 2, 3
)
SELECT p.a_id, p.b_id, CAST(ta.n AS INT) AS n,
       CAST(coalesce(c.clip, 0) AS BIGINT) AS clip,
       CAST(ta.tot AS BIGINT) AS tot_a,
       CAST(tb.tot AS BIGINT) AS tot_b,
       CAST(floor(CAST(coalesce(c.clip, 0) AS DOUBLE) / ta.tot
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS recall,
       CAST(floor(CAST(coalesce(c.clip, 0) AS DOUBLE) / tb.tot
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS precision,
       CAST(floor(2.0 * coalesce(c.clip, 0) / (ta.tot + tb.tot)
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS f1
FROM pairs p
JOIN totals ta ON ta.doc_id = p.a_id
JOIN totals tb ON tb.doc_id = p.b_id AND tb.n = ta.n
LEFT JOIN clip c ON c.a_id = p.a_id AND c.b_id = p.b_id AND c.n = ta.n
ORDER BY p.a_id, p.b_id, ta.n
"""


# ---------------------------------------------------------------------------
# TF-IDF lexical cosine on LSH candidates (R4-49, training:lexical-
# cosine): the sparse-vector twin of the dense embedding cosine — the
# second opinion a dedup triage wants when embeddings disagree with
# surface text. Weights are the same smoothed scheme as tfidf_keywords
# (tf · (ln((N+1)/(df+1)) + 1)); cosine = dot/(‖a‖·‖b‖) over the
# sparse term vectors.
#
# Scale shape: per-doc sparse vectors and norms are hash aggs; the dot
# product joins candidate pairs to term weights on (doc, term)
# equi-keys (fan-out bounded by candidates × doc length); pairs with
# zero term overlap keep a 0.0 row via left join. Injected exact dups
# anchor cosine 1.0.
# ---------------------------------------------------------------------------


def tfidf_pair_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_injected_dups(spark, sf_dir)
    pairs = minhash_lsh_pairs(spark, sf_dir).localCheckpoint()
    terms = docs.select(
        "doc_id", F.explode(_tokens()).alias("term")
    ).where(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    w = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "term",
            (
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0)
            ).alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm")
    )
    wa = w.select(F.col("doc_id").alias("a_id"), "term", F.col("w").alias("wa"))
    wb = w.select(F.col("doc_id").alias("b_id"), "term", F.col("w").alias("wb"))
    dots = (
        pairs.join(wa, "a_id")
        .join(wb, ["b_id", "term"])
        .groupBy("a_id", "b_id")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("a_id"), F.col("norm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("b_id"), F.col("norm").alias("nb"))
    return (
        pairs.join(na, "a_id")
        .join(nb, "b_id")
        .join(dots, ["a_id", "b_id"], "left")
        .select(
            "a_id", "b_id",
            floor_round(
                F.coalesce("dot", F.lit(0.0)) / (F.col("na") * F.col("nb")), 4
            ).alias("lex_cos"),
        )
        .orderBy("a_id", "b_id")
    )


TFIDF_PAIR_COSINE_SQL = rf"""
WITH src AS ({_DUP_SOURCE_SQL}),
bands AS ({_minhash_sql('SELECT doc_id, text FROM src')}),
pairs AS ({_BAND_PAIRS_SQL}),
terms AS (
  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term FROM src
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM terms WHERE term <> '' GROUP BY 1, 2
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
nn AS (SELECT count(*) AS n_docs FROM src),
w AS MATERIALIZED (
  SELECT t.doc_id, t.term,
         t.tf * (ln((nn.n_docs + 1.0) / (d.df + 1.0)) + 1.0) AS w
  FROM tf t JOIN df d USING (term), nn
),
norms AS (
  SELECT doc_id, sqrt(sum(w * w)) AS norm FROM w GROUP BY 1
),
dots AS (
  SELECT p.a_id, p.b_id, sum(wa.w * wb.w) AS dot
  FROM pairs p
  JOIN w wa ON wa.doc_id = p.a_id
  JOIN w wb ON wb.doc_id = p.b_id AND wb.term = wa.term
  GROUP BY 1, 2
)
SELECT p.a_id, p.b_id,
       CAST(floor(coalesce(d.dot, 0.0) / (na.norm * nb.norm)
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS lex_cos
FROM pairs p
JOIN norms na ON na.doc_id = p.a_id
JOIN norms nb ON nb.doc_id = p.b_id
LEFT JOIN dots d ON d.a_id = p.a_id AND d.b_id = p.b_id
ORDER BY p.a_id, p.b_id
"""


# ---------------------------------------------------------------------------
# Levenshtein pair scores over LSH candidates (R4-67,
# training:edit-distance triage): exact edit distance is the
# strictest near-dup confirmation — ROUGE/Jaccard are bag metrics and
# miss reorderings; edit distance is positional. O(len_a * len_b) per
# pair makes it unthinkable all-pairs, so it rides the SAME MinHash
# band candidates every other pair metric here uses: candidate count,
# not corpus size, bounds the quadratic kernel, and both engines run
# their native implementation (Spark's JVM `levenshtein`, DuckDB's
# `levenshtein`) — no UDF. Injected exact dups anchor the scale at
# distance 0 / similarity 1. lev_sim = 1 - d / max(len_a, len_b)
# (integer inputs, engine-exact before the floor).
# ---------------------------------------------------------------------------


def levenshtein_pair_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_injected_dups(spark, sf_dir).select("doc_id", "text")
    pairs = minhash_lsh_pairs(spark, sf_dir).select("a_id", "b_id")
    ta = docs.select(
        F.col("doc_id").alias("a_id"), F.col("text").alias("a_text")
    )
    tb = docs.select(
        F.col("doc_id").alias("b_id"), F.col("text").alias("b_text")
    )
    scored = (
        pairs.join(ta, "a_id")
        .join(tb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.levenshtein("a_text", "b_text").cast("long").alias("lev_dist"),
            F.length("a_text").cast("long").alias("len_a"),
            F.length("b_text").cast("long").alias("len_b"),
        )
    )
    return scored.select(
        "a_id",
        "b_id",
        "lev_dist",
        "len_a",
        "len_b",
        floor_round(
            1.0 - F.col("lev_dist") / F.greatest("len_a", "len_b"), 4
        ).alias("lev_sim"),
    ).orderBy("a_id", "b_id")


LEVENSHTEIN_PAIRS_SQL = f"""
WITH src AS ({_DUP_SOURCE_SQL}),
bands AS ({_minhash_sql('SELECT doc_id, text FROM src')}),
pairs AS ({_BAND_PAIRS_SQL})
SELECT p.a_id, p.b_id,
       CAST(levenshtein(sa.text, sb.text) AS BIGINT) AS lev_dist,
       CAST(length(sa.text) AS BIGINT) AS len_a,
       CAST(length(sb.text) AS BIGINT) AS len_b,
       CAST(floor((1.0 - CAST(levenshtein(sa.text, sb.text) AS DOUBLE)
                         / greatest(length(sa.text), length(sb.text)))
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS lev_sim
FROM pairs p
JOIN src sa ON sa.doc_id = p.a_id
JOIN src sb ON sb.doc_id = p.b_id
ORDER BY p.a_id, p.b_id
"""


# ---------------------------------------------------------------------------
# MinHash estimate-vs-exact audit (R4-74, Broder 1997) — completes the
# sketch-audit family (HLL distinct, CMS heavy hitters, histogram
# quantiles): the LSH pipeline TRUSTS that matching signature positions
# estimate Jaccard; this query measures that estimator's error on the
# live band candidates, pairing est = |{k : sig_a[k] = sig_b[k]}| / K
# with the exact shingle-set Jaccard the verifier computes anyway.
# Production reading: if abs_err drifts up, MINHASH_K is too small for
# the corpus's shingle diversity and the band thresholds need retuning.
#
# Exactness: the match count is an integer, so est is an exact dyadic
# rational (multiples of 1/8); exact Jaccard is ONE division of exact
# set cardinalities — both engines evaluate identical doubles, the
# error is their difference pre-floor, floor4 on all three outputs.
# Candidates ride the SAME injected-dup band self-join as
# minhash_lsh_pairs (the injected exact dups anchor est = exact = 1,
# err = 0), banded from the audit's one persisted signature table, so
# the signatures are computed once and read twice: by the bands and by
# the per-pair match count.
# ---------------------------------------------------------------------------


def minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    pool = _docs_with_injected_dups(spark, sf_dir)
    sigs = _minhash_sigs(pool).persist()
    cand = _band_pairs(_sig_bands(sigs))
    sh = pool.select(
        "doc_id", "text", _tokens().alias("toks")
    ).select(
        "doc_id",
        F.array_distinct(_shingles(F.col("toks"), F.col("text"))).alias(
            "shset"
        ),
    )
    sa = sigs.select(
        F.col("doc_id").alias("a_id"),
        *[F.col(f"sig{k}").alias(f"a{k}") for k in range(MINHASH_K)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("b_id"),
        *[F.col(f"sig{k}").alias(f"b{k}") for k in range(MINHASH_K)],
    )
    xa = sh.select(
        F.col("doc_id").alias("a_id"), F.col("shset").alias("a_sh")
    )
    xb = sh.select(
        F.col("doc_id").alias("b_id"), F.col("shset").alias("b_sh")
    )
    n_match = sum(
        F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0)
        for k in range(MINHASH_K)
    ).cast("long")
    inter = F.size(F.array_intersect(F.col("a_sh"), F.col("b_sh")))
    # |A∪B| = |A|+|B|−|A∩B| for sets (shsets are array_distinct'd):
    # integer-exact, and skips building a second per-pair hash set
    union = F.size("a_sh") + F.size("b_sh") - inter
    est = F.col("n_match").cast("double") / MINHASH_K
    exact = inter.cast("double") / union
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("n_match", n_match)
        .join(xa, "a_id")
        .join(xb, "b_id")
        .select(
            "a_id",
            "b_id",
            "n_match",
            floor_round(est, 4).alias("est_jaccard"),
            floor_round(exact, 4).alias("exact_jaccard"),
            floor_round(F.abs(est - exact), 4).alias("abs_err"),
        )
        .orderBy("a_id", "b_id")
    )


_MATCH_SQL = " + ".join(
    f"CASE WHEN sa.sig{k} = sb.sig{k} THEN 1 ELSE 0 END"
    for k in range(MINHASH_K)
)

MINHASH_ESTIMATE_SQL = rf"""
WITH base AS ({_DUP_SOURCE_SQL}),
toksrc AS (
  SELECT doc_id, text, string_split_regex(text, '\s+') AS toks FROM base
),
shing AS MATERIALIZED (
  SELECT doc_id, {_SHINGLES_SQL} AS sh FROM toksrc
),
sigs AS MATERIALIZED (
  SELECT doc_id, {_SIG_SQL} FROM shing
),
bands AS ({_BANDS_SQL}),
cand AS ({_BAND_PAIRS_SQL}),
shset AS MATERIALIZED (
  SELECT doc_id, list_distinct(sh) AS shset FROM shing
),
scored AS (
  SELECT c.a_id, c.b_id,
         CAST({_MATCH_SQL} AS BIGINT) AS n_match,
         CAST(len(list_intersect(xa.shset, xb.shset)) AS DOUBLE)
           / len(list_distinct(list_concat(xa.shset, xb.shset))) AS exact,
         CAST({_MATCH_SQL} AS DOUBLE) / {MINHASH_K} AS est
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.a_id
  JOIN sigs sb ON sb.doc_id = c.b_id
  JOIN shset xa ON xa.doc_id = c.a_id
  JOIN shset xb ON xb.doc_id = c.b_id
)
SELECT a_id, b_id, n_match,
       CAST(floor(est * 10000 + 1e-6) / 10000 AS DOUBLE) AS est_jaccard,
       CAST(floor(exact * 10000 + 1e-6) / 10000 AS DOUBLE) AS exact_jaccard,
       CAST(floor(abs(est - exact) * 10000 + 1e-6) / 10000 AS DOUBLE)
         AS abs_err
FROM scored
ORDER BY a_id, b_id
"""


# ---------------------------------------------------------------------------
# Cross-fold leakage audit (R4-77, training:fold-leakage): a k-fold /
# train-test split drawn uniformly over documents silently puts
# near-duplicates on both sides — the eval-contamination mode
# train_test_overlap measures for a FIXED split; this audit measures
# it for the deterministic k-fold assignment itself, reporting the
# near-dup candidate-pair count for every unordered fold pair. Off-
# diagonal mass = leakage pressure; the mitigation (assign folds per
# CONNECTED COMPONENT, not per doc) is exactly what dedup_survivors'
# component machinery provides.
#
# Fold = md5('fold|' || doc_id) first-8-hex mod K — the salted-hash
# uniform the sampling family uses (engine-exact integers). Candidate
# pairs ride the SAME injected-dup MinHash band join as
# minhash_lsh_pairs, so the injected exact dups guarantee off-diagonal
# rows exist whenever a dup and its source land in different folds.
# The full K(K+1)/2 grid is emitted (zeros kept) from a generated
# fold dimension. Scale shape: the bounded band self-join + one
# ≤K²-key hash aggregate; assignment is map-only.
# ---------------------------------------------------------------------------

N_FOLDS = 5


def fold_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = minhash_lsh_pairs(spark, sf_dir)

    def fold(col: Column) -> Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("fold|"), col.cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % N_FOLDS
        )

    assigned = pairs.select(
        fold(F.col("a_id")).alias("fa"), fold(F.col("b_id")).alias("fb")
    ).select(
        F.least("fa", "fb").alias("fold_a"),
        F.greatest("fa", "fb").alias("fold_b"),
    )
    counts = assigned.groupBy("fold_a", "fold_b").agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    folds = spark.range(N_FOLDS).select(F.col("id").alias("f"))
    grid = (
        folds.select(F.col("f").alias("fold_a"))
        .crossJoin(folds.select(F.col("f").alias("fold_b")))
        .where(F.col("fold_a") <= F.col("fold_b"))
    )
    return (
        grid.join(counts, ["fold_a", "fold_b"], "left")
        .na.fill({"n_pairs": 0})
        .select(
            "fold_a",
            "fold_b",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            (F.col("fold_a") != F.col("fold_b")).alias("is_leak"),
        )
        .orderBy("fold_a", "fold_b")
    )


FOLD_LEAKAGE_SQL = f"""
WITH pairs AS ({MINHASH_LSH_PAIRS_SQL.replace(chr(10), chr(10) + '  ')}
),
assigned AS (
  SELECT least(fa, fb) AS fold_a, greatest(fa, fb) AS fold_b
  FROM (
    SELECT CAST('0x' || substr(md5('fold|' || CAST(a_id AS VARCHAR)), 1, 8)
                AS BIGINT) % {N_FOLDS} AS fa,
           CAST('0x' || substr(md5('fold|' || CAST(b_id AS VARCHAR)), 1, 8)
                AS BIGINT) % {N_FOLDS} AS fb
    FROM pairs
  )
),
counts AS (
  SELECT fold_a, fold_b, CAST(count(*) AS BIGINT) AS n_pairs
  FROM assigned GROUP BY 1, 2
),
folds AS (SELECT unnest(generate_series(0, {N_FOLDS - 1})) AS f)
SELECT a.f AS fold_a, b.f AS fold_b,
       coalesce(c.n_pairs, 0) AS n_pairs,
       a.f <> b.f AS is_leak
FROM folds a
JOIN folds b ON a.f <= b.f
LEFT JOIN counts c ON c.fold_a = a.f AND c.fold_b = b.f
ORDER BY fold_a, fold_b
"""


# ---------------------------------------------------------------------------
# Per-source duplication accounting (R4-82, the CCNet-style ingest
# health report): for each ingestion source, how much of what it
# delivers is internally duplicated (same md5 text fingerprint), and
# how much of its content also arrives via ANOTHER source (the
# cross-source overlap that decides which feed to deprecate). Pure
# hash-aggregate algebra over the fingerprint relation: a per-(source,
# fp) distinct collapse, a per-fp distinct-source count, one equi-join
# back — no pairs, no windows, mergeable at any scale.
# ---------------------------------------------------------------------------


def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "source", F.md5("text").alias("fp")
    )
    per_source = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("fp").cast("long").alias("n_distinct_texts"),
    )
    src_fp = docs.select("source", "fp").distinct()
    multi = (
        src_fp.groupBy("fp")
        .agg(F.count("*").alias("n_sources"))
        .where(F.col("n_sources") >= 2)
        .select("fp")
    )
    cross = (
        src_fp.join(multi, "fp")
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_cross_source_texts"))
    )
    return (
        per_source.join(cross, "source", "left")
        .na.fill({"n_cross_source_texts": 0})
        .select(
            "source",
            "n_docs",
            "n_distinct_texts",
            floor_round(
                (F.col("n_docs") - F.col("n_distinct_texts")).cast("double")
                / F.col("n_docs"),
                4,
            ).alias("dup_rate"),
            F.col("n_cross_source_texts").cast("long").alias(
                "n_cross_source_texts"
            ),
        )
        .orderBy("source")
    )


DUP_RATE_BY_SOURCE_SQL = """
WITH docs AS (SELECT source, md5(text) AS fp FROM documents),
per_source AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_texts
  FROM docs GROUP BY 1
),
src_fp AS (SELECT DISTINCT source, fp FROM docs),
multi AS (
  SELECT fp FROM src_fp GROUP BY fp HAVING count(*) >= 2
),
cross_src AS (
  SELECT s.source, CAST(count(*) AS BIGINT) AS n_cross_source_texts
  FROM src_fp s JOIN multi m ON m.fp = s.fp
  GROUP BY 1
)
SELECT p.source, p.n_docs, p.n_distinct_texts,
       CAST(floor(CAST(p.n_docs - p.n_distinct_texts AS DOUBLE) / p.n_docs
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS dup_rate,
       coalesce(c.n_cross_source_texts, 0) AS n_cross_source_texts
FROM per_source p LEFT JOIN cross_src c ON c.source = p.source
ORDER BY p.source
"""


# ---------------------------------------------------------------------------
# Blocking quality audit (R4-93, the record-linkage/ER scorecard —
# Christen 2012): LSH banding is a BLOCKING scheme, and blocking is
# graded on exactly two numbers — REDUCTION RATIO (how much of the
# n(n-1)/2 all-pairs space the blocks prune) and PAIR COMPLETENESS
# (what fraction of true matches survive as candidates). True matches
# here are the injected exact dups (doc, doc + DUP_ID_OFFSET), whose
# identical texts guarantee identical signatures — so completeness
# SHOULD be 1.0 and a lower reading means the banding broke; reduction
# quantifies the candidate-join saving the dedup suite banks on.
# All inputs are exact integers (pair counts + one corpus count); the
# two ratios are single divisions. Scale shape: the existing bounded
# band join, one semi-join against the true-pair relation, three
# 1-row aggregates.
# ---------------------------------------------------------------------------


def blocking_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = minhash_lsh_pairs(spark, sf_dir).persist()
    docs = load(spark, sf_dir, "documents").select("doc_id")
    n_pool = docs.agg(
        (F.count("*") + F.least(F.count("*"), F.lit(N_INJECTED_DUPS)))
        .cast("long")
        .alias("n_pool")
    )
    truth = docs.filter(F.col("doc_id") < N_INJECTED_DUPS).select(
        F.col("doc_id").alias("a_id"),
        (F.col("doc_id") + DUP_ID_OFFSET).alias("b_id"),
    )
    n_truth = truth.agg(F.count("*").cast("long").alias("n_truth"))
    n_cand = pairs.agg(F.count("*").cast("long").alias("n_candidates"))
    n_found = (
        truth.join(pairs, ["a_id", "b_id"], "left_semi")
        .agg(F.count("*").cast("long").alias("n_found"))
    )
    out = (
        n_cand.crossJoin(F.broadcast(n_truth))
        .crossJoin(F.broadcast(n_found))
        .crossJoin(F.broadcast(n_pool))
    )
    all_pairs = (F.col("n_pool") * (F.col("n_pool") - 1) / 2).cast("long")
    return out.select(
        "n_pool",
        all_pairs.alias("n_all_pairs"),
        "n_candidates",
        "n_truth",
        "n_found",
        floor_round(
            1.0 - F.col("n_candidates") / all_pairs.cast("double"), 6
        ).alias("reduction_ratio"),
        floor_round(
            F.col("n_found").cast("double") / F.col("n_truth"), 6
        ).alias("pair_completeness"),
    )


BLOCKING_AUDIT_SQL = f"""
WITH pairs AS ({MINHASH_LSH_PAIRS_SQL.replace(chr(10), chr(10) + '  ')}
),
np AS (
  SELECT CAST(count(*) + least(count(*), {N_INJECTED_DUPS}) AS BIGINT)
           AS n_pool
  FROM documents
),
truth AS (
  SELECT doc_id AS a_id, doc_id + {DUP_ID_OFFSET} AS b_id
  FROM documents WHERE doc_id < {N_INJECTED_DUPS}
),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM pairs),
nf AS (
  SELECT CAST(count(*) AS BIGINT) AS n_found
  FROM truth t
  WHERE EXISTS (SELECT 1 FROM pairs p
                WHERE p.a_id = t.a_id AND p.b_id = t.b_id)
)
SELECT n_pool,
       CAST(n_pool * (n_pool - 1) / 2 AS BIGINT) AS n_all_pairs,
       n_candidates, n_truth, n_found,
       CAST(floor((1.0 - n_candidates
                   / CAST(n_pool * (n_pool - 1) / 2 AS DOUBLE))
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE)
         AS reduction_ratio,
       CAST(floor(CAST(n_found AS DOUBLE) / n_truth * 1000000 + 1e-6)
            / 1000000 AS DOUBLE) AS pair_completeness
FROM nc, nt, nf, np
"""


# ---------------------------------------------------------------------------
# Lexical-vs-semantic agreement audit (R4-135): over the SAME
# MinHash-band candidate pairs the near-dup path scores, correlate the
# exact shingle Jaccard with the embedding cosine — the cross-modal
# read that separates VERBATIM duplication (high lex, high sem) from
# paraphrase (low lex, high sem) and tells a curator whether the cheap
# lexical tier can stand in for the embedding tier at their thresholds.
# Rules (stated): injected near-dups inherit their source's embedding
# (id % DUP_ID_OFFSET — the mutation is below encoder resolution);
# dup-vs-own-source pairs are excluded (trivially cos=1); NULL cosines
# (zero vectors) drop in both engines. Both scores are floored onto
# the 1e-4 grid FIRST, so the Pearson moments are exact BIGINT sums
# over small integers — no float summation. Bounded by the candidate
# set, which the LSH bands already bound.
# ---------------------------------------------------------------------------


def lex_sem_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import _as_double, _cosine

    scored = _jaccard_scored_pairs(spark, sf_dir)
    pairs = scored.select(
        (F.col("a_id") % DUP_ID_OFFSET).alias("oa"),
        (F.col("b_id") % DUP_ID_OFFSET).alias("ob"),
        F.floor(F.col("jaccard") * 10000 + 1e-6).cast("long").alias("j4"),
    ).where(F.col("oa") != F.col("ob"))
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("e")
    )
    ea = emb.select(F.col("vec_id").alias("oa"), F.col("e").alias("e_a"))
    eb = emb.select(F.col("vec_id").alias("ob"), F.col("e").alias("e_b"))
    cos = _cosine(F.col("e_a"), F.col("e_b"))
    j = (
        pairs.join(ea, "oa")
        .join(eb, "ob")
        .select(
            "j4",
            F.floor(cos * 10000 + 1e-6).cast("long").alias("c4"),
        )
        .where(F.col("c4").isNotNull())
    )
    agg = j.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("j4").cast("long").alias("sj"),
        F.sum("c4").cast("long").alias("sc"),
        F.sum(F.col("j4") * F.col("c4")).cast("long").alias("sjc"),
        F.sum(F.col("j4") * F.col("j4")).cast("long").alias("sjj"),
        F.sum(F.col("c4") * F.col("c4")).cast("long").alias("scc"),
    )
    r = (
        F.col("n_pairs").cast("double") * F.col("sjc").cast("double")
        - F.col("sj").cast("double") * F.col("sc").cast("double")
    ) / F.sqrt(
        (
            F.col("n_pairs").cast("double") * F.col("sjj").cast("double")
            - F.col("sj").cast("double") * F.col("sj").cast("double")
        )
        * (
            F.col("n_pairs").cast("double") * F.col("scc").cast("double")
            - F.col("sc").cast("double") * F.col("sc").cast("double")
        )
    )
    return agg.select(
        "n_pairs",
        floor_round(
            F.col("sj").cast("double") / 10000.0
            / F.col("n_pairs").cast("double"),
            4,
        ).alias("mean_jaccard"),
        floor_round(
            F.col("sc").cast("double") / 10000.0
            / F.col("n_pairs").cast("double"),
            4,
        ).alias("mean_cos"),
        floor_round(r, 6).alias("pearson_r"),
    )


def _lex_sem_sql() -> str:
    from .similarity import _cosine_sql

    return rf"""
WITH {_BANDED_SHINGLES_SQL},
scored AS (
  SELECT c.a_id % {DUP_ID_OFFSET} AS oa,
         c.b_id % {DUP_ID_OFFSET} AS ob,
         CAST(floor(
                 CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.shset, b.shset))) * 10000
                 + 1e-6) AS BIGINT) AS j4
  FROM cand c
  JOIN sh a ON c.a_id = a.doc_id
  JOIN sh b ON c.b_id = b.doc_id AND a.lang = b.lang
  WHERE c.a_id % {DUP_ID_OFFSET} != c.b_id % {DUP_ID_OFFSET}
),
withcos AS (
  SELECT s.j4,
         CAST(floor(({_cosine_sql('x.embedding', 'y.embedding')}) * 10000
                    + 1e-6) AS BIGINT) AS c4
  FROM scored s
  JOIN embeddings x ON x.vec_id = s.oa
  JOIN embeddings y ON y.vec_id = s.ob
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(j4) AS BIGINT) AS sj,
         CAST(sum(c4) AS BIGINT) AS sc,
         CAST(sum(j4 * c4) AS BIGINT) AS sjc,
         CAST(sum(j4 * j4) AS BIGINT) AS sjj,
         CAST(sum(c4 * c4) AS BIGINT) AS scc
  FROM withcos WHERE c4 IS NOT NULL
)
SELECT n_pairs,
       CAST(floor(CAST(sj AS DOUBLE) / 10000.0 / CAST(n_pairs AS DOUBLE)
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS mean_jaccard,
       CAST(floor(CAST(sc AS DOUBLE) / 10000.0 / CAST(n_pairs AS DOUBLE)
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS mean_cos,
       CAST(floor((CAST(n_pairs AS DOUBLE) * CAST(sjc AS DOUBLE)
                   - CAST(sj AS DOUBLE) * CAST(sc AS DOUBLE))
                  / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sjj AS DOUBLE)
                          - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE))
                         * (CAST(n_pairs AS DOUBLE) * CAST(scc AS DOUBLE)
                            - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)))
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS pearson_r
FROM agg
"""


LEX_SEM_AGREEMENT_SQL = _lex_sem_sql()


# ---------------------------------------------------------------------------
# Cross-source duplication matrix (R4-152): which feeds copy from
# which — near-dup pairs (the SAME banded candidates + exact-Jaccard
# threshold the survivors path uses) grouped by their source pair,
# with the pair rate normalized by the smaller feed. The provenance
# read behind dropping a mirror feed outright instead of paying
# pairwise dedup against it forever. Injected dups map back to their
# source doc (id % DUP_ID_OFFSET) before the source lookup, so the
# matrix describes the REAL corpus. Bounded by the candidate set.
# ---------------------------------------------------------------------------


def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _jaccard_scored_pairs(spark, sf_dir).where(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    src = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("oid"), "source"
    )
    mapped = pairs.select(
        (F.col("a_id") % DUP_ID_OFFSET).alias("oa"),
        (F.col("b_id") % DUP_ID_OFFSET).alias("ob"),
    )
    sa = src.select(F.col("oid").alias("oa"), F.col("source").alias("src_x"))
    sb = src.select(F.col("oid").alias("ob"), F.col("source").alias("src_y"))
    with_src = (
        mapped.join(sa, "oa")
        .join(sb, "ob")
        .select(
            F.least("src_x", "src_y").alias("src_a"),
            F.greatest("src_x", "src_y").alias("src_b"),
        )
    )
    cnt = with_src.groupBy("src_a", "src_b").agg(
        F.count("*").cast("long").alias("n_dup_pairs")
    )
    sizes = src.groupBy(F.col("source").alias("sz_src")).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    out = (
        cnt.join(F.broadcast(sizes), F.col("src_a") == F.col("sz_src"))
        .withColumnRenamed("n_docs", "docs_a")
        .drop("sz_src")
        .join(F.broadcast(sizes), F.col("src_b") == F.col("sz_src"))
        .withColumnRenamed("n_docs", "docs_b")
        .drop("sz_src")
    )
    rate = F.col("n_dup_pairs").cast("double") / F.least(
        "docs_a", "docs_b"
    ).cast("double")
    return out.select(
        "src_a",
        "src_b",
        "n_dup_pairs",
        "docs_a",
        "docs_b",
        floor_round(rate, 6).alias("dup_rate_vs_smaller"),
    ).orderBy("src_a", "src_b")


CROSS_SOURCE_DUP_SQL = rf"""
WITH {_BANDED_SHINGLES_SQL},
scored AS (
  SELECT c.a_id % {DUP_ID_OFFSET} AS oa,
         c.b_id % {DUP_ID_OFFSET} AS ob
  FROM cand c
  JOIN sh a ON c.a_id = a.doc_id
  JOIN sh b ON c.b_id = b.doc_id AND a.lang = b.lang
  WHERE CAST(floor(CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
               / len(list_distinct(list_concat(a.shset, b.shset))) * 10000
               + 1e-6) / 10000 AS DOUBLE) >= {JACCARD_THRESHOLD}
),
with_src AS (
  SELECT least(da.source, db.source) AS src_a,
         greatest(da.source, db.source) AS src_b
  FROM scored s
  JOIN documents da ON da.doc_id = s.oa
  JOIN documents db ON db.doc_id = s.ob
),
cnt AS (
  SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_dup_pairs
  FROM with_src GROUP BY 1, 2
),
sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1
)
SELECT c.src_a, c.src_b, c.n_dup_pairs,
       x.n_docs AS docs_a, y.n_docs AS docs_b,
       CAST(floor(CAST(c.n_dup_pairs AS DOUBLE)
                  / CAST(least(x.n_docs, y.n_docs) AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE)
         AS dup_rate_vs_smaller
FROM cnt c
JOIN sizes x ON x.source = c.src_a
JOIN sizes y ON y.source = c.src_b
ORDER BY src_a, src_b
"""


# ---------------------------------------------------------------------------
# LSH bucket occupancy (R4-161): the band-bucket width histogram — how
# many (band, hash) buckets hold 1, 2, 3... signatures — plus the
# candidate-pair mass sum(width*(width-1)/2) each width class
# contributes. THE operational read on LSH health: candidate cost is
# quadratic in bucket width, so one hot bucket dominates the join
# (exactly the pathology the round-4 star-reduce fix removed). One
# hash-agg over the shared signature table; output bounded by the
# distinct widths.
# ---------------------------------------------------------------------------


def lsh_bucket_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = _with_bands(_docs_with_injected_dups(spark, sf_dir))
    width = bands.groupBy("band_id", "band_hash").agg(
        F.count("*").cast("long").alias("w")
    )
    hist = width.groupBy("w").agg(
        F.count("*").cast("long").alias("n_buckets")
    )
    tot = hist.agg(
        F.sum(F.col("n_buckets") * F.col("w") * (F.col("w") - 1) / 2)
        .cast("long")
        .alias("total_pairs")
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            F.col("w").alias("bucket_width"),
            "n_buckets",
            (F.col("n_buckets") * F.col("w") * (F.col("w") - 1) / 2)
            .cast("long")
            .alias("pair_mass"),
            floor_round(
                (
                    F.col("n_buckets")
                    * F.col("w")
                    * (F.col("w") - 1)
                    / 2
                ).cast("double")
                / F.col("total_pairs").cast("double"),
                6,
            ).alias("pair_mass_share"),
        )
        .orderBy("bucket_width")
    )


LSH_OCCUPANCY_SQL = rf"""
WITH bands AS ({_minhash_sql(_DUP_SOURCE_SQL)}),
width AS (
  SELECT band_id, band_hash, CAST(count(*) AS BIGINT) AS w
  FROM bands GROUP BY 1, 2
),
hist AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n_buckets FROM width GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_buckets * w * (w - 1) / 2) AS BIGINT) AS total_pairs
  FROM hist
)
SELECT w AS bucket_width, n_buckets,
       CAST(n_buckets * w * (w - 1) / 2 AS BIGINT) AS pair_mass,
       CAST(floor(CAST(n_buckets * w * (w - 1) / 2 AS DOUBLE)
                  / CAST(t.total_pairs AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE)
         AS pair_mass_share
FROM hist, tot t
ORDER BY bucket_width
"""


# ---------------------------------------------------------------------------
# Near-dup degree distribution (R4-162): how many candidate partners
# each document has (degree in the banded-candidate graph), as a
# degree histogram — the doc-side companion to bucket occupancy. A
# long degree tail means a template or boilerplate family is about to
# chain entire clusters through connected components; the histogram
# is the early warning. Candidate pairs reuse the shared band join;
# degrees via explode-both-ends + hash-agg; docs with NO candidates
# appear as degree 0 through a spine anti-count.
# ---------------------------------------------------------------------------


def dup_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = minhash_lsh_pairs(spark, sf_dir)
    ends = pairs.select(F.col("a_id").alias("doc_id")).unionAll(
        pairs.select(F.col("b_id").alias("doc_id"))
    )
    deg = ends.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("degree")
    )
    pool = _docs_with_injected_dups(spark, sf_dir).select("doc_id")
    full = pool.join(deg, "doc_id", "left").select(
        F.coalesce(F.col("degree"), F.lit(0)).cast("long").alias("degree")
    )
    hist = full.groupBy("degree").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    tot = hist.agg(F.sum("n_docs").cast("long").alias("n_total"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "degree",
            "n_docs",
            floor_round(
                F.col("n_docs").cast("double")
                / F.col("n_total").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("degree")
    )


DUP_DEGREE_SQL = rf"""
WITH bands AS ({_minhash_sql(_DUP_SOURCE_SQL)}),
cand AS ({_BAND_PAIRS_SQL}),
ends AS (
  SELECT a_id AS doc_id FROM cand
  UNION ALL
  SELECT b_id AS doc_id FROM cand
),
deg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM ends GROUP BY 1
),
pool AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id + {DUP_ID_OFFSET} AS doc_id
  FROM documents WHERE doc_id < {N_INJECTED_DUPS}
),
full_deg AS (
  SELECT CAST(coalesce(d.degree, 0) AS BIGINT) AS degree
  FROM pool p LEFT JOIN deg d USING (doc_id)
),
hist AS (
  SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
  FROM full_deg GROUP BY 1
),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM hist)
SELECT degree, n_docs,
       CAST(floor(CAST(n_docs AS DOUBLE) / CAST(t.n_total AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS share
FROM hist, tot t
ORDER BY degree
"""


# ---------------------------------------------------------------------------
# SimHash Hamming-distance histogram (R4-179, training:simhash-radius):
# the operational companion to simhash_buckets and the LSH health pair
# (R4-161/162) — before picking a dedup Hamming radius you look at the
# DISTRIBUTION of distances among candidate pairs; a bimodal histogram
# (near-dups vs accidental band collisions) tells you where to cut.
# Candidates collide on any of SIMHASH_HAM_BANDS 4-bit bands of the
# 16-bit simhash; the exact distance is bit_count(xor) — integer ops
# only, no float anywhere.
#
# Scale shape (the §18 collapse applied to VALUES): documents collapse
# to DISTINCT simhash values with multiplicities FIRST (one hash agg),
# so a million byte-identical spam pages are ONE value row; the band
# self-join pairs value rows (width bounded by distinct values per
# band key), and pair counts re-expand arithmetically — n_a·n_b for
# distinct values, C(n,2) at distance 0 — never by materializing the
# quadratic pair set.
# ---------------------------------------------------------------------------

SIMHASH_HAM_BANDS = 4


def simhash_hamming_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    vals = (
        docs.select(_tokens().alias("toks"))
        .select(_simhash(F.col("toks")).alias("sh"))
        .groupBy("sh")
        .agg(F.count("*").cast("long").alias("n"))
    )
    bands = vals.select(
        "sh",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_id"),
                        F.shiftright(F.col("sh"), 4 * j)
                        .bitwiseAND(F.lit(15))
                        .alias("band_key"),
                    )
                    for j in range(SIMHASH_HAM_BANDS)
                ]
            )
        ).alias("b"),
    ).select("sh", "n", "b.band_id", "b.band_key")
    a = bands.select(
        F.col("band_id"), F.col("band_key"),
        F.col("sh").alias("sh_a"), F.col("n").alias("n_a"),
    )
    b = bands.select(
        F.col("band_id"), F.col("band_key"),
        F.col("sh").alias("sh_b"), F.col("n").alias("n_b"),
    )
    cross_pairs = (
        a.join(b, ["band_id", "band_key"])
        .where(F.col("sh_a") < F.col("sh_b"))
        .select("sh_a", "sh_b", "n_a", "n_b")
        .distinct()  # a pair colliding on two bands counts once
        .select(
            F.bit_count(
                F.col("sh_a").bitwiseXOR(F.col("sh_b"))
            ).alias("hamming"),
            (F.col("n_a") * F.col("n_b")).alias("n_pairs"),
        )
    )
    zero_pairs = vals.where(F.col("n") >= 2).select(
        F.lit(0).alias("hamming"),
        (F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("n_pairs"),
    )
    hist = (
        cross_pairs.unionByName(zero_pairs)
        .groupBy("hamming")
        .agg(F.sum("n_pairs").cast("long").alias("n_pairs"))
    )
    tot = hist.agg(F.sum("n_pairs").cast("long").alias("total"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "hamming",
            "n_pairs",
            floor_round(
                F.col("n_pairs").cast("double")
                / F.col("total").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("hamming")
    )


_SIMHASH_HAM_BAND_SQL = " UNION ALL ".join(
    f"SELECT sh, n, {j} AS band_id,"
    f" (sh // {1 << (4 * j)}) % 16 AS band_key"
    f" FROM vals"
    for j in range(SIMHASH_HAM_BANDS)
)

SIMHASH_HAMMING_SQL = rf"""
WITH vals AS MATERIALIZED (
  SELECT CAST({_SIMHASH_BIT_SQL} AS BIGINT) AS sh,
         CAST(count(*) AS BIGINT) AS n
  FROM (SELECT string_split_regex(text, '\s+') AS toks FROM documents)
  GROUP BY 1
),
bands AS MATERIALIZED ({_SIMHASH_HAM_BAND_SQL}),
cross_pairs AS (
  SELECT DISTINCT a.sh AS sh_a, b.sh AS sh_b, a.n AS n_a, b.n AS n_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.sh < b.sh
),
pair_rows AS (
  SELECT bit_count(xor(sh_a, sh_b)) AS hamming,
         CAST(n_a * n_b AS BIGINT) AS n_pairs
  FROM cross_pairs
  UNION ALL
  SELECT 0 AS hamming, CAST(n * (n - 1) / 2 AS BIGINT) AS n_pairs
  FROM vals WHERE n >= 2
),
hist AS (
  SELECT hamming, CAST(sum(n_pairs) AS BIGINT) AS n_pairs
  FROM pair_rows GROUP BY 1
),
tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS total FROM hist)
SELECT hamming, n_pairs,
       CAST(floor(CAST(n_pairs AS DOUBLE) / CAST(t.total AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS share
FROM hist, tot t
ORDER BY hamming
"""
