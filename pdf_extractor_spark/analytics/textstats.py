"""Text-analysis operators over the ``documents`` table.

SURVEY.md §2 coverage: A7 (token counting), F6 (md5 fingerprints),
P5/P6/P7 (tag + LIKE predicates), F15/O1 (BM25 top-k), S3/P10 (HTML
boilerplate strip — the cheap native-regex path; the UDF path lives in
``textproc.html_to_text``), plus the training-pipeline text ops the
engine adds: language-ID heuristic, quality scoring, winnowing
fingerprints.

Parity rules used throughout (Spark side ↔ DuckDB oracle side):
* tokenization = regex split on ``\\s+`` (identical both engines);
* hashing = md5 hex (identical);
* rounding = ``floor(x*10^k + 1e-6)/10^k`` — floor avoids the half-up
  vs half-even divergence between engines, and the 1e-6 slack on the
  scaled value keeps a score that lands mathematically ON a boundary
  from flipping on 1-ulp cross-engine noise (see base.floor_round);
* every computed column is aliased identically in both.
"""

from __future__ import annotations

from typing import Iterator

import pandas
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import floor_round as _floor_round
from .base import _DOC_WAVE_SQL, _doc_wave, load
from .base import tokens as _tokens

STOPWORDS = ["the", "a", "fast", "slow"]
BM25_TERMS = ["spark", "window", "merge"]
BM25_K1 = 1.2
BM25_B = 0.75


# ---------------------------------------------------------------------------
# A7 — token counting
# ---------------------------------------------------------------------------


def doc_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.size(_tokens()).alias("n_tokens"), F.col("n_chars")
    )


DOC_TOKEN_COUNT_SQL = r"""
SELECT doc_id,
       len(string_split_regex(text, '\s+')) AS n_tokens,
       n_chars
FROM documents
"""


# ---------------------------------------------------------------------------
# F6 — md5 content fingerprint
# ---------------------------------------------------------------------------


def md5_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", F.md5("text").alias("fp"))


MD5_FINGERPRINT_SQL = "SELECT doc_id, md5(text) AS fp FROM documents"


# ---------------------------------------------------------------------------
# P7 — multi-field LIKE predicate composition
# ---------------------------------------------------------------------------


def like_multifield(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pred = (
        F.lower("text").contains("spark") & F.lower("text").contains("window")
    ) | F.lower("source").contains("src1")
    return docs.filter(pred).select("doc_id", "lang", "source")


LIKE_MULTIFIELD_SQL = """
SELECT doc_id, lang, source
FROM documents
WHERE (lower(text) LIKE '%spark%' AND lower(text) LIKE '%window%')
   OR lower(source) LIKE '%src1%'
"""


# ---------------------------------------------------------------------------
# P5 — tag membership (tags := token set of the document)
# ---------------------------------------------------------------------------


def tag_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.filter(F.array_contains(_tokens(), "vector")).select(
        "doc_id", "lang"
    )


TAG_MEMBERSHIP_SQL = r"""
SELECT doc_id, lang
FROM documents
WHERE list_contains(string_split_regex(text, '\s+'), 'vector')
"""


# ---------------------------------------------------------------------------
# P6 / U1 — tag-intersection cardinality predicate
# ---------------------------------------------------------------------------

_TAG_KEYWORDS = ["spark", "vector", "stream", "hash"]


def tag_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    n_common = F.size(
        F.array_intersect(_tokens(), F.array(*[F.lit(k) for k in _TAG_KEYWORDS]))
    )
    return (
        docs.select("doc_id", n_common.alias("n_common"))
        .filter(F.col("n_common") >= 3)
    )


TAG_INTERSECTION_SQL = r"""
SELECT doc_id, n_common
FROM (
  SELECT doc_id,
         len(list_intersect(string_split_regex(text, '\s+'),
                            ['spark','vector','stream','hash'])) AS n_common
  FROM documents
)
WHERE n_common >= 3
"""


# ---------------------------------------------------------------------------
# training-pipeline: quality scoring (length / stopword / word-len ratios)
# ---------------------------------------------------------------------------


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = _tokens()
    n_tokens = F.size(toks)
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(STOPWORDS))  # type: ignore[arg-type]
    )
    stop_ratio = stop_hits / n_tokens
    avg_len = (F.col("n_chars") - (n_tokens - 1)) / n_tokens
    score = (
        0.5 * F.least(n_tokens.cast("double"), F.lit(256.0)) / 256.0
        + 0.3 * (1.0 - stop_ratio)
        + 0.2 * F.least(avg_len, F.lit(8.0)) / 8.0
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        _floor_round(stop_ratio, 4).alias("stop_ratio"),
        _floor_round(score, 4).alias("quality"),
    )


QUALITY_SCORE_SQL = r"""
SELECT doc_id,
       n_tokens,
       CAST(floor(stop_ratio * 10000 + 1e-6) / 10000 AS DOUBLE) AS stop_ratio,
       CAST(floor((0.5 * least(CAST(n_tokens AS DOUBLE), 256.0) / 256.0
             + 0.3 * (1.0 - stop_ratio)
             + 0.2 * least(avg_len, 8.0) / 8.0) * 10000 + 1e-6) / 10000 AS DOUBLE) AS quality
FROM (
  SELECT doc_id,
         len(toks) AS n_tokens,
         CAST(len(list_filter(toks, t -> list_contains(['the','a','fast','slow'], t))) AS DOUBLE)
           / len(toks) AS stop_ratio,
         CAST(n_chars - (len(toks) - 1) AS DOUBLE) / len(toks) AS avg_len
  FROM (SELECT doc_id, n_chars, string_split_regex(text, '\s+') AS toks FROM documents)
)
"""


# ---------------------------------------------------------------------------
# training-pipeline: language-ID heuristic (stopword-set hit counts)
# ---------------------------------------------------------------------------

_LANG_SETS = {
    "en": ["the", "a", "table", "join"],
    "de": ["der", "und", "fenster"],
    "es": ["el", "y", "tabla"],
}


def _sql_words(lang: str) -> str:
    """DuckDB list literal for _LANG_SETS[lang] — interpolated into the
    oracle SQL so editing the Python constant can never silently desync
    the oracle (same pattern as NEG_K/CMS_D elsewhere)."""
    return "[" + ",".join(f"'{w}'" for w in _LANG_SETS[lang]) + "]"


def _lang_pred() -> Column:
    """The stopword-hit language prediction: en, then de, then es."""
    toks = _tokens()
    hits = {
        lang: F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in ws]))
        )
        for lang, ws in _LANG_SETS.items()
    }
    return (
        F.when((hits["en"] >= hits["de"]) & (hits["en"] >= hits["es"]), "en")
        .when(hits["de"] >= hits["es"], "de")
        .otherwise("es")
    )


def _lang_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion cells: (actual, predicted, n)."""
    return (
        load(spark, sf_dir, "documents")
        .select(F.col("lang").alias("actual"), _lang_pred().alias("predicted"))
        .groupBy("actual", "predicted")
        .agg(F.count("*").cast("long").alias("n"))
    )


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", _lang_pred().alias("lang_pred"))


# the language-ID oracles' shared prediction: stopword hits per language,
# then the en > de > es tie order
_LANG_HITS_SQL = f"""len(list_intersect(toks, {_sql_words("en")})) AS en,
         len(list_intersect(toks, {_sql_words("de")})) AS de,
         len(list_intersect(toks, {_sql_words("es")})) AS es"""

_LANG_CASE_SQL = """CASE WHEN en >= de AND en >= es THEN 'en'
            WHEN de >= es THEN 'de'
            ELSE 'es' END"""

LANG_ID_SQL = rf"""
SELECT doc_id,
       {_LANG_CASE_SQL} AS lang_pred
FROM (
  SELECT doc_id,
         {_LANG_HITS_SQL}
  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents)
)
"""


# ---------------------------------------------------------------------------
# training-pipeline: winnowing document fingerprint (min rolling hash)
# ---------------------------------------------------------------------------

_WINDOW = 8


def winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # tokens MUST be materialized before the HOF: a split() expression
    # captured in the lambda body is re-evaluated per window, turning
    # the scan O(len²) per doc (>280 s on one 100k-char doc vs 2 s —
    # adversarial-sweep find); slice beats an element_at fan-out ~3×
    toks = F.col("toks")
    windows = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (_WINDOW - 1)),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, _WINDOW))),
    )
    fp = F.when(F.size(toks) >= _WINDOW, F.array_min(windows)).otherwise(
        F.md5("text")
    )
    return docs.select("doc_id", "text", _tokens().alias("toks")).select(
        "doc_id", fp.alias("fingerprint")
    )


WINNOW_FINGERPRINT_SQL = rf"""
SELECT doc_id,
       CASE WHEN len(toks) >= {_WINDOW}
            THEN list_min(list_transform(
                   generate_series(1, len(toks) - {_WINDOW - 1}),
                   i -> md5(array_to_string(toks[i:i+{_WINDOW - 1}], ' '))))
            ELSE md5(text) END AS fingerprint
FROM (SELECT doc_id, text, string_split_regex(text, '\s+') AS toks FROM documents)
"""


# ---------------------------------------------------------------------------
# F15 / O1 — BM25 keyword search, top-10
# ---------------------------------------------------------------------------


def _bm25_from_per_doc(per_doc: DataFrame, n_terms: int) -> DataFrame:
    """Shared scoring tail: corpus stats over a (doc_id, dl, tf_*)
    projection, broadcast, Robertson idf × tf saturation, floor-round.
    Both tokenizer front-ends (raw whitespace and text_en) feed this —
    the BM25 math exists exactly once."""
    stats = per_doc.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).cast("double").alias(f"df_{i}")
            for i in range(n_terms)
        ],
    )
    joined = per_doc.crossJoin(F.broadcast(stats))
    score = None
    for i in range(n_terms):
        idf = F.log(
            1.0
            + (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        tf = F.col(f"tf_{i}").cast("double")
        comp = idf * (
            tf
            * (BM25_K1 + 1.0)
            / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")))
        )
        score = comp if score is None else score + comp
    return joined.select("doc_id", _floor_round(score, 4).alias("bm25"))


def _bm25_per_doc(docs: DataFrame, toks: Column, terms: list) -> DataFrame:
    """(doc_id, dl, tf_0..) — document length and each query term's
    count in the token array ``toks``."""
    def _eq(term: str):
        # NB: capture via factory, not lambda default args — Spark counts
        # default args in HOF lambda arity and would pass the array index.
        return lambda t: t == F.lit(term)

    return docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[
            F.size(F.filter(toks, _eq(t_))).alias(f"tf_{i}")
            for i, t_ in enumerate(terms)
        ],
    )


def bm25_scores(docs: DataFrame, terms: list | None = None) -> DataFrame:
    """(doc_id, bm25) for every document — shared by bm25_search, the
    hybrid RRF query, and the user-facing dispatch (``terms`` carries
    an arbitrary tokenized query; default = the graded fixture terms)."""
    terms = BM25_TERMS if terms is None else terms
    per_doc = _bm25_per_doc(docs, _tokens(), terms)
    # BM25 needs corpus stats BEFORE scoring → two passes over per_doc.
    # Persist the projection so the expensive part (parquet scan +
    # tokenization of every document) runs once; what's cached is only
    # (doc_id, dl, tf_*) — a handful of numerics per doc, ~10^4× smaller
    # than the corpus, which is exactly what you'd materialize at 100 TB.
    # Deliberately session-lifetime (no unpersist): the builder can't
    # know when its lazy consumers finish; entries are tiny and Spark's
    # LRU evicts under pressure — same policy as dedup._with_bands.
    # Only the fixed graded/benched plan is cached — ad-hoc query terms
    # would otherwise grow one cache entry per distinct query string.
    if terms is BM25_TERMS:
        per_doc = per_doc.persist()
    return _bm25_from_per_doc(per_doc, len(terms))


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        bm25_scores(load(spark, sf_dir, "documents"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )


_BM25_TF_SQL = ", ".join(
    f"CAST(len(list_filter(toks, t -> t = '{term}')) AS DOUBLE) AS tf_{i}"
    for i, term in enumerate(BM25_TERMS)
)
_BM25_SCORE_SQL = " + ".join(
    f"ln(1.0 + (s.n_docs - s.df_{i} + 0.5) / (s.df_{i} + 0.5))"
    f" * (d.tf_{i} * ({BM25_K1} + 1.0)"
    f" / (d.tf_{i} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * d.dl / s.avgdl)))"
    for i in range(len(BM25_TERMS))
)
BM25_SCORES_CTE = rf"""
per_doc AS (
  SELECT doc_id,
         CAST(len(toks) AS DOUBLE) AS dl,
         {_BM25_TF_SQL}
  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents)
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         avg(dl) AS avgdl,
         {', '.join(f'CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}' for i in range(len(BM25_TERMS)))}
  FROM per_doc
), bm25_scored AS (
  SELECT doc_id,
         CAST(floor(({_BM25_SCORE_SQL}) * 10000 + 1e-6) / 10000 AS DOUBLE) AS bm25
  FROM per_doc d CROSS JOIN stats s
)"""

BM25_SEARCH_SQL = f"""
WITH {BM25_SCORES_CTE}
SELECT doc_id, bm25 FROM bm25_scored
ORDER BY bm25 DESC, doc_id ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# S3 / P10 — HTML boilerplate strip, native-regex path
# (the general UDF path is textproc.html_to_text; this is the cheap
#  Catalyst-only variant the reference's bleach/html2text call maps to
#  for structurally simple html — corpus_utils.py:138-147)
# ---------------------------------------------------------------------------

_HTML_WRAP_SPARK = (
    "<html><head><style>p{{color:red}}</style></head><body>"
    "<nav><a href='/'>home</a></nav><h1>Doc </h1><p>",
    "</p><script>var x=1;</script><footer>c</footer></body></html>",
)


def html_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(_HTML_WRAP_SPARK[0].replace("{{", "{").replace("}}", "}")),
        F.col("text"),
        F.lit(_HTML_WRAP_SPARK[1]),
    )
    s = html
    for tag in ("script", "style", "nav", "footer"):
        s = F.regexp_replace(s, f"<{tag}[^>]*>.*?</{tag}>", " ")
    s = F.regexp_replace(s, "</?(p|div|h1|br)[^>]*>", "\n")
    s = F.regexp_replace(s, "<[^>]+>", " ")
    s = F.regexp_replace(s, "&amp;", "&")
    s = F.trim(F.regexp_replace(s, r"\s+", " "))
    return docs.select("doc_id", s.alias("clean_text"))


HTML_STRIP_SQL = r"""
SELECT doc_id,
  trim(regexp_replace(
    replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(h, '<script[^>]*>.*?</script>', ' ', 'g'),
              '<style[^>]*>.*?</style>', ' ', 'g'),
            '<nav[^>]*>.*?</nav>', ' ', 'g'),
          '<footer[^>]*>.*?</footer>', ' ', 'g'),
        '</?(p|div|h1|br)[^>]*>', chr(10), 'g'),
      '<[^>]+>', ' ', 'g'),
    '&amp;', '&'),
  '\s+', ' ', 'g')) AS clean_text
FROM (
  SELECT doc_id,
         '<html><head><style>p{color:red}</style></head><body>'
         || '<nav><a href=''/''>home</a></nav><h1>Doc </h1><p>'
         || text
         || '</p><script>var x=1;</script><footer>c</footer></body></html>' AS h
  FROM documents
)
"""


# ---------------------------------------------------------------------------
# P5 AND-mode — all tags must be present (tag_search.py:54-57
# POSITION(doc.tags, tag) != false, AND-joined)
# ---------------------------------------------------------------------------

_ALL_TAGS = ["table", "join", "merge"]


def tag_search_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = _tokens()
    pred = None
    for t in _ALL_TAGS:
        c = F.array_contains(toks, t)
        pred = c if pred is None else (pred & c)
    return docs.filter(pred).select("doc_id", "lang")


TAG_SEARCH_ALL_SQL = r"""
SELECT doc_id, lang
FROM (SELECT doc_id, lang, string_split_regex(text, '\s+') AS toks FROM documents)
WHERE list_contains(toks, 'table')
  AND list_contains(toks, 'join')
  AND list_contains(toks, 'merge')
"""


# ---------------------------------------------------------------------------
# P7 prefix search — glossary-style term lookup (glossary.py:53-59)
# ---------------------------------------------------------------------------


def glossary_prefix_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    return (
        part.filter(F.lower("p_name").startswith("sma"))
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    )


GLOSSARY_PREFIX_SQL = """
SELECT p_partkey, p_name FROM part
WHERE lower(p_name) LIKE 'sma%'
ORDER BY p_partkey
"""


# ---------------------------------------------------------------------------
# A9/F14 faithful — rapidfuzz partial_ratio-style fuzzy scoring
# (reference arangodb/search_api/search_basic.py:142-165: per keyword,
#  fuzz.partial_ratio(kw.lower(), field.lower()) best-of-fields; keep a
#  doc when ANY keyword scores >= threshold; total = SUM of the scores
#  that clear the threshold; sort total desc, limit).
#
# partial_ratio = best normalized similarity of the needle against any
# equal-length window of the haystack. The engine computes the windowed
# normalized-Levenshtein similarity max(100 * (1 - lev(kw, window)/|kw|))
# over every window start — a documented proxy for rapidfuzz's
# indel-ratio alignment, identical in Spark and DuckDB (both have
# native levenshtein + substr, so the whole thing stays JVM-side /
# vectorized — no Python UDF). The scored field is the lowercased
# first PR_FIELD_CHARS chars of the document (bounds compute; windows
# are O(field_len) per keyword per row, embarrassingly parallel —
# no shuffle at all until the final top-k).
# ---------------------------------------------------------------------------

PR_KEYWORDS = ["spark", "windoe", "mirge"]  # 0/1/1 edits from corpus words
PR_THRESHOLD = 70.0
PR_FIELD_CHARS = 120
PR_LIMIT = 20


def _pr_window_sim(kw: str) -> Column:
    """Similarity of keyword ``kw`` vs the window starting at ``i`` in
    ``fld`` — NULL when ``i`` is past this keyword's last window (max
    ignores nulls), so one shared explode serves every keyword length."""
    k = len(kw)
    in_range = F.col("i") <= F.greatest(
        F.lit(1), F.length("fld") - F.lit(k - 1)
    )
    sim = 100.0 * (
        1
        - F.levenshtein(F.substr(F.col("fld"), F.col("i"), F.lit(k)), F.lit(kw))
        / F.lit(float(k))
    )
    return F.when(in_range, sim)


def fuzzy_partial_ratio_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    field = F.lower(F.substring(F.col("text"), 1, PR_FIELD_CHARS))
    # explode windows → max aggregate (codegen'd) rather than an
    # array_max over a transform(): Spark runs HOF lambdas interpreted,
    # which made ~10³ levenshtein evals per doc the bottleneck. max is
    # order-independent, so aggregation order cannot flip the result.
    min_k = min(len(kw) for kw in PR_KEYWORDS)
    base = docs.select("doc_id", field.alias("fld"))
    win = base.select(
        "doc_id",
        "fld",
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.lit(1), F.length("fld") - F.lit(min_k - 1)),
            )
        ).alias("i"),
    )
    scored = win.groupBy("doc_id").agg(
        *[
            F.max(_pr_window_sim(kw)).alias(f"s{i}")
            for i, kw in enumerate(PR_KEYWORDS)
        ]
    )
    clears = [
        F.when(F.col(f"s{i}") >= PR_THRESHOLD, F.col(f"s{i}")).otherwise(0.0)
        for i in range(len(PR_KEYWORDS))
    ]
    total = clears[0]
    for c in clears[1:]:
        total = total + c
    return (
        scored.withColumn("total_score", _floor_round(total, 4))
        .filter(F.col("total_score") > 0)  # ANY keyword cleared threshold
        .select("doc_id", "total_score")
        .orderBy(F.desc("total_score"), F.asc("doc_id"))
        .limit(PR_LIMIT)
    )


def _pr_score_sql(field: str, kw: str) -> str:
    k = len(kw)
    return (
        f"list_max(list_transform("
        f"generate_series(1, greatest(1, len({field}) - {k - 1})), "
        f"i -> 100.0 * (1 - levenshtein(substr({field}, i, {k}), '{kw}') / {float(k)!r})))"
    )


_PR_SCORE_COLS = ", ".join(
    f"{_pr_score_sql('fld', kw)} AS s{i}" for i, kw in enumerate(PR_KEYWORDS)
)
_PR_TOTAL = " + ".join(
    f"(CASE WHEN s{i} >= {PR_THRESHOLD} THEN s{i} ELSE 0.0 END)"
    for i in range(len(PR_KEYWORDS))
)

FUZZY_PARTIAL_RATIO_SQL = f"""
SELECT doc_id, total_score FROM (
  SELECT doc_id,
         CAST(floor(({_PR_TOTAL}) * 10000 + 1e-6) / 10000 AS DOUBLE) AS total_score
  FROM (
    SELECT doc_id, {_PR_SCORE_COLS}
    FROM (SELECT doc_id, lower(substr(text, 1, {PR_FIELD_CHARS})) AS fld FROM documents)
  )
)
WHERE total_score > 0
ORDER BY total_score DESC, doc_id ASC
LIMIT {PR_LIMIT}
"""


# ---------------------------------------------------------------------------
# F15 text_en variant — BM25 over the text_en analyzer
# (reference ArangoSearch views use the built-in ``text_en`` analyzer —
#  arangodb/config.py:25-26: lowercase + accent strip + English
#  stemming, empty stopword list — so "tables"/"queries"/"merging"
#  match documents containing "table"/"query"/"merge". The whitespace-
#  token BM25 above is ranking-equivalent only on already-normalized
#  text; this variant carries the analyzer itself.)
#
# Layering of the parity argument:
#  * the Porter stemmer is verified against a pinned fixture of the
#    published algorithm's own example words (tests/test_text_analyzer.py);
#  * the oracle SQL applies the SAME deterministic token→stem mapping
#    via an embedded VALUES lookup (non-identity stems of the corpus
#    vocabulary; identity fallback for unseen tokens), so the driver
#    gate independently verifies the BM25 math + analyzer plumbing
#    cross-engine. (DuckDB's own stem() lives in the fts extension,
#    which is unavailable offline.)
# ---------------------------------------------------------------------------

STEMMED_QUERY_TERMS = ["tables", "queries", "merging"]  # → tabl/queri/merg

# the synthetic corpus vocabulary (TESTDATA.md documents.text) — used
# only to build the oracle's stem lookup; unseen tokens fall back to
# identity on the oracle side, so vocabulary drift fails loudly in the
# gate rather than silently skewing it
_CORPUS_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _stemmed_tokens_udf():
    from ..textproc import text_en_tokens

    @F.pandas_udf("array<string>")
    def stem_toks(
        batches: Iterator[pandas.Series],
    ) -> Iterator[pandas.Series]:
        for texts in batches:
            yield texts.map(lambda t: text_en_tokens(t or ""))

    return stem_toks


def bm25_scores_stemmed(docs: DataFrame, query: str | None = None) -> DataFrame:
    """(doc_id, bm25) with text_en-analyzed tokens; query terms pass
    through the same analyzer (ArangoSearch analyzes both sides).
    ``query`` is an arbitrary user query string; default = the graded
    fixture terms."""
    from ..textproc import text_en_tokens

    terms = text_en_tokens(
        " ".join(STEMMED_QUERY_TERMS) if query is None else query
    )
    if not terms:
        raise ValueError("empty query after analysis")
    per_doc = _bm25_per_doc(docs, _stemmed_tokens_udf()(F.col("text")), terms)
    if query is None:  # cache only the fixed graded plan (see bm25_scores)
        per_doc = per_doc.persist()
    return _bm25_from_per_doc(per_doc, len(terms))


def bm25_search_stemmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        bm25_scores_stemmed(load(spark, sf_dir, "documents"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )


def _stemmed_sql() -> str:
    from ..textproc import porter_stem

    terms = [porter_stem(t) for t in STEMMED_QUERY_TERMS]
    stem_values = ", ".join(
        f"('{w}', '{porter_stem(w)}')"
        for w in _CORPUS_VOCAB
        if porter_stem(w) != w
    )
    tf_aggs = ", ".join(
        f"sum(CASE WHEN tok = '{t}' THEN 1 ELSE 0 END) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    tf_cols = ", ".join(
        f"CAST(coalesce(s.tf_{i}, 0) AS DOUBLE) AS tf_{i}"
        for i in range(len(terms))
    )
    df_aggs = ", ".join(
        f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}"
        for i in range(len(terms))
    )
    score = " + ".join(
        f"ln(1.0 + (s.n_docs - s.df_{i} + 0.5) / (s.df_{i} + 0.5))"
        f" * (d.tf_{i} * ({BM25_K1} + 1.0)"
        f" / (d.tf_{i} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * d.dl / s.avgdl)))"
        for i in range(len(terms))
    )
    return f"""
WITH stem_map(tok, stem_tok) AS (SELECT * FROM (VALUES {stem_values})),
tok_rows AS (
  SELECT doc_id,
         unnest(regexp_extract_all(strip_accents(lower(text)), '[a-z0-9]+')) AS tok
  FROM documents
),
stemmed AS (
  SELECT t.doc_id, coalesce(m.stem_tok, t.tok) AS tok
  FROM tok_rows t LEFT JOIN stem_map m ON t.tok = m.tok
),
per_doc AS (
  SELECT d.doc_id, CAST(coalesce(s.dl, 0) AS DOUBLE) AS dl, {tf_cols}
  FROM documents d LEFT JOIN (
    SELECT doc_id, count(*) AS dl, {tf_aggs}
    FROM stemmed GROUP BY doc_id
  ) s USING (doc_id)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl, {df_aggs}
  FROM per_doc
)
SELECT doc_id,
       CAST(floor(({score}) * 10000 + 1e-6) / 10000 AS DOUBLE) AS bm25
FROM per_doc d CROSS JOIN stats s
ORDER BY bm25 DESC, doc_id ASC
LIMIT 10
"""


BM25_SEARCH_STEMMED_SQL = _stemmed_sql()


# ---------------------------------------------------------------------------
# A7 upgrade — BPE token counting (real subword algorithm, vendored
# merges table; see textproc.bpe_token_count and scripts/train_bpe.py)
#
# Oracle layering, same pattern as the stemmed BM25 above: the corpus
# vocabulary is finite and pinned, so the oracle SQL embeds each word's
# BPE token count as a VALUES lookup and independently verifies the
# tokenize→sum plumbing cross-engine. An out-of-vocabulary token makes
# the oracle emit NULL (count(*) != count(n)) — vocabulary drift fails
# the gate loudly instead of skewing it.
# ---------------------------------------------------------------------------


def _bpe_count_udf():
    from ..textproc import bpe_token_count

    @F.pandas_udf("int")
    def bpe_count(
        batches: Iterator[pandas.Series],
    ) -> Iterator[pandas.Series]:
        for texts in batches:
            yield texts.map(lambda t: bpe_token_count(t or ""))

    return bpe_count


def doc_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", _bpe_count_udf()(F.col("text")).alias("n_bpe_tokens")
    )


def _bpe_per_doc_sql() -> str:
    """The BPE oracles' shared prefix: each document's pinned-vocabulary
    BPE token count (NULL when a token is out of vocabulary)."""
    from ..textproc import bpe_token_count

    values = ", ".join(
        f"('{w}', {bpe_token_count(w)})" for w in _CORPUS_VOCAB
    )
    return rf"""
WITH bpe_counts(tok, n) AS (SELECT * FROM (VALUES {values})),
tok_rows AS (
  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
  FROM documents
),
per_doc AS (
  SELECT t.doc_id,
         CAST(CASE WHEN count(*) = count(m.n) THEN sum(m.n) END AS INT)
           AS n_bpe_tokens
  FROM tok_rows t LEFT JOIN bpe_counts m ON t.tok = m.tok
  WHERE t.tok <> ''
  GROUP BY t.doc_id
)"""


def _bpe_sql() -> str:
    return _bpe_per_doc_sql() + r"""
-- re-anchor on documents: an empty/whitespace-only doc has no surviving
-- tok_rows and would otherwise VANISH from the oracle while the Spark
-- kernel correctly emits n_bpe_tokens=0 for it (rows-mismatch at the
-- gate). OOV docs keep NULL (the loud-fail contract) via the CASE.
SELECT d.doc_id,
       CAST(CASE WHEN p.doc_id IS NULL THEN 0
                 ELSE p.n_bpe_tokens END AS INT) AS n_bpe_tokens
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


DOC_TOKEN_COUNT_BPE_SQL = _bpe_sql()


def bm25_collection_cte(prefix: str, where_sql: str) -> str:
    """Per-collection BM25 CTE block (corpus stats computed WITHIN the
    collection — reference search runs each collection's view with its
    own statistics, search_functions.py:146-178)."""
    return rf"""
{prefix}_per_doc AS (
  SELECT doc_id,
         CAST(len(toks) AS DOUBLE) AS dl,
         {_BM25_TF_SQL}
  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
        FROM documents WHERE {where_sql})
), {prefix}_stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         avg(dl) AS avgdl,
         {', '.join(f'CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}' for i in range(len(BM25_TERMS)))}
  FROM {prefix}_per_doc
), {prefix}_scored AS (
  SELECT doc_id,
         CAST(floor(({_BM25_SCORE_SQL}) * 10000 + 1e-6) / 10000 AS DOUBLE) AS bm25
  FROM {prefix}_per_doc d CROSS JOIN {prefix}_stats s
)"""


# ---------------------------------------------------------------------------
# Per-document tf-idf keyword extraction (training:tfidf-keywords —
# the standard corpus-profiling op next to BM25: the top terms that
# characterize each document against the whole collection; what a
# curation pipeline feeds into topic buckets / dedup explanations).
#
# tf = in-doc term count, idf = ln((N+1)/(df+1)) + 1 (smoothed,
# never negative), score = tf * idf under the house floor4 (ranking
# on the FLOORED score + term tie-break keeps the order identical
# across engines — raw-float ranking can flip on 1-ulp ln noise).
#
# Scale shape: explode → one (doc_id, term) hash-aggregate (map-side
# combined); document frequency is a second aggregate OVER THE
# (doc_id, term) COUNTS (each doc contributes each term once — never
# a distinct over raw tokens); N rides a single-row
# crossJoin(broadcast(...)); the per-doc top-k window partitions by
# doc_id, so a partition is one document's VOCABULARY — bounded by
# doc length, never corpus-shaped (the hot-key window caveat of
# paragraph_dedup does not apply).
# ---------------------------------------------------------------------------

TFIDF_TOP_K = 5


def tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(_tokens()).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            _floor_round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + 1.0) / (F.col("df") + 1.0)
                    )
                    + 1.0
                ),
                4,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "rank", "term", "tf", "df", "tfidf")
    )


TFIDF_KEYWORDS_SQL = rf"""
WITH terms AS (
  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM terms GROUP BY doc_id, term
), df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
), n AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents
), scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         CAST(floor(t.tf * (ln((n.n_docs + 1.0) / (d.df + 1.0)) + 1.0)
                    * 10000 + 1e-6) / 10000 AS DOUBLE) AS tfidf
  FROM tf t JOIN df d USING (term) CROSS JOIN n
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf, df, tfidf
FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


# ---------------------------------------------------------------------------
# Search-result log rendering (reference ``arangodb/main_usage.py:
# 92-119`` log_search_results): the per-result display line
# ``  {i}. Score: {score:.4f} | Key: {key} | Problem: {problem} |
# Tags: [{tags}]`` over the BM25 top-10 (the bm25_score call site —
# score_field IS bm25_score there, so the other-scores suffix is
# empty by the reference's own `score_field !=` guards). Quirks
# carried as-is: problem is ALWAYS truncated-plus-'...' even when the
# text is shorter than 80 chars, and tags join with ', ' inside
# brackets. %.4f is engine-stable because bm25 is already floored to
# the 4-decimal grid (distance to a rounding boundary is ~1e-17).
#
# Scale shape: the 10-row result side broadcasts into the documents
# scan (one broadcast hash join), everything else is a map-only
# projection; the enumeration window runs over 10 rows.
# ---------------------------------------------------------------------------


def search_results_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    top = bm25_search(spark, sf_dir)
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    top = top.withColumn("pos", F.row_number().over(w))
    enriched = docs.select(
        "doc_id", "text", _tokens().alias("toks")
    ).join(F.broadcast(top), "doc_id")
    tags = F.array_join(
        F.filter(
            F.array(*[F.lit(k) for k in _TAG_KEYWORDS]),
            lambda kw: F.array_contains(F.col("toks"), kw),
        ),
        ", ",
    )
    problem = F.concat(F.substring("text", 1, 80), F.lit("..."))
    line = F.format_string(
        "  %d. Score: %.4f | Key: %s | Problem: %s | Tags: [%s]",
        F.col("pos"),
        F.col("bm25"),
        F.col("doc_id").cast("string"),
        problem,
        tags,
    )
    return enriched.select(
        "pos", "doc_id", line.alias("line")
    ).orderBy("pos")


SEARCH_LOG_SQL = f"""
WITH {BM25_SCORES_CTE},
top10 AS (
  SELECT doc_id, bm25,
         row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS pos
  FROM bm25_scored
  ORDER BY bm25 DESC, doc_id ASC
  LIMIT 10
)
SELECT t.pos, t.doc_id,
       printf('  %d. Score: %.4f | Key: %s | Problem: %s | Tags: [%s]',
              t.pos, t.bm25, CAST(t.doc_id AS VARCHAR),
              substr(d.text, 1, 80) || '...',
              array_to_string(
                list_filter({_TAG_KEYWORDS!r},
                  kw -> list_contains(
                    string_split_regex(d.text, '\\s+'), kw)),
                ', ')) AS line
FROM top10 t JOIN documents d USING (doc_id)
ORDER BY t.pos
"""


# ---------------------------------------------------------------------------
# Inverted-index build (training:inverted-index) — the posting-list
# construction behind every keyword/BM25 surface in the reference
# (ArangoSearch builds this view server-side, arangodb/config.py view
# definition; search_api/bm25.py then queries it). Spark-side the
# build is the canonical index MapReduce: explode tokens → per
# (term, doc) tf aggregate → per (term, block) posting arrays.
#
# Postings are BLOCKED by doc-id range (IDX_BLOCK docs per block), the
# standard scale layout: a hot term (stopword) at 100 TB has a
# billion-doc posting list, and a flat collect_list would funnel it
# into one task/row; with range blocks no aggregation state exceeds
# IDX_BLOCK entries, blocks of one term parallelize across tasks, and
# a reader merge-scans blocks in (term, block_id) order. Both
# aggregates are map-side combinable; the explode is codegen'd.
# Term vocabulary is bounded to lowercase alphabetic terms of >= 3
# chars (the analyzer's token-class filter).
# ---------------------------------------------------------------------------

IDX_BLOCK = 250
IDX_MIN_TERM_LEN = 3


def inverted_index_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(_tokens()).alias("tok")
    ).select("doc_id", F.lower("tok").alias("term"))
    terms = terms.where(
        F.col("term").rlike(rf"^[a-z]{{{IDX_MIN_TERM_LEN},}}$")
    )
    tf = terms.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    return (
        tf.withColumn("block_id", F.floor(F.col("doc_id") / IDX_BLOCK))
        .groupBy("term", "block_id")
        .agg(
            F.count("*").alias("df_block"),
            F.sum("tf").cast("long").alias("cf_block"),
            F.array_sort(F.collect_list("doc_id")).alias("postings"),
        )
        .orderBy("term", "block_id")
    )


INVERTED_INDEX_SQL = rf"""
WITH terms AS (
  SELECT doc_id, lower(tok) AS term
  FROM (
    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
    FROM documents
  )
  WHERE regexp_matches(lower(tok), '^[a-z]{{{IDX_MIN_TERM_LEN},}}$')
),
tf AS (
  SELECT term, doc_id, count(*) AS tf FROM terms GROUP BY 1, 2
)
SELECT term,
       CAST(floor(doc_id / {IDX_BLOCK}.0) AS BIGINT) AS block_id,
       count(*) AS df_block,
       CAST(sum(tf) AS BIGINT) AS cf_block,
       list(doc_id ORDER BY doc_id) AS postings
FROM tf
GROUP BY 1, 2
ORDER BY term, block_id
"""


# ---------------------------------------------------------------------------
# Corpus drift: token-distribution KL divergence between crawl waves
# (training:drift-kl) — the monitoring pass a continuously-ingested
# corpus needs: when wave N+1's token distribution diverges from wave
# N's, something changed upstream (a spam flood, a parser regression,
# a source going dark). Reported per-term so the TOP CONTRIBUTORS
# name the drift, not just score it.
#
# Waves here are the deterministic halves of the corpus (doc_id below/
# above the midpoint — the synthetic stand-in for crawl timestamps).
# Add-one smoothing over the union vocabulary V keeps q > 0, so
# kl_term = p·ln(p/q) is total and Σ kl_term ≥ 0.
#
# Scale shape: explode → per-(term, wave) hash aggregate (map-side
# combined), a 1-row totals broadcast, then TakeOrdered for the top
# contributors — the same two-shuffle skeleton as the inverted index,
# with the vocabulary table never collected anywhere.
# ---------------------------------------------------------------------------

DRIFT_TOP_N = 20


def corpus_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    mid = docs.agg(
        ((F.min("doc_id") + F.max("doc_id")) / 2).alias("mid")
    )
    terms = (
        docs.crossJoin(F.broadcast(mid))
        .select(
            (F.col("doc_id") >= F.col("mid")).alias("new_wave"),
            F.explode(_tokens()).alias("term"),
        )
        .groupBy("term")
        .agg(
            F.sum(F.when(~F.col("new_wave"), 1).otherwise(0)).alias("c_old"),
            F.sum(F.when(F.col("new_wave"), 1).otherwise(0)).alias("c_new"),
        )
    )
    totals = terms.agg(
        F.sum("c_old").alias("n_old"),
        F.sum("c_new").alias("n_new"),
        F.count("*").alias("v"),
    )
    st = terms.crossJoin(F.broadcast(totals))
    p = (F.col("c_new") + 1).cast("double") / (F.col("n_new") + F.col("v"))
    q = (F.col("c_old") + 1).cast("double") / (F.col("n_old") + F.col("v"))
    kl = p * F.log(p / q)
    scored = st.select(
        "term",
        F.col("c_old").cast("long").alias("c_old"),
        F.col("c_new").cast("long").alias("c_new"),
        _floor_round(p, 8).alias("p_new"),
        _floor_round(q, 8).alias("q_old"),
        _floor_round(kl, 8).alias("kl_term"),
    )
    return scored.orderBy(F.desc("kl_term"), F.asc("term")).limit(
        DRIFT_TOP_N
    )


CORPUS_DRIFT_KL_SQL = rf"""
WITH mid AS (
  SELECT (min(doc_id) + max(doc_id)) / 2.0 AS mid FROM documents
),
terms AS (
  SELECT term,
         sum(CASE WHEN NOT new_wave THEN 1 ELSE 0 END) AS c_old,
         sum(CASE WHEN new_wave THEN 1 ELSE 0 END) AS c_new
  FROM (
    SELECT doc_id >= (SELECT mid FROM mid) AS new_wave,
           unnest(string_split_regex(text, '\s+')) AS term
    FROM documents
  )
  GROUP BY 1
),
tot AS (SELECT sum(c_old) AS n_old, sum(c_new) AS n_new, count(*) AS v
        FROM terms),
scored AS (
  SELECT term, c_old, c_new,
         (c_new + 1.0) / (t.n_new + t.v) AS p,
         (c_old + 1.0) / (t.n_old + t.v) AS q
  FROM terms, tot t
)
SELECT term,
       CAST(c_old AS BIGINT) AS c_old,
       CAST(c_new AS BIGINT) AS c_new,
       floor(p * 100000000 + 1e-6) / 100000000 AS p_new,
       floor(q * 100000000 + 1e-6) / 100000000 AS q_old,
       floor(p * ln(p / q) * 100000000 + 1e-6) / 100000000 AS kl_term
FROM scored
ORDER BY kl_term DESC, term
LIMIT {DRIFT_TOP_N}
"""


# ---------------------------------------------------------------------------
# HyperLogLog distinct audit (training:hll-distinct, Flajolet et al.
# 2007) — exact COUNT(DISTINCT) at 100 TB is a full shuffle of every
# distinct value; the production substitute is an HLL sketch whose
# registers are map-side mergeable (a 64-byte sidecar per group). This
# audit runs a DETERMINISTIC HLL (md5-derived register/rank — not a
# random hash, so both engines build byte-identical registers) next to
# the exact count and reports the relative error per language.
#
# Portability analysis (why the oracle matches exactly, not "closely"):
# register index and rank are integer md5 arithmetic; 2^-M terms are
# computed as 1/(1<<M) — exact dyadic rationals whose sum spans 2^5 …
# 2^-33 ≈ 38 mantissa bits < the 52 doubles carry, so the harmonic sum
# is EXACT in any accumulation order; the only ulp-exposed op is the
# small-range ln() correction, covered by the floor slack.
#
# Scale shape: explode → one (lang, register) hash aggregate (map-side
# combined: max(rank) is algebraic) → one per-lang aggregate. The
# exact branch exists only to grade the sketch at test scale.
# ---------------------------------------------------------------------------

HLL_M = 64  # registers; std error ≈ 1.04/sqrt(64) ≈ 13%


def hll_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # audited domain = 3-gram shingles: the synthetic vocabulary is only
    # ~31 tokens (every lang would sit in HLL's small-range branch);
    # shingles give 10^3-10^4 distincts so the raw harmonic estimator
    # is exercised while small corpora still hit the ln() correction
    tok_docs = docs.select("lang", _tokens().alias("toks"))
    # short docs: Spark's sequence(1, 0) DESCENDS ([1, 0] — slice start
    # 0 then crashes) where DuckDB's generate_series(1, 0) is empty —
    # guard below 3 tokens explicitly (adversarial-sweep find)
    grams = F.when(
        F.size("toks") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 2),
            lambda i: F.concat_ws(" ", F.slice("toks", i, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    toks = tok_docs.select("lang", F.explode(grams).alias("t"))
    h_reg = F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long") % HLL_M
    v = F.conv(F.substring(F.md5("t"), 9, 8), 16, 10).cast("long")
    rho = F.when(v == 0, F.lit(33)).otherwise(
        33 - F.length(F.bin(v))
    ).cast("int")
    regs = (
        toks.select("lang", h_reg.alias("reg"), rho.alias("rho"))
        .groupBy("lang", "reg")
        .agg(F.max("rho").alias("m_j"))
    )
    alpha = 0.7213 / (1.0 + 1.079 / HLL_M)
    per_lang = regs.groupBy("lang").agg(
        F.sum(
            # pyspark's shiftleft() only takes a literal shift count,
            # so the per-row register term goes through expr()
            F.expr("1.0 / CAST(shiftleft(CAST(1 AS BIGINT), m_j) AS DOUBLE)")
        ).alias("s_nonzero"),
        F.count("*").alias("n_nonzero"),
    )
    s = F.col("s_nonzero") + (HLL_M - F.col("n_nonzero")).cast("double")
    zeros = F.lit(HLL_M) - F.col("n_nonzero")
    raw = F.lit(alpha * HLL_M * HLL_M) / s
    est = F.when(
        (raw <= 2.5 * HLL_M) & (zeros > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zeros.cast("double")),
    ).otherwise(raw)
    exact = toks.groupBy("lang").agg(
        F.countDistinct("t").cast("long").alias("n_exact")
    )
    return (
        per_lang.join(exact, "lang")
        .select(
            "lang",
            "n_exact",
            _floor_round(est, 4).alias("hll_estimate"),
            _floor_round(
                F.abs(est - F.col("n_exact")) / F.col("n_exact"), 4
            ).alias("rel_err"),
        )
        .orderBy("lang")
    )


HLL_DISTINCT_SQL = rf"""
WITH tsrc AS (
  SELECT lang, string_split_regex(text, '\s+') AS toks FROM documents
),
toks AS (
  SELECT lang, array_to_string(toks[i:i+2], ' ') AS t
  FROM tsrc,
       unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS u(i)
),
hashed AS (
  SELECT lang,
         CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % {HLL_M} AS reg,
         CAST('0x' || substr(md5(t), 9, 8) AS BIGINT) AS v
  FROM toks
),
regs AS (
  SELECT lang, reg,
         max(CASE WHEN v = 0 THEN 33 ELSE 33 - length(bin(v)) END) AS m_j
  FROM hashed GROUP BY 1, 2
),
per_lang AS (
  SELECT lang,
         sum(1.0 / CAST(1 << m_j AS DOUBLE)) AS s_nonzero,
         count(*) AS n_nonzero
  FROM regs GROUP BY 1
),
est AS (
  SELECT lang,
         CASE WHEN CAST({0.7213 / (1.0 + 1.079 / HLL_M) * HLL_M * HLL_M}
                        AS DOUBLE)
                   / (s_nonzero + ({HLL_M} - n_nonzero)) <= {2.5 * HLL_M}
                   AND ({HLL_M} - n_nonzero) > 0
              THEN {float(HLL_M)} * ln({float(HLL_M)}
                   / CAST({HLL_M} - n_nonzero AS DOUBLE))
              ELSE CAST({0.7213 / (1.0 + 1.079 / HLL_M) * HLL_M * HLL_M}
                        AS DOUBLE)
                   / (s_nonzero + ({HLL_M} - n_nonzero))
         END AS e
  FROM per_lang
),
exact AS (
  SELECT lang, CAST(count(DISTINCT t) AS BIGINT) AS n_exact
  FROM toks GROUP BY 1
)
SELECT lang, n_exact,
       floor(e * 10000 + 1e-6) / 10000 AS hll_estimate,
       floor(abs(e - n_exact) / n_exact * 10000 + 1e-6) / 10000 AS rel_err
FROM est JOIN exact USING (lang)
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Count-Min heavy-hitter audit (training:cms-heavy-hitters, Cormode &
# Muthukrishnan 2005) — HLL's sibling for frequencies: exact per-term
# counts at corpus scale need a full shuffle of the vocabulary; the
# CMS is a d×w integer grid that is map-side mergeable and answers
# "how often does term t occur" with a one-sided (over-)estimate. The
# audit builds a deterministic CMS (salted md5 bucket hashes), queries
# it for the exact top-N heavy hitters, and reports estimate vs truth
# — the overestimate is provably ≥ 0 and the unit test pins the
# ε = e/w · N bound. The grid is deliberately SMALL (d=3, w=16) so the
# synthetic vocabulary actually collides and the audit shows real
# overestimates, not a trivially-exact sketch.
#
# Everything is integer arithmetic on md5 prefixes → both engines
# build the identical grid and the oracle matches exactly.
# ---------------------------------------------------------------------------

CMS_D = 3
CMS_W = 16
CMS_TOP = 10


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    terms = docs.select(F.explode(_tokens()).alias("t"))

    def _bucket(col: Column, j: int) -> Column:
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"cms{j}|"), col)), 1, 8),
                16, 10,
            ).cast("long")
            % CMS_W
        )

    rows = terms.select(
        "t",
        F.explode(
            F.array(*[
                F.struct(F.lit(j).alias("j"), _bucket(F.col("t"), j).alias("b"))
                for j in range(CMS_D)
            ])
        ).alias("jb"),
    ).select("t", F.col("jb.j").alias("j"), F.col("jb.b").alias("b"))
    grid = rows.groupBy("j", "b").agg(F.count("*").alias("c"))

    exact = (
        terms.groupBy("t")
        .agg(F.count("*").alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("t"))
        .limit(CMS_TOP)
    )
    probes = exact.select(
        "t", "n_exact",
        F.explode(
            F.array(*[
                F.struct(F.lit(j).alias("j"), _bucket(F.col("t"), j).alias("b"))
                for j in range(CMS_D)
            ])
        ).alias("jb"),
    ).select("t", "n_exact", F.col("jb.j").alias("j"), F.col("jb.b").alias("b"))
    est = (
        probes.join(F.broadcast(grid), ["j", "b"])
        .groupBy("t", "n_exact")
        .agg(F.min("c").cast("long").alias("cms_est"))
    )
    return est.select(
        F.col("t").alias("term"),
        F.col("n_exact").cast("long"),
        "cms_est",
        (F.col("cms_est") - F.col("n_exact")).cast("long").alias("over"),
    ).orderBy(F.desc("n_exact"), F.asc("term"))


CMS_HEAVY_SQL = rf"""
WITH terms AS (
  SELECT unnest(string_split_regex(text, '\s+')) AS t FROM documents
),
rows_ AS (
  SELECT t, j,
         CAST('0x' || substr(md5('cms' || j || '|' || t), 1, 8) AS BIGINT)
           % {CMS_W} AS b
  FROM terms, unnest([{', '.join(str(j) for j in range(CMS_D))}]) AS u(j)
),
grid AS (SELECT j, b, count(*) AS c FROM rows_ GROUP BY 1, 2),
exact AS (
  SELECT t, count(*) AS n_exact FROM terms GROUP BY 1
  ORDER BY n_exact DESC, t ASC LIMIT {CMS_TOP}
),
probes AS (
  SELECT e.t, e.n_exact, u.j,
         CAST('0x' || substr(md5('cms' || u.j || '|' || e.t), 1, 8) AS BIGINT)
           % {CMS_W} AS b
  FROM exact e, unnest([{', '.join(str(j) for j in range(CMS_D))}]) AS u(j)
),
est AS (
  SELECT p.t, p.n_exact, min(g.c) AS cms_est
  FROM probes p JOIN grid g ON g.j = p.j AND g.b = p.b
  GROUP BY 1, 2
)
SELECT t AS term,
       CAST(n_exact AS BIGINT) AS n_exact,
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - n_exact AS BIGINT) AS over
FROM est
ORDER BY n_exact DESC, term ASC
"""


# ---------------------------------------------------------------------------
# Histogram quantile audit (training:hist-quantiles) — the third
# mergeable sketch beside HLL (distinct) and CMS (frequency): exact
# percentiles need a per-group sort; the scale substitute is a
# fixed-bin histogram (a tiny mergeable int vector) read off at the
# cumulative crossing. Bins are bit_length(x) — PURE integer
# arithmetic (length of the binary string), so both engines build the
# identical histogram and the oracle matches exactly; the estimate
# returns the bin's inclusive upper edge 2^b - 1, a ≤2× one-sided
# overestimate by construction, which the unit test pins.
#
# The exact side (per-lang rank pick: value at row ceil(p·n)) exists
# to GRADE the sketch — it is the expensive per-group sort the
# histogram replaces at 100 TB.
# ---------------------------------------------------------------------------

QTL_PS = (50, 90)


def quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    vals = docs.select("lang", "doc_id", F.size(_tokens()).alias("x"))
    binned = vals.select(
        "lang", "x", F.length(F.bin(F.greatest("x", F.lit(1)))).alias("b")
    )
    hist = binned.groupBy("lang", "b").agg(F.count("*").alias("c"))
    totals = vals.groupBy("lang").agg(F.count("*").alias("n"))
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("cum", F.sum("c").over(w_cum)).join(
        F.broadcast(totals), "lang"
    )
    # exact side: rank pick
    w_rank = Window.partitionBy("lang").orderBy("x", "doc_id")
    ranked = vals.withColumn("rn", F.row_number().over(w_rank)).join(
        F.broadcast(totals), "lang"
    )
    out = None
    for p in QTL_PS:
        target = F.ceil(F.lit(p / 100.0) * F.col("n"))
        exact_p = (
            ranked.where(F.col("rn") == target)
            .select("lang", F.col("x").cast("long").alias("exact"))
        )
        est_p = (
            cum.where(F.col("cum") >= target)
            .groupBy("lang")
            .agg(F.min("b").alias("bmin"))
            .select(
                "lang",
                (F.pow(F.lit(2.0), F.col("bmin")) - 1).cast("long").alias("est"),
            )
        )
        row = exact_p.join(est_p, "lang").select(
            "lang",
            F.lit(p).cast("int").alias("p"),
            "exact",
            "est",
            _floor_round(
                (F.col("est") - F.col("exact")) / F.col("exact"), 4
            ).alias("rel_over"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("lang", "p")


def _qtl_one_sql(p: int) -> str:
    return f"""
SELECT e.lang, {p} AS p, e.exact, s.est,
       floor((s.est - e.exact) * 1.0 / e.exact * 10000 + 1e-6) / 10000
         AS rel_over
FROM (
  SELECT lang, CAST(x AS BIGINT) AS exact FROM ranked
  WHERE rn = CAST(ceil({p / 100.0} * n) AS BIGINT)
) e
JOIN (
  SELECT lang,
         CAST(power(2.0, min(b)) - 1 AS BIGINT) AS est
  FROM cum WHERE cum >= CAST(ceil({p / 100.0} * n) AS BIGINT)
  GROUP BY lang
) s ON s.lang = e.lang
"""


QUANTILE_SKETCH_SQL = rf"""
WITH vals AS (
  SELECT lang, doc_id,
         len(string_split_regex(text, '\s+')) AS x
  FROM documents
),
totals AS (SELECT lang, count(*) AS n FROM vals GROUP BY 1),
hist AS (
  SELECT lang, length(bin(greatest(x, 1))) AS b, count(*) AS c
  FROM vals GROUP BY 1, 2
),
cum AS (
  SELECT h.lang, h.b,
         sum(h.c) OVER (PARTITION BY h.lang ORDER BY h.b
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         t.n
  FROM hist h JOIN totals t ON t.lang = h.lang
),
ranked AS (
  SELECT v.lang, v.x,
         row_number() OVER (PARTITION BY v.lang ORDER BY v.x, v.doc_id)
           AS rn,
         t.n
  FROM vals v JOIN totals t ON t.lang = v.lang
)
{_qtl_one_sql(50)}
UNION ALL
{_qtl_one_sql(90)}
ORDER BY lang, p
"""


# ---------------------------------------------------------------------------
# Language-ID confusion matrix (training:langid-eval) — the evaluation
# companion to lang_id_heuristic: predicted × actual counts with
# per-cell precision/recall denominators, i.e. the report that decides
# whether a cheap classifier is good enough to route a 100 TB corpus.
# One hash aggregate over the map-only prediction; the two marginal
# totals ride broadcast joins of tiny aggregates.
# ---------------------------------------------------------------------------


_LANG_CELLS_SQL = rf"""
WITH pred AS (
  SELECT lang AS actual,
         {_LANG_CASE_SQL} AS predicted
  FROM (
    SELECT lang,
           {_LANG_HITS_SQL}
    FROM (SELECT lang, string_split_regex(text, '\s+') AS toks
          FROM documents)
  )
),
cells AS (
  SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n
  FROM pred GROUP BY 1, 2
),"""


def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = _lang_cells(spark, sf_dir)
    row_tot = cells.groupBy("actual").agg(
        F.sum("n").cast("long").alias("n_actual")
    )
    col_tot = cells.groupBy("predicted").agg(
        F.sum("n").cast("long").alias("n_predicted")
    )
    return (
        cells.join(F.broadcast(row_tot), "actual")
        .join(F.broadcast(col_tot), "predicted")
        .select(
            "actual", "predicted", "n",
            _floor_round(F.col("n") / F.col("n_actual"), 4).alias("recall"),
            _floor_round(F.col("n") / F.col("n_predicted"), 4).alias(
                "precision"
            ),
        )
        .orderBy("actual", "predicted")
    )


LANGID_CONFUSION_SQL = rf"""
{_LANG_CELLS_SQL}
rt AS (SELECT actual, sum(n) AS n_actual FROM cells GROUP BY 1),
ct AS (SELECT predicted, sum(n) AS n_predicted FROM cells GROUP BY 1)
SELECT c.actual, c.predicted, c.n,
       floor(c.n * 1.0 / r.n_actual * 10000 + 1e-6) / 10000 AS recall,
       floor(c.n * 1.0 / t.n_predicted * 10000 + 1e-6) / 10000 AS precision
FROM cells c JOIN rt r ON r.actual = c.actual
             JOIN ct t ON t.predicted = c.predicted
ORDER BY c.actual, c.predicted
"""


# ---------------------------------------------------------------------------
# Vocabulary growth curve (training:vocab-growth, Heaps' law): distinct
# vocabulary size as the corpus grows through the doc_id keyspace —
# the measurement behind tokenizer-budget and dedup-saturation
# decisions (sub-linear growth ⇒ healthy corpus; near-linear ⇒ noise
# or boilerplate flooding the vocabulary).
#
# Deciles are arithmetic on the doc_id VALUE range (ids are the dense
# ingestion sequence), not rank-based: floor(10·id/n) needs only the
# corpus count — one scalar broadcast — where exact rank deciles would
# need a global sort of every doc_id at 100 TB. Each token's first
# appearance is min(doc_id) per token — explode + ONE hash aggregate
# (map-side combinable, the explode never shuffles raw text). The
# final cumulative sum runs over exactly 10 rows (a bounded
# single-partition window, like the mix-rate min in corpus_build).
# Tokens outside deciles 0..9 (ids beyond the dense range, e.g.
# adversarial appends) drop identically in both engines via the
# range(10) left join.
# ---------------------------------------------------------------------------


def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    total = docs.agg(F.count("*").alias("n_total"))
    decile = lambda c: F.floor(c * 10 / F.col("n_total")).cast("long")  # noqa: E731
    first_seen = (
        docs.select("doc_id", F.explode(_tokens()).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.min("doc_id").alias("fid"))
    )
    new_toks = (
        first_seen.crossJoin(F.broadcast(total))
        .groupBy(decile(F.col("fid")).alias("decile"))
        .agg(F.count("*").alias("new_tokens"))
    )
    docs_per = (
        docs.crossJoin(F.broadcast(total))
        .groupBy(decile(F.col("doc_id")).alias("decile"))
        .agg(F.count("*").alias("n_docs"))
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spark.range(10).select(F.col("id").alias("decile"))
        .join(new_toks, "decile", "left")
        .join(docs_per, "decile", "left")
        .na.fill(0, ["new_tokens", "n_docs"])
        .select(
            "decile",
            F.sum("n_docs").over(w).cast("long").alias("docs_cumulative"),
            F.col("new_tokens").cast("long").alias("new_tokens"),
            F.sum("new_tokens").over(w).cast("long").alias("vocab_size"),
        )
        .orderBy("decile")
    )


VOCAB_GROWTH_SQL = r"""
WITH n AS (SELECT count(*) AS n_total FROM documents),
tok AS (
  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
  FROM documents
),
first_seen AS (
  SELECT tok, min(doc_id) AS fid FROM tok WHERE tok <> '' GROUP BY tok
),
newt AS (
  SELECT CAST(floor(fid * 10 / n_total) AS BIGINT) AS decile,
         count(*) AS new_tokens
  FROM first_seen, n GROUP BY 1
),
dpc AS (
  SELECT CAST(floor(doc_id * 10 / n_total) AS BIGINT) AS decile,
         count(*) AS n_docs
  FROM documents, n GROUP BY 1
),
d AS (SELECT unnest(generate_series(0, 9)) AS decile)
SELECT d.decile,
       CAST(sum(coalesce(dpc.n_docs, 0))
            OVER (ORDER BY d.decile) AS BIGINT) AS docs_cumulative,
       CAST(coalesce(newt.new_tokens, 0) AS BIGINT) AS new_tokens,
       CAST(sum(coalesce(newt.new_tokens, 0))
            OVER (ORDER BY d.decile) AS BIGINT) AS vocab_size
FROM d LEFT JOIN newt ON newt.decile = d.decile
       LEFT JOIN dpc ON dpc.decile = d.decile
ORDER BY d.decile
"""


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit (training:zipf-fit — Heaps' companion): the
# top-K term frequencies with their Zipf rank, plus the least-squares
# slope of log10(tf) on log10(rank) — the one-number corpus-health
# check (natural text ≈ -1; boilerplate/template floods flatten it,
# OCR noise steepens the tail). Scale shape: term frequencies are ONE
# explode + hash aggregate (map-side combinable); top-K plans as
# TakeOrderedAndProject (the full term table never sorts); ranking and
# the regression run over exactly K rows (bounded single-partition
# window + aggregate, the corpus_build mix-min idiom). The slope is
# repeated per row via a 1-row broadcast — the whitelisted pattern.
# ---------------------------------------------------------------------------

ZIPF_TOP_K = 50


def zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    top = (
        docs.select(F.explode(_tokens()).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("tf"))
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(ZIPF_TOP_K)
    )
    ranked = top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("tf"), F.asc("term"))),
    ).select(
        "rank", "term", F.col("tf").cast("long").alias("tf"),
        F.log10("rank").alias("x"), F.log10("tf").alias("y"),
    )
    # k = the ACTUAL point count (a small vocabulary yields < TOP_K
    # terms; a constant k would silently bias the fit)
    k = F.count("*").cast("double")
    slope = ranked.agg(
        _floor_round(
            (k * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y"))
            / (k * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")),
            4,
        ).alias("zipf_slope")
    )
    return (
        ranked.crossJoin(F.broadcast(slope))
        .select("rank", "term", "tf", "zipf_slope")
        .orderBy("rank")
    )


ZIPF_SQL = rf"""
WITH tf AS (
  SELECT tok AS term, count(*) AS tf
  FROM (SELECT unnest(string_split_regex(text, '\s+')) AS tok
        FROM documents)
  WHERE tok <> '' GROUP BY tok
),
top AS (
  SELECT term, tf,
         row_number() OVER (ORDER BY tf DESC, term ASC) AS rank
  FROM tf ORDER BY tf DESC, term ASC LIMIT {ZIPF_TOP_K}
),
pts AS (SELECT rank, term, tf, log10(rank) AS x, log10(tf) AS y FROM top),
fit AS (
  SELECT CAST(floor(
           (CAST(count(*) AS DOUBLE) * sum(x * y) - sum(x) * sum(y))
           / (CAST(count(*) AS DOUBLE) * sum(x * x) - sum(x) * sum(x))
           * 10000 + 1e-6) / 10000 AS DOUBLE) AS zipf_slope
  FROM pts
)
SELECT p.rank, p.term, CAST(p.tf AS BIGINT) AS tf, f.zipf_slope
FROM pts p, fit f
ORDER BY p.rank
"""


# ---------------------------------------------------------------------------
# Tokenizer fertility by language (training:tokenizer-fertility, R4-23)
#
# chars-per-BPE-token is the tokenizer-efficiency number multilingual
# corpus work tracks per language (a language with low chars/token
# "spends" more sequence budget per character — the UniMax/fertility
# trade-off). Reuses the pinned-BPE kernel of doc_token_count_bpe;
# same oracle layering (VALUES lookup over the finite corpus
# vocabulary, OOV fails loudly via the count(*)=count(n) CASE).
#
# Scale shape: one Arrow-batched pandas UDF pass (map-only) → ONE hash
# aggregate on the language key. The divide guards sum(tokens)=0 (a
# language whose docs are all empty) identically in both engines.
# ---------------------------------------------------------------------------


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    counted = docs.select(
        "lang", "n_chars", _bpe_count_udf()(F.col("text")).alias("nt")
    )
    agg = counted.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("nt").cast("long").alias("sum_bpe_tokens"),
    )
    return agg.select(
        "lang", "n_docs", "sum_chars", "sum_bpe_tokens",
        F.when(
            F.col("sum_bpe_tokens") > 0,
            _floor_round(F.col("sum_chars") / F.col("sum_bpe_tokens"), 4),
        ).alias("chars_per_token"),
    ).orderBy("lang")


def _fertility_sql() -> str:
    return _bpe_per_doc_sql() + r""",
anchored AS (
  SELECT d.lang, d.n_chars,
         CASE WHEN p.doc_id IS NULL THEN 0 ELSE p.n_bpe_tokens END AS nt
  FROM documents d LEFT JOIN per_doc p USING (doc_id)
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(nt) AS BIGINT) AS sum_bpe_tokens,
       CAST(floor(
         CAST(sum(n_chars) AS DOUBLE) / nullif(sum(nt), 0) * 10000 + 1e-6
       ) / 10000 AS DOUBLE) AS chars_per_token
FROM anchored
GROUP BY 1
ORDER BY lang
"""


TOKENIZER_FERTILITY_SQL = _fertility_sql()


# ---------------------------------------------------------------------------
# Token-entropy quality signal (training:token-entropy, R4-26 batch)
#
# Shannon entropy of the within-document token distribution — the
# repetitiveness detector that catches keyword-stuffed / templated
# documents quality classifiers miss (low entropy = few tokens carry
# the mass). H = log2(n) − Σ c·log2(c) / n, computed from term
# frequencies so the heavy explode aggregates IMMEDIATELY into
# (doc, token) counts (map-side combine) and then into one row per
# doc — two hash aggregates, no window, no re-scan. Docs with zero
# tokens anchor at entropy NULL (both engines).
# ---------------------------------------------------------------------------


def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(_tokens()).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    per = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.sum(F.col("c") * F.log2("c")).alias("clogc"),
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_distinct", F.lit(0)).cast("long").alias("n_distinct"),
            F.when(
                F.col("n_tokens") > 0,
                _floor_round(
                    F.log2("n_tokens") - F.col("clogc") / F.col("n_tokens"), 4
                ),
            ).alias("entropy"),
        )
    )


TOKEN_ENTROPY_SQL = r"""
WITH tf AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (
    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
    FROM documents
  )
  WHERE tok <> ''
  GROUP BY 1, 2
),
per AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*) AS n_distinct,
         sum(c * log2(c)) AS clogc
  FROM tf GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(p.n_distinct, 0) AS BIGINT) AS n_distinct,
       CASE WHEN coalesce(p.n_tokens, 0) > 0 THEN
         CAST(floor(
           (log2(p.n_tokens) - p.clogc / p.n_tokens) * 10000 + 1e-6
         ) / 10000 AS DOUBLE)
       END AS entropy
FROM documents d LEFT JOIN per p USING (doc_id)
"""


# ---------------------------------------------------------------------------
# PMI collocations (R4-31, training:collocations). Pointwise mutual
# information over adjacent-token bigrams — the classic phrase-mining
# signal (Church & Hanks 1990) used to pick tokenizer merge candidates
# and to spot boilerplate n-grams in web corpora.
#
# Scale shape: tokens are materialized ONCE into a real column, then
# bigrams come from zip_with over two F.slice windows of that column
# (never element_at fan-outs, never a re-evaluated capture — CLAUDE.md
# HOF rules). Unigram and bigram counts are plain explode→hash-agg;
# the two frequency joins key on the token itself (vocab-sized sides,
# AQE broadcasts them when small); corpus totals ride in via 1-row
# broadcast crossJoins (whitelisted plan shape). A min-count floor
# bounds the output the same way a real phrase miner would.
PMI_MIN_COUNT = 5


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(_tokens(), lambda t: t != "").alias("toks"),
    ).filter(F.size("toks") >= 2)
    bigrams = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("toks"), 1, F.size("toks") - 1),
                F.slice(F.col("toks"), 2, F.size("toks") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    uni = (
        toks.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c_tok"))
    )
    bg = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c_pair"))
    t_total = uni.agg(F.sum("c_tok").alias("t_total"))
    b_total = bg.agg(F.sum("c_pair").alias("b_total"))
    scored = (
        bg.filter(F.col("c_pair") >= PMI_MIN_COUNT)
        .join(uni.select(F.col("tok").alias("w1"), F.col("c_tok").alias("c1")), "w1")
        .join(uni.select(F.col("tok").alias("w2"), F.col("c_tok").alias("c2")), "w2")
        .crossJoin(F.broadcast(t_total))
        .crossJoin(F.broadcast(b_total))
    )
    pmi = F.log2(
        (F.col("c_pair") / F.col("b_total"))
        / ((F.col("c1") / F.col("t_total")) * (F.col("c2") / F.col("t_total")))
    )
    return scored.select(
        "w1",
        "w2",
        F.col("c_pair").cast("long").alias("c_pair"),
        F.col("c1").cast("long").alias("c1"),
        F.col("c2").cast("long").alias("c2"),
        _floor_round(pmi, 4).alias("pmi"),
    ).orderBy(F.desc("pmi"), "w1", "w2")


PMI_COLLOCATIONS_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
  FROM documents
),
toks2 AS (SELECT * FROM toks WHERE len(toks) >= 2),
bigrams AS (
  SELECT u.bg.w1 AS w1, u.bg.w2 AS w2
  FROM (
    SELECT unnest(list_transform(
             range(1, len(toks)),
             i -> struct_pack(w1 := toks[i], w2 := toks[i + 1])
           )) AS bg
    FROM toks2
  ) u
),
uni AS (
  SELECT tok, count(*) AS c_tok
  FROM (SELECT unnest(toks) AS tok FROM toks2)
  GROUP BY 1
),
bg AS (SELECT w1, w2, count(*) AS c_pair FROM bigrams GROUP BY 1, 2),
tot AS (SELECT sum(c_tok) AS t_total FROM uni),
btot AS (SELECT sum(c_pair) AS b_total FROM bg)
SELECT b.w1, b.w2,
       CAST(b.c_pair AS BIGINT) AS c_pair,
       CAST(u1.c_tok AS BIGINT) AS c1,
       CAST(u2.c_tok AS BIGINT) AS c2,
       CAST(floor(log2(
         (CAST(b.c_pair AS DOUBLE) / btot.b_total)
         / ((CAST(u1.c_tok AS DOUBLE) / tot.t_total)
            * (CAST(u2.c_tok AS DOUBLE) / tot.t_total))
       ) * 10000 + 1e-6) / 10000 AS DOUBLE) AS pmi
FROM bg b
JOIN uni u1 ON u1.tok = b.w1
JOIN uni u2 ON u2.tok = b.w2, tot, btot
WHERE b.c_pair >= {PMI_MIN_COUNT}
ORDER BY pmi DESC, w1, w2
"""


# ---------------------------------------------------------------------------
# Skip-gram pair mining with closed-form subsampling (R4-36,
# training:skipgram — the word2vec/fastText co-occurrence table,
# Mikolov et al. 2013). Pairs are every (center, context) within a
# ±SKIPGRAM_WINDOW token window; instead of per-occurrence coin flips
# (nondeterministic, engine-divergent), the word2vec frequency
# subsample is applied as its EXPECTATION: keep_prob(w) =
# min(1, sqrt(t / f(w))), expected_count = n_pairs · p(center) ·
# p(context) — deterministic, exact, and what you'd materialize at
# 100 TB anyway (sampling happens at training time from the weighted
# table).
#
# Scale shape: tokens materialize once; each window offset d is a
# zip_with over two F.slice views of that column (HOF rules: no
# element_at fan-out, no captured expressions); pair counts and the
# vocab table are explode→hash-agg; the two frequency joins are
# vocab-sized; corpus total rides a 1-row broadcast.
SKIPGRAM_WINDOW = 2
SKIPGRAM_T = 1e-3
SKIPGRAM_MIN_PAIRS = 5


def skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.filter(_tokens(), lambda t: t != "").alias("toks")
    ).filter(F.size("toks") >= 2)
    offset_pairs = []
    for d in range(1, SKIPGRAM_WINDOW + 1):
        pair = F.zip_with(
            F.slice(F.col("toks"), 1, F.greatest(F.size("toks") - d, F.lit(0))),
            F.slice(F.col("toks"), 1 + d, F.greatest(F.size("toks") - d, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )
        offset_pairs.append(pair)
    both_dirs = F.flatten(F.array(*offset_pairs))
    pairs = (
        toks.select(F.explode(both_dirs).alias("p"))
        .select("p.w1", "p.w2")
        # symmetric window: emit both (center, context) directions
        .withColumn("dir", F.explode(F.array(F.lit(0), F.lit(1))))
        .select(
            F.when(F.col("dir") == 0, F.col("w1")).otherwise(F.col("w2"))
            .alias("center"),
            F.when(F.col("dir") == 0, F.col("w2")).otherwise(F.col("w1"))
            .alias("context"),
        )
        .groupBy("center", "context")
        .agg(F.count("*").alias("n_pairs"))
        .filter(F.col("n_pairs") >= SKIPGRAM_MIN_PAIRS)
    )
    uni = (
        toks.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c_tok"))
    )
    total = uni.agg(F.sum("c_tok").alias("t_total"))
    keep = lambda c: F.least(  # noqa: E731
        F.lit(1.0), F.sqrt(F.lit(SKIPGRAM_T) / (c / F.col("t_total")))
    )
    return (
        pairs.join(
            uni.select(F.col("tok").alias("center"), F.col("c_tok").alias("c1")),
            "center",
        )
        .join(
            uni.select(F.col("tok").alias("context"), F.col("c_tok").alias("c2")),
            "context",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "center",
            "context",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            _floor_round(
                F.col("n_pairs") * keep(F.col("c1")) * keep(F.col("c2")), 4
            ).alias("expected_count"),
        )
        .orderBy("center", "context")
    )


def _sg_keep_sql(c: str) -> str:
    return (
        f"least(1.0, sqrt({SKIPGRAM_T!r} / "
        f"(CAST({c} AS DOUBLE) / tot.t_total)))"
    )


SKIPGRAM_PAIRS_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
  FROM documents
),
toks2 AS (SELECT * FROM toks WHERE len(toks) >= 2),
onedir AS (
  SELECT u.p.w1 AS w1, u.p.w2 AS w2
  FROM (
    SELECT unnest(flatten([
      list_transform(range(1, greatest(len(toks) - {{d}} + 1, 1)),
                     i -> struct_pack(w1 := toks[i], w2 := toks[i + {{d}}]))
      FOR_EACH_D
    ])) AS p
    FROM toks2
  ) u
),
pairs AS (
  SELECT center, context, count(*) AS n_pairs FROM (
    SELECT w1 AS center, w2 AS context FROM onedir
    UNION ALL
    SELECT w2 AS center, w1 AS context FROM onedir
  )
  GROUP BY 1, 2
  HAVING count(*) >= {SKIPGRAM_MIN_PAIRS}
),
uni AS (
  SELECT tok, count(*) AS c_tok
  FROM (SELECT unnest(toks) AS tok FROM toks2)
  GROUP BY 1
),
tot AS (SELECT sum(c_tok) AS t_total FROM uni)
SELECT p.center, p.context,
       CAST(p.n_pairs AS BIGINT) AS n_pairs,
       CAST(floor(p.n_pairs * {_sg_keep_sql('u1.c_tok')}
                  * {_sg_keep_sql('u2.c_tok')} * 10000 + 1e-6)
            / 10000 AS DOUBLE) AS expected_count
FROM pairs p
JOIN uni u1 ON u1.tok = p.center
JOIN uni u2 ON u2.tok = p.context, tot
ORDER BY center, context
"""

_SG_OFFSETS = ",\n      ".join(
    "list_transform(range(1, greatest(len(toks) - %d + 1, 1)), "
    "i -> struct_pack(w1 := toks[i], w2 := toks[i + %d]))" % (d, d)
    for d in range(1, SKIPGRAM_WINDOW + 1)
)
SKIPGRAM_PAIRS_SQL = SKIPGRAM_PAIRS_SQL.replace(
    """list_transform(range(1, greatest(len(toks) - {d} + 1, 1)),
                     i -> struct_pack(w1 := toks[i], w2 := toks[i + {d}]))
      FOR_EACH_D""",
    _SG_OFFSETS,
)


# ---------------------------------------------------------------------------
# Correlation aggregates (R4-44): Pearson corr / sample covariance /
# stddev of (n_chars, whitespace token count) per language — the
# builtin statistical-aggregate family (corr, covar_samp, stddev_samp)
# not yet exercised. One map-side-combinable hash aggregate; both
# engines compute the same closed forms over the same doubles, with
# floor4 absorbing summation-order noise.
def length_token_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    stats = docs.select(
        "lang",
        F.col("n_chars").cast("double").alias("x"),
        F.size(F.filter(_tokens(), lambda t: t != ""))
        .cast("double")
        .alias("y"),
    )
    return (
        stats.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            _floor_round(F.corr("x", "y"), 4).alias("corr_chars_tokens"),
            _floor_round(F.covar_samp("x", "y"), 4).alias("covar"),
            _floor_round(F.stddev_samp("x"), 4).alias("sd_chars"),
            _floor_round(F.stddev_samp("y"), 4).alias("sd_tokens"),
        )
        .orderBy("lang")
    )


LENGTH_TOKEN_CORR_SQL = r"""
WITH stats AS (
  SELECT lang, CAST(n_chars AS DOUBLE) AS x,
         CAST(len(list_filter(string_split_regex(text, '\s+'),
                              t -> t <> '')) AS DOUBLE) AS y
  FROM documents
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(floor(corr(x, y) * 10000 + 1e-6) / 10000 AS DOUBLE)
         AS corr_chars_tokens,
       CAST(floor(covar_samp(x, y) * 10000 + 1e-6) / 10000 AS DOUBLE)
         AS covar,
       CAST(floor(stddev_samp(x) * 10000 + 1e-6) / 10000 AS DOUBLE)
         AS sd_chars,
       CAST(floor(stddev_samp(y) * 10000 + 1e-6) / 10000 AS DOUBLE)
         AS sd_tokens
FROM stats
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Hapax legomena ratio per language (R4-50, training:hapax — the
# lexical-richness signal next to Heaps' growth and the Zipf fit):
# share of a language's vocabulary seen exactly once. Low hapax share
# on a web crawl flags template/boilerplate floods; it is also the
# Good-Turing mass estimate for unseen vocabulary. Two hash
# aggregates, no joins.
def hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.explode(_tokens()).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("c"))
    )
    return (
        counts.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("vocab"),
            F.sum((F.col("c") == 1).cast("long")).cast("long").alias("hapax"),
            F.sum("c").cast("long").alias("n_tokens"),
        )
        .select(
            "lang", "vocab", "hapax", "n_tokens",
            _floor_round(F.col("hapax") / F.col("vocab"), 4)
            .alias("hapax_share"),
        )
        .orderBy("lang")
    )


HAPAX_RATIO_SQL = r"""
WITH counts AS (
  SELECT lang, tok, count(*) AS c FROM (
    SELECT lang, unnest(string_split_regex(text, '\s+')) AS tok
    FROM documents
  )
  WHERE tok <> ''
  GROUP BY 1, 2
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS vocab,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(floor(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                  / CAST(count(*) AS DOUBLE) * 10000 + 1e-6)
            / 10000 AS DOUBLE) AS hapax_share
FROM counts
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Flesch reading-ease per language (R4-60, training:readability): the
# classic document-quality prior (Flesch 1948) — FRE = 206.835 −
# 1.015·(words/sentences) − 84.6·(syllables/words), with the standard
# deterministic syllable heuristic (count of [aeiouy]+ vowel groups,
# min 1 per word). Entirely map-only inside whole-stage codegen: the
# word array materializes ONCE per row, the syllable sum is a single
# HOF aggregate whose lambda touches only its own element (no captured
# expression — the HOF rule), then one hash aggregate per language.
# Cross-engine exactness: each doc's FRE floors to integer 1e-4 units
# BEFORE the per-language sum, so the average is one division of exact
# integers — float summation order never reaches the output. Docs with
# zero words are excluded (disclosed; an empty doc has no readability).
# ---------------------------------------------------------------------------


def flesch_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "lang", F.lower(F.col("text")).alias("t")
    )
    per_doc = (
        docs.withColumn(
            "_words",
            F.filter(F.split("t", r"\s+"), lambda x: x != F.lit("")),
        )
        .withColumn("n_words", F.size("_words").cast("long"))
        .where(F.col("n_words") > 0)
        .withColumn(
            "n_sent",
            F.greatest(
                F.lit(1).cast("long"),
                F.regexp_count("t", F.lit(r"[.!?]+")).cast("long"),
            ),
        )
        .withColumn(
            "n_syll",
            F.aggregate(
                "_words",
                F.lit(0).cast("long"),
                lambda acc, x: acc
                + F.greatest(
                    F.lit(1).cast("long"),
                    F.regexp_count(x, F.lit("[aeiouy]+")).cast("long"),
                ),
            ),
        )
        .withColumn(
            "fre",
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("n_words").cast("double") / F.col("n_sent"))
            - F.lit(84.6)
            * (F.col("n_syll").cast("double") / F.col("n_words")),
        )
        .withColumn(
            "fre_i", F.floor(F.col("fre") * 10000 + 1e-6).cast("long")
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_sent").cast("long").alias("n_sents"),
            F.sum("n_syll").cast("long").alias("n_sylls"),
            F.sum("fre_i").cast("long").alias("fre_i_sum"),
        )
        .select(
            "lang",
            "n_docs",
            _floor_round(
                F.col("n_words") / F.col("n_sents").cast("double"), 4
            ).alias("avg_words_per_sentence"),
            _floor_round(
                F.col("n_sylls") / F.col("n_words").cast("double"), 4
            ).alias("avg_syllables_per_word"),
            _floor_round(
                F.col("fre_i_sum") / (F.col("n_docs") * 10000.0), 4
            ).alias("avg_flesch"),
        )
        .orderBy("lang")
    )


FLESCH_SQL = r"""
WITH w AS (
  SELECT lang, lower(text) AS t,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS words
  FROM documents
),
d AS (
  SELECT lang,
         CAST(len(words) AS BIGINT) AS n_words,
         greatest(CAST(1 AS BIGINT),
                  CAST(len(regexp_extract_all(t, '[.!?]+')) AS BIGINT))
           AS n_sent,
         CAST(list_sum(list_transform(words,
                x -> greatest(1, len(regexp_extract_all(x, '[aeiouy]+')))))
              AS BIGINT) AS n_syll
  FROM w
  WHERE len(words) > 0
),
f AS (
  SELECT lang, n_words, n_sent, n_syll,
         CAST(floor((206.835
                     - 1.015 * (CAST(n_words AS DOUBLE) / n_sent)
                     - 84.6 * (CAST(n_syll AS DOUBLE) / n_words))
                    * 10000 + 1e-6) AS BIGINT) AS fre_i
  FROM d
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(floor(sum(n_words) / CAST(sum(n_sent) AS DOUBLE)
                  * 10000 + 1e-6) / 10000 AS DOUBLE)
         AS avg_words_per_sentence,
       CAST(floor(sum(n_syll) / CAST(sum(n_words) AS DOUBLE)
                  * 10000 + 1e-6) / 10000 AS DOUBLE)
         AS avg_syllables_per_word,
       CAST(floor(sum(fre_i) / (count(*) * 10000.0) * 10000 + 1e-6)
            / 10000 AS DOUBLE) AS avg_flesch
FROM f
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Proximity phrase search (R4-63, search:proximity): "A NEAR/k B" — the
# positional-index query every search engine layers over the inverted
# index (Lucene SpanNearQuery, reference's keyword search is
# whole-field only — search_api.py cites the gap). Tokenize once,
# posexplode to (doc_id, pos) for JUST the two query terms (filter
# pushed inside the generator input, so the exploded relation is
# ~2 rows/doc, not len(text)), then a per-doc equi-join pairs every A
# position with every B position within PROX_WINDOW. The join key is
# doc_id: co-partitioned hash join, no cross-doc fan-out, and per-doc
# term frequencies bound the pair blow-up. Scale: identical plan at
# 100 TB — the filtered positional relation is tiny relative to the
# corpus and the join never leaves the doc_id partition.
# ---------------------------------------------------------------------------

PROX_TERM_A = "hash"
PROX_TERM_B = "join"
PROX_WINDOW = 3


def proximity_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # materialize the token array before any HOF references it
    # (docs/PLANS.md HOF-capture rule), zip with 1-based positions,
    # and filter to the two query terms BEFORE the generator runs —
    # the exploded relation is O(tf_a + tf_b) per doc, not O(len)
    toks = docs.withColumn("toks", _tokens()).withColumn(
        "hits",
        F.filter(
            F.arrays_zip(
                F.col("toks"),
                F.sequence(F.lit(1), F.size(F.col("toks"))),
            ),
            lambda s: s["toks"].isin(PROX_TERM_A, PROX_TERM_B),
        ),
    )
    pos = toks.select(
        "doc_id", F.explode("hits").alias("s")
    ).select(
        "doc_id",
        F.col("s")["toks"].alias("tok"),
        F.col("s")["1"].alias("pos"),
    )
    a = pos.filter(F.col("tok") == PROX_TERM_A).select(
        "doc_id", F.col("pos").alias("pa")
    )
    b = pos.filter(F.col("tok") == PROX_TERM_B).select(
        "doc_id", F.col("pos").alias("pb")
    )
    pairs = a.join(b, "doc_id").filter(
        F.abs(F.col("pa") - F.col("pb")) <= PROX_WINDOW
    )
    return (
        pairs.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.min(F.abs(F.col("pa") - F.col("pb")))
            .cast("long")
            .alias("min_dist"),
        )
        .orderBy("doc_id")
    )


PROXIMITY_SEARCH_SQL = rf"""
WITH pos AS (
  SELECT doc_id, tok, pos FROM (
    SELECT doc_id,
           unnest(t) AS tok,
           generate_subscripts(t, 1) AS pos
    FROM (SELECT doc_id, string_split_regex(text, '\s+') AS t
          FROM documents)
  )
  WHERE tok IN ('{PROX_TERM_A}', '{PROX_TERM_B}')
)
SELECT a.doc_id,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(min(abs(a.pos - b.pos)) AS BIGINT) AS min_dist
FROM pos a JOIN pos b
  ON a.doc_id = b.doc_id
 AND a.tok = '{PROX_TERM_A}' AND b.tok = '{PROX_TERM_B}'
 AND abs(a.pos - b.pos) <= {PROX_WINDOW}
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Term burstiness (R4-64, training:term-burstiness): variance-to-mean
# ratio (Fisher's index of dispersion) of a term's per-document count,
# zeros included — VMR 1 is Poisson background; bursty content words
# score high, function words low (Church & Gale 1995). Everything
# reduces to three integer sums per token (sum c, sum c^2, N docs), so
# the statistic is engine-exact before the final floor: a single
# map-side-combinable hash aggregate over the exploded token relation,
# then a broadcast of the scalar doc count. Output: top BURSTY_TOP by
# VMR among terms with >= BURSTY_MIN_TOTAL occurrences (the support
# filter keeps rare-token noise out and bounds the sort input).
# ---------------------------------------------------------------------------

BURSTY_TOP = 20
BURSTY_MIN_TOTAL = 100


def term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").alias("n_docs"))
    per_doc = (
        docs.select("doc_id", F.explode(_tokens()).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    stats = (
        per_doc.groupBy("tok")
        .agg(
            F.sum("c").cast("long").alias("total"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_sq"),
            F.count("*").cast("long").alias("n_docs_with"),
        )
        .filter(F.col("total") >= BURSTY_MIN_TOTAL)
        .crossJoin(F.broadcast(n))
    )
    mean = F.col("total") / F.col("n_docs")
    var = F.col("sum_sq") / F.col("n_docs") - mean * mean
    return (
        stats.select(
            "tok",
            "total",
            "n_docs_with",
            _floor_round(var / mean, 6).alias("vmr"),
        )
        .orderBy(F.desc("vmr"), "tok")
        .limit(BURSTY_TOP)
    )


TERM_BURSTINESS_SQL = rf"""
WITH nn AS (SELECT count(*) AS n_docs FROM documents),
per_doc AS (
  SELECT doc_id, tok, count(*) AS c FROM (
    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
    FROM documents
  )
  WHERE tok <> ''
  GROUP BY 1, 2
),
stats AS (
  SELECT tok,
         CAST(sum(c) AS BIGINT) AS total,
         CAST(sum(c * c) AS BIGINT) AS sum_sq,
         CAST(count(*) AS BIGINT) AS n_docs_with
  FROM per_doc
  GROUP BY 1
  HAVING sum(c) >= {BURSTY_MIN_TOTAL}
)
SELECT tok, total, n_docs_with,
       CAST(floor((CAST(sum_sq AS DOUBLE) / n_docs
                   - (CAST(total AS DOUBLE) / n_docs)
                     * (CAST(total AS DOUBLE) / n_docs))
                  / (CAST(total AS DOUBLE) / n_docs)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS vmr
FROM stats, nn
ORDER BY vmr DESC, tok
LIMIT {BURSTY_TOP}
"""


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov drift test on document length (R4-71,
# training:ks-drift) — the distribution-level companion to
# corpus_drift_kl: KL names WHICH tokens drifted, KS answers whether
# the LENGTH distribution itself moved between crawl waves (same
# deterministic doc_id-midpoint wave split). A parser regression that
# truncates pages or a boilerplate flood shifts the CDF long before
# any single token dominates the KL report.
#
# Exactness: the statistic is computed on INTEGERS end to end. The
# corpus collapses to a per-length histogram (c_old, c_new); cumulative
# counts come from one window over that histogram (bounded by the VALUE
# DOMAIN of n_chars, the R4-35 argument — never a corpus-sized window);
# the CDF gap at value v is |cum_new·n_old − cum_old·n_new|, an exact
# BIGINT cross-multiplication, so the argmax row is engine-exact and
# only the final single division is floored. Ties broken by the
# smallest length achieving the max gap (ORDER BY gap DESC, value ASC
# LIMIT 1 → TakeOrderedAndProject in Spark).
#
# Scale shape: one map-side-combinable hash aggregate over the corpus,
# a domain-bounded window, a 1-row totals broadcast, a top-1.
# ---------------------------------------------------------------------------


def ks_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    mid = docs.agg(((F.min("doc_id") + F.max("doc_id")) / 2).alias("mid"))
    hist = (
        docs.crossJoin(F.broadcast(mid))
        .select(
            F.col("n_chars").alias("value"),
            (F.col("doc_id") >= F.col("mid")).alias("new_wave"),
        )
        .groupBy("value")
        .agg(
            F.sum(F.when(~F.col("new_wave"), 1).otherwise(0))
            .cast("long")
            .alias("c_old"),
            F.sum(F.when(F.col("new_wave"), 1).otherwise(0))
            .cast("long")
            .alias("c_new"),
        )
    )
    totals = hist.agg(
        F.sum("c_old").cast("long").alias("n_old"),
        F.sum("c_new").cast("long").alias("n_new"),
    )
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "value",
        F.sum("c_old").over(w).cast("long").alias("cum_old"),
        F.sum("c_new").over(w).cast("long").alias("cum_new"),
    ).crossJoin(F.broadcast(totals))
    gap = F.abs(
        F.col("cum_new") * F.col("n_old") - F.col("cum_old") * F.col("n_new")
    ).cast("long")
    return (
        cum.select(
            F.col("value").alias("ks_at_chars"),
            gap.alias("gap_num"),
            "n_old",
            "n_new",
            _floor_round(
                gap.cast("double") / (F.col("n_old") * F.col("n_new")), 6
            ).alias("ks_stat"),
        )
        .orderBy(F.desc("gap_num"), F.asc("ks_at_chars"))
        .limit(1)
    )


KS_LENGTH_DRIFT_SQL = """
WITH mid AS (
  SELECT (min(doc_id) + max(doc_id)) / 2.0 AS mid FROM documents
),
hist AS (
  SELECT n_chars AS value,
         CAST(sum(CASE WHEN NOT new_wave THEN 1 ELSE 0 END) AS BIGINT)
           AS c_old,
         CAST(sum(CASE WHEN new_wave THEN 1 ELSE 0 END) AS BIGINT) AS c_new
  FROM (
    SELECT n_chars, doc_id >= (SELECT mid FROM mid) AS new_wave
    FROM documents
  )
  GROUP BY 1
),
tot AS (
  SELECT CAST(sum(c_old) AS BIGINT) AS n_old,
         CAST(sum(c_new) AS BIGINT) AS n_new
  FROM hist
),
cum AS (
  SELECT value,
         CAST(sum(c_old) OVER (ORDER BY value
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_old,
         CAST(sum(c_new) OVER (ORDER BY value
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_new
  FROM hist
)
SELECT value AS ks_at_chars,
       CAST(abs(cum_new * n_old - cum_old * n_new) AS BIGINT) AS gap_num,
       n_old, n_new,
       CAST(floor(CAST(abs(cum_new * n_old - cum_old * n_new) AS DOUBLE)
                  / (n_old * n_new) * 1000000 + 1e-6) / 1000000 AS DOUBLE)
         AS ks_stat
FROM cum, tot
ORDER BY gap_num DESC, ks_at_chars ASC
LIMIT 1
"""


# ---------------------------------------------------------------------------
# Chi-square independence test, language × source (R4-72) — the
# categorical companion to the Benford audit (R4-57): is the language
# mix independent of the ingestion source? A source whose cells carry
# outsized chi² contributions is over- or under-delivering a language
# (a crawler routing bug or a labeling regression); the per-cell report
# names the offender, the statistic is the sum of the chi2_term column.
#
# Exactness: observed counts and the row/column/n totals are exact
# integers; expected = row_total·col_total/n is ONE division of exact
# integers and the chi² term ONE arithmetic expression over it, so both
# engines evaluate identical doubles and floor4 guards the boundary.
# The full lang × source grid is emitted (zero cells included — they
# carry expected > 0 and a real contribution), built from the two
# distinct dimension tables, each tiny and broadcast.
#
# Scale shape: one hash aggregate over the corpus for the cells, two
# dimension-bounded aggregates for the margins, a 1-row broadcast n.
# ---------------------------------------------------------------------------


def chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("lang", "source")
    cells = docs.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n")
    )
    rowt = docs.groupBy("lang").agg(F.count("*").cast("long").alias("rt"))
    colt = docs.groupBy("source").agg(F.count("*").cast("long").alias("ct"))
    tot = docs.agg(F.count("*").cast("long").alias("n_total"))
    grid = (
        rowt.crossJoin(F.broadcast(colt))
        .join(cells, ["lang", "source"], "left")
        .na.fill({"n": 0})
        .crossJoin(F.broadcast(tot))
    )
    expected = (
        F.col("rt").cast("double") * F.col("ct") / F.col("n_total")
    )
    chi = (F.col("n") - expected) * (F.col("n") - expected) / expected
    return grid.select(
        "lang",
        "source",
        "n",
        _floor_round(expected, 4).alias("expected"),
        _floor_round(chi, 4).alias("chi2_term"),
    ).orderBy("lang", "source")


# the chi-square and mutual-information oracles' contingency margins
_LANG_SOURCE_MARGINS_SQL = """
rowt AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS rt FROM documents GROUP BY 1
),
colt AS (
  SELECT source, CAST(count(*) AS BIGINT) AS ct FROM documents GROUP BY 1
),"""

CHI2_LANG_SOURCE_SQL = f"""
WITH cells AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2
),
{_LANG_SOURCE_MARGINS_SQL}
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents)
SELECT r.lang, c.source,
       coalesce(x.n, 0) AS n,
       CAST(floor(CAST(r.rt AS DOUBLE) * c.ct / n_total * 10000 + 1e-6)
            / 10000 AS DOUBLE) AS expected,
       CAST(floor((coalesce(x.n, 0) - CAST(r.rt AS DOUBLE) * c.ct / n_total)
                  * (coalesce(x.n, 0) - CAST(r.rt AS DOUBLE) * c.ct / n_total)
                  / (CAST(r.rt AS DOUBLE) * c.ct / n_total)
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS chi2_term
FROM rowt r
CROSS JOIN colt c
LEFT JOIN cells x ON x.lang = r.lang AND x.source = c.source, tot
ORDER BY r.lang, c.source
"""


# ---------------------------------------------------------------------------
# Cohen's kappa for the language-ID heuristic (R4-85): chance-corrected
# agreement between predicted and true language — the one-scalar
# summary over langid_confusion's cell table (raw accuracy flatters a
# classifier on a skewed language mix; kappa subtracts the agreement a
# label-marginal-matching random guesser would get). Computed entirely
# on exact integers: kappa = (n·Σdiag − Σ_l rt_l·ct_l) /
# (n² − Σ_l rt_l·ct_l) — numerator and denominator are exact BIGINTs
# from the confusion cells and marginals, ONE division at the end (po
# and pe are reported as their own single divisions). Scale shape: the
# same map-only prediction kernel as langid_confusion + three hash
# aggregates over the (≤ L²)-cell table.
# ---------------------------------------------------------------------------


def langid_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = _lang_cells(spark, sf_dir)
    rt = cells.groupBy("actual").agg(F.sum("n").alias("rt"))
    ct = cells.groupBy("predicted").agg(F.sum("n").alias("ct"))
    chance = (
        rt.join(ct, rt.actual == ct.predicted)
        .agg(F.sum(F.col("rt") * F.col("ct")).cast("long").alias("sum_rc"))
    )
    base = cells.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("actual") == F.col("predicted"), F.col("n"))
              .otherwise(0)).cast("long").alias("n_agree"),
    )
    joined = base.crossJoin(F.broadcast(chance))
    return joined.select(
        "n_docs",
        "n_agree",
        _floor_round(F.col("n_agree") / F.col("n_docs"), 6).alias("po"),
        _floor_round(
            F.col("sum_rc") / (F.col("n_docs") * F.col("n_docs")), 6
        ).alias("pe"),
        _floor_round(
            (F.col("n_docs") * F.col("n_agree") - F.col("sum_rc"))
            / (F.col("n_docs") * F.col("n_docs") - F.col("sum_rc")),
            6,
        ).alias("kappa"),
    )


LANGID_KAPPA_SQL = rf"""
{_LANG_CELLS_SQL}
rt AS (SELECT actual, CAST(sum(n) AS BIGINT) AS rt FROM cells GROUP BY 1),
ct AS (SELECT predicted, CAST(sum(n) AS BIGINT) AS ct FROM cells GROUP BY 1),
chance AS (
  SELECT CAST(sum(r.rt * c.ct) AS BIGINT) AS sum_rc
  FROM rt r JOIN ct c ON c.predicted = r.actual
),
base AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN actual = predicted THEN n ELSE 0 END) AS BIGINT)
           AS n_agree
  FROM cells
)
SELECT n_docs, n_agree,
       CAST(floor(CAST(n_agree AS DOUBLE) / n_docs * 1000000 + 1e-6)
            / 1000000 AS DOUBLE) AS po,
       CAST(floor(CAST(sum_rc AS DOUBLE) / (n_docs * n_docs)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS pe,
       CAST(floor(CAST(n_docs * n_agree - sum_rc AS DOUBLE)
                  / (n_docs * n_docs - sum_rc) * 1000000 + 1e-6)
            / 1000000 AS DOUBLE) AS kappa
FROM base, chance
"""


# ---------------------------------------------------------------------------
# Spearman rank correlation, doc length vs classifier quality score
# (R4-91): the robust, monotonic-relationship twin of Pearson
# (length_token_correlation) — "do longer documents score better" is a
# bias audit every quality-filtered corpus runs, and Spearman answers
# it without assuming linearity. EXACT tie-aware construction: both
# variables collapse to value histograms; the average rank of a tied
# value, DOUBLED to stay integral ((2·cum_prev + n_v + 1) — a half-
# integer otherwise), comes from one domain-bounded cumulative walk
# per variable; each doc joins its two doubled ranks back (fan-out-1
# equi-joins) and Pearson over the integer doubled-rank pairs reduces
# to exact BIGINT sums — engine-identical up to the single final
# division. (Σ2r is n(n+1)·… checked by the unit against the closed
# identity.) No corpus-sized window anywhere.
# ---------------------------------------------------------------------------


def _len_quality_scores(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(doc_id, n_chars) and (doc_id, s_i): each document's length and
    its linear quality score floored to a 1e-4 integer grid."""
    from .quality_rules import quality_classifier_linear

    lens = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    scores = quality_classifier_linear(spark, sf_dir).select(
        "doc_id",
        F.floor(F.col("score") * 10000 + 1e-6).cast("long").alias("s_i"),
    )
    return lens, scores


def spearman_len_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    lens, scores = _len_quality_scores(spark, sf_dir)

    def doubled_ranks(df: DataFrame, col: str, out: str) -> DataFrame:
        hist = df.groupBy(col).agg(F.count("*").cast("long").alias("n_v"))
        w = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return hist.select(
            col,
            (
                2 * (F.sum("n_v").over(w) - F.col("n_v"))
                + F.col("n_v")
                + 1
            )
            .cast("long")
            .alias(out),
        )

    rx = doubled_ranks(lens, "n_chars", "rx2")
    ry = doubled_ranks(scores, "s_i", "ry2")
    pairs = (
        lens.join(scores, "doc_id")
        .join(rx, "n_chars")
        .join(ry, "s_i")
        .select("rx2", "ry2")
    )
    agg = pairs.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rx2").cast("long").alias("sx"),
        F.sum("ry2").cast("long").alias("sy"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("long").alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("long").alias("syy"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("long").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return agg.select(
        "n",
        _floor_round(
            num / (F.sqrt(denx.cast("double")) * F.sqrt(deny.cast("double"))),
            6,
        ).alias("spearman_rho"),
    )


from .quality_rules import QUALITY_CLASSIFIER_SQL as _CLS_SQL  # noqa: E402

# the Spearman and Kendall oracles' classifier score on its 1e-4 grid
_LEN_QUALITY_SCORED_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         CAST(floor(score * 10000 + 1e-6) AS BIGINT) AS s_i
  FROM ({_CLS_SQL.replace(chr(10), chr(10) + '    ')}
  ) _c
),"""

SPEARMAN_SQL = f"""
{_LEN_QUALITY_SCORED_SQL}
lens AS (SELECT doc_id, n_chars FROM documents),
hx AS (
  SELECT n_chars, CAST(count(*) AS BIGINT) AS n_v FROM lens GROUP BY 1
),
rx AS (
  SELECT n_chars,
         CAST(2 * (sum(n_v) OVER (ORDER BY n_chars
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_v)
              + n_v + 1 AS BIGINT) AS rx2
  FROM hx
),
hy AS (
  SELECT s_i, CAST(count(*) AS BIGINT) AS n_v FROM scored GROUP BY 1
),
ry AS (
  SELECT s_i,
         CAST(2 * (sum(n_v) OVER (ORDER BY s_i
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_v)
              + n_v + 1 AS BIGINT) AS ry2
  FROM hy
),
pairs AS (
  SELECT rx.rx2, ry.ry2
  FROM lens l
  JOIN scored s ON s.doc_id = l.doc_id
  JOIN rx ON rx.n_chars = l.n_chars
  JOIN ry ON ry.s_i = s.s_i
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rx2) AS BIGINT) AS sx,
         CAST(sum(ry2) AS BIGINT) AS sy,
         CAST(sum(rx2 * rx2) AS BIGINT) AS sxx,
         CAST(sum(ry2 * ry2) AS BIGINT) AS syy,
         CAST(sum(rx2 * ry2) AS BIGINT) AS sxy
  FROM pairs
)
SELECT n,
       CAST(floor((n * sxy - sx * sy)
                  / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                     * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS spearman_rho
FROM agg
"""


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence between two language token distributions
# (R4-98): the SYMMETRIC, bounded companion to corpus_drift_kl — JSD
# needs no smoothing (the mixture M = (P+Q)/2 is positive wherever
# either side is), lives in [0, 1] with log2, and its square root is a
# metric, which makes it the number corpora compare ACROSS pairs
# (en-vs-fr vs en-vs-de) where KL's asymmetry and unboundedness
# mislead. Exactness: per-term counts and totals are BIGINT; each
# mixture ratio 2·c_a·n_b / (c_a·n_b + c_b·n_a) is ONE division of
# exact BIGINT products (so p/m needs no float intermediate); each
# term p·log2(r) is floored to 1e-8 fixed point PER TERM and summed as
# BIGINT — never a float accumulation whose value depends on partition
# order (the R4-94 sum_ln_i rule). Scale shape: explode → one term
# hash agg (map-side combined), a 1-row totals broadcast, one final
# 1-row aggregate; the vocabulary is never collected.
# ---------------------------------------------------------------------------

JSD_LANG_A = "en"
JSD_LANG_B = "fr"


def jsd_language_divergence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(
        F.col("lang").isin(JSD_LANG_A, JSD_LANG_B)
    )
    terms = (
        docs.select(
            (F.col("lang") == JSD_LANG_A).alias("is_a"),
            F.explode(_tokens()).alias("term"),
        )
        .groupBy("term")
        .agg(
            F.sum(F.when(F.col("is_a"), 1).otherwise(0))
            .cast("long")
            .alias("c_a"),
            F.sum(F.when(~F.col("is_a"), 1).otherwise(0))
            .cast("long")
            .alias("c_b"),
        )
    )
    totals = terms.agg(
        F.sum("c_a").cast("long").alias("n_a"),
        F.sum("c_b").cast("long").alias("n_b"),
        F.count("*").cast("long").alias("vocab"),
    )
    st = terms.crossJoin(F.broadcast(totals))
    mix_den = (
        F.col("c_a") * F.col("n_b") + F.col("c_b") * F.col("n_a")
    ).cast("double")
    p = F.col("c_a").cast("double") / F.col("n_a")
    q = F.col("c_b").cast("double") / F.col("n_b")
    r_a = (2 * F.col("c_a") * F.col("n_b")).cast("double") / mix_den
    r_b = (2 * F.col("c_b") * F.col("n_a")).cast("double") / mix_den
    t_a = F.when(
        F.col("c_a") > 0,
        F.floor(p * F.log2(r_a) * 100000000 + 1e-6).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    t_b = F.when(
        F.col("c_b") > 0,
        F.floor(q * F.log2(r_b) * 100000000 + 1e-6).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    agg = st.agg(
        F.max("n_a").alias("n_tokens_a"),
        F.max("n_b").alias("n_tokens_b"),
        F.max("vocab").alias("vocab"),
        F.sum(t_a).cast("long").alias("sum_a8"),
        F.sum(t_b).cast("long").alias("sum_b8"),
    )
    jsd = (F.col("sum_a8") + F.col("sum_b8")).cast("double") / 2e8
    return agg.select(
        "n_tokens_a",
        "n_tokens_b",
        "vocab",
        "sum_a8",
        "sum_b8",
        _floor_round(jsd, 6).alias("jsd_bits"),
    )


JSD_SQL = rf"""
WITH terms AS (
  SELECT term,
         CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS c_b
  FROM (
    SELECT lang = '{JSD_LANG_A}' AS is_a,
           unnest(string_split_regex(text, '\s+')) AS term
    FROM documents WHERE lang IN ('{JSD_LANG_A}', '{JSD_LANG_B}')
  )
  GROUP BY 1
),
tot AS (
  SELECT CAST(sum(c_a) AS BIGINT) AS n_a,
         CAST(sum(c_b) AS BIGINT) AS n_b,
         CAST(count(*) AS BIGINT) AS vocab
  FROM terms
),
scored AS (
  SELECT t.c_a, t.c_b, x.n_a, x.n_b, x.vocab,
         CASE WHEN t.c_a > 0 THEN CAST(floor(
           (CAST(t.c_a AS DOUBLE) / x.n_a)
           * log2(CAST(2 * t.c_a * x.n_b AS DOUBLE)
                  / CAST(t.c_a * x.n_b + t.c_b * x.n_a AS DOUBLE))
           * 100000000 + 1e-6) AS BIGINT) ELSE 0 END AS t_a,
         CASE WHEN t.c_b > 0 THEN CAST(floor(
           (CAST(t.c_b AS DOUBLE) / x.n_b)
           * log2(CAST(2 * t.c_b * x.n_a AS DOUBLE)
                  / CAST(t.c_a * x.n_b + t.c_b * x.n_a AS DOUBLE))
           * 100000000 + 1e-6) AS BIGINT) ELSE 0 END AS t_b
  FROM terms t, tot x
)
SELECT max(n_a) AS n_tokens_a,
       max(n_b) AS n_tokens_b,
       max(vocab) AS vocab,
       CAST(sum(t_a) AS BIGINT) AS sum_a8,
       CAST(sum(t_b) AS BIGINT) AS sum_b8,
       CAST(floor(CAST(sum(t_a) + sum(t_b) AS DOUBLE) / 2e8
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS jsd_bits
FROM scored
"""


# ---------------------------------------------------------------------------
# Mutual information + entropies, language × source (R4-99): the
# information-theoretic companion to chi2_lang_source over the SAME
# contingency table — chi² answers "is the deviation from independence
# statistically surprising", MI answers "how many BITS does knowing
# the source tell you about the language", and the normalized ratio
# MI / min(H_lang, H_source) is comparable across corpora. Exactness:
# every cell/margin count is BIGINT; each MI term's log argument
# n·n_ij/(rt_i·ct_j) is ONE division of exact BIGINT products, each
# term p·log2(·) floored to 1e-8 fixed point PER CELL and summed as
# BIGINT (the R4-94/98 rule; zero cells contribute exactly 0 and are
# skipped, the MI convention); both entropies are built the same way
# over their dimension-bounded margins. Scale shape: one corpus hash
# agg for cells, two dimension aggs, 1-row broadcast totals.
# ---------------------------------------------------------------------------


def mutual_info_lang_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("lang", "source")
    cells = docs.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n_ij")
    )
    rowt = docs.groupBy("lang").agg(F.count("*").cast("long").alias("rt"))
    colt = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("ct")
    )
    tot = docs.agg(F.count("*").cast("long").alias("n"))

    def h8(margin: DataFrame, cnt: str) -> DataFrame:
        t = (
            margin.crossJoin(F.broadcast(tot))
            .select(
                F.floor(
                    -(F.col(cnt).cast("double") / F.col("n"))
                    * F.log2(F.col(cnt).cast("double") / F.col("n"))
                    * 100000000
                    + 1e-6
                )
                .cast("long")
                .alias("t8")
            )
        )
        return t.agg(F.sum("t8").cast("long").alias("h8"))

    mi_terms = (
        cells.join(rowt, "lang")
        .join(F.broadcast(colt), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            F.floor(
                (F.col("n_ij").cast("double") / F.col("n"))
                * F.log2(
                    (F.col("n") * F.col("n_ij")).cast("double")
                    / (F.col("rt") * F.col("ct")).cast("double")
                )
                * 100000000
                + 1e-6
            )
            .cast("long")
            .alias("t8")
        )
    )
    mi = mi_terms.agg(F.sum("t8").cast("long").alias("mi8"))
    hl = h8(rowt, "rt").select(F.col("h8").alias("hl8"))
    hs = h8(colt, "ct").select(F.col("h8").alias("hs8"))
    out = (
        tot.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(hs))
    )
    hmin = F.least("hl8", "hs8").cast("double")
    return out.select(
        "n",
        _floor_round(F.col("mi8").cast("double") / 1e8, 6).alias(
            "mi_bits"
        ),
        _floor_round(F.col("hl8").cast("double") / 1e8, 6).alias(
            "h_lang_bits"
        ),
        _floor_round(F.col("hs8").cast("double") / 1e8, 6).alias(
            "h_source_bits"
        ),
        _floor_round(F.col("mi8").cast("double") / hmin, 6).alias(
            "normalized_mi"
        ),
    )


MUTUAL_INFO_SQL = f"""
WITH cells AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_ij
  FROM documents GROUP BY 1, 2
),
{_LANG_SOURCE_MARGINS_SQL}
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
mi AS (
  SELECT CAST(sum(CAST(floor(
           (CAST(x.n_ij AS DOUBLE) / t.n)
           * log2(CAST(t.n * x.n_ij AS DOUBLE)
                  / CAST(r.rt * c.ct AS DOUBLE))
           * 100000000 + 1e-6) AS BIGINT)) AS BIGINT) AS mi8
  FROM cells x
  JOIN rowt r ON r.lang = x.lang
  JOIN colt c ON c.source = x.source, tot t
),
hl AS (
  SELECT CAST(sum(CAST(floor(
           -(CAST(rt AS DOUBLE) / t.n) * log2(CAST(rt AS DOUBLE) / t.n)
           * 100000000 + 1e-6) AS BIGINT)) AS BIGINT) AS hl8
  FROM rowt, tot t
),
hs AS (
  SELECT CAST(sum(CAST(floor(
           -(CAST(ct AS DOUBLE) / t.n) * log2(CAST(ct AS DOUBLE) / t.n)
           * 100000000 + 1e-6) AS BIGINT)) AS BIGINT) AS hs8
  FROM colt, tot t
)
SELECT t.n,
       CAST(floor(mi8 / 1e8 * 1000000 + 1e-6) / 1000000 AS DOUBLE)
         AS mi_bits,
       CAST(floor(hl8 / 1e8 * 1000000 + 1e-6) / 1000000 AS DOUBLE)
         AS h_lang_bits,
       CAST(floor(hs8 / 1e8 * 1000000 + 1e-6) / 1000000 AS DOUBLE)
         AS h_source_bits,
       CAST(floor(CAST(mi8 AS DOUBLE) / least(hl8, hs8)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS normalized_mi
FROM tot t, mi, hl, hs
"""


# ---------------------------------------------------------------------------
# Vocabulary coverage curve (R4-102): what fraction of all token
# OCCURRENCES the top-K most frequent types cover, at K = 100 / 1,000
# / 10,000 — the statistic that sizes a tokenizer vocabulary (BPE
# budgeting) and complements Heaps (type growth) / Zipf (rank decay) /
# hapax (tail mass) with the head-mass view. The vocabulary collapses
# to a (term, tf) table; only the top max-K types enter the ranking
# window (TakeOrdered bounds it — the zipf_rank_frequency rule), with
# (tf DESC, term ASC) making rank deterministic under tf ties; the
# grid row for each K sums the covered BIGINT occurrences exactly and
# pays ONE floored division against the corpus-wide token total.
# ---------------------------------------------------------------------------

COVERAGE_KS = [100, 1000, 10000]


def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    tf = (
        load(spark, sf_dir, "documents")
        .select(F.explode(_tokens()).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    tot = tf.agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
    )
    top = tf.orderBy(F.desc("tf"), F.asc("term")).limit(max(COVERAGE_KS))
    ranked = top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("tf"), F.asc("term"))),
    )
    ks = spark.range(0).sparkSession.createDataFrame(
        [(k,) for k in COVERAGE_KS], "k long"
    )
    per_k = (
        ranked.crossJoin(F.broadcast(ks))
        .where(F.col("rank") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.count("*").cast("long").alias("n_types_at_k"),
            F.sum("tf").cast("long").alias("covered_tokens"),
        )
    )
    return (
        per_k.crossJoin(F.broadcast(tot))
        .select(
            "k",
            "n_types_at_k",
            "covered_tokens",
            "n_tokens",
            "n_types",
            _floor_round(
                F.col("covered_tokens").cast("double") / F.col("n_tokens"),
                6,
            ).alias("coverage"),
        )
        .orderBy("k")
    )


VOCAB_COVERAGE_SQL = rf"""
WITH tf AS (
  SELECT tok AS term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT unnest(string_split_regex(text, '\s+')) AS tok
        FROM documents)
  WHERE tok <> '' GROUP BY tok
),
tot AS (
  SELECT CAST(sum(tf) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types
  FROM tf
),
ranked AS (
  SELECT term, tf, row_number() OVER (ORDER BY tf DESC, term ASC) AS rank
  FROM tf ORDER BY tf DESC, term ASC LIMIT {max(COVERAGE_KS)}
),
ks AS (SELECT unnest([{', '.join(str(k) for k in COVERAGE_KS)}]) AS k),
per_k AS (
  SELECT ks.k,
         CAST(count(*) AS BIGINT) AS n_types_at_k,
         CAST(sum(r.tf) AS BIGINT) AS covered_tokens
  FROM ranked r JOIN ks ON r.rank <= ks.k
  GROUP BY 1
)
SELECT CAST(k AS BIGINT) AS k, n_types_at_k, covered_tokens,
       t.n_tokens, t.n_types,
       CAST(floor(CAST(covered_tokens AS DOUBLE) / t.n_tokens
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS coverage
FROM per_k, tot t
ORDER BY k
"""


# ---------------------------------------------------------------------------
# Kendall tau-b on the length × quality decile grid (R4-103):
# completes the correlation trio — Pearson (linear), Spearman
# (monotonic on exact ranks, R4-91), Kendall (pairwise concordance,
# the most outlier-proof of the three and the one with a direct
# probabilistic reading: P(concordant) − P(discordant)). Exact at
# scale by BUCKETING first: both variables map to deciles via
# ntile(10) with a doc_id tie-break (deterministic total order in
# both engines), the corpus collapses to a ≤10×10 contingency grid,
# and concordant/discordant/tied pair counts are exact-BIGINT sums
# over the grid's ≤10k CELL PAIRS (never the corpus's row pairs —
# the R4-100 domain² rule). tau-b's tie correction handles the mass
# ties bucketing creates; the only doubles are the two final sqrt
# factors. The bucket rank is NOT ntile (a corpus-sized global
# window): it is cum_before(value) from the value histogram plus a
# row_number PARTITIONED BY the tied value (state bounded by the
# largest tie group), so dx = (rank−1)·B div n — the same closed
# formula in both engines, no single-partition window anywhere.
# ---------------------------------------------------------------------------

KENDALL_BUCKETS = 10


def kendall_tau_len_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window
    lens, scores = _len_quality_scores(spark, sf_dir)
    joined = lens.join(scores, "doc_id")
    n = joined.agg(F.count("*").cast("long").alias("n"))

    def decile(df: DataFrame, col: str, out: str) -> DataFrame:
        hist = df.groupBy(col).agg(
            F.count("*").cast("long").alias("n_v")
        )
        wv = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum_before = hist.select(
            col,
            (F.sum("n_v").over(wv) - F.col("n_v"))
            .cast("long")
            .alias("cb"),
        )
        wt = Window.partitionBy(col).orderBy("doc_id")
        return (
            df.join(cum_before, col)
            .crossJoin(F.broadcast(n))
            .select(
                "doc_id",
                (
                    F.floor(
                        (
                            F.col("cb")
                            + F.row_number().over(wt)
                            - 1
                        )
                        * KENDALL_BUCKETS
                        / F.col("n")
                    )
                    + 1
                )
                .cast("long")
                .alias(out),
            )
        )

    bucketed = decile(joined, "n_chars", "dx").join(
        decile(joined, "s_i", "dy"), "doc_id"
    )
    grid = bucketed.groupBy("dx", "dy").agg(
        F.count("*").cast("long").alias("c")
    )
    a, b = grid.alias("a"), grid.alias("b")
    pairs = a.join(
        b,
        (F.col("a.dx") < F.col("b.dx"))
        | ((F.col("a.dx") == F.col("b.dx")) & (F.col("a.dy") <= F.col("b.dy"))),
    ).select(
        F.col("a.dx").alias("x1"),
        F.col("a.dy").alias("y1"),
        F.col("b.dx").alias("x2"),
        F.col("b.dy").alias("y2"),
        F.when(
            (F.col("a.dx") == F.col("b.dx")) & (F.col("a.dy") == F.col("b.dy")),
            F.col("a.c") * (F.col("a.c") - 1) / 2,
        )
        .otherwise(F.col("a.c") * F.col("b.c"))
        .cast("long")
        .alias("np"),
    )
    agg = pairs.agg(
        F.sum(
            F.when(
                (F.col("x1") < F.col("x2")) & (F.col("y1") < F.col("y2")),
                F.col("np"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("concordant"),
        F.sum(
            F.when(
                (F.col("x1") < F.col("x2")) & (F.col("y1") > F.col("y2")),
                F.col("np"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("discordant"),
        F.sum(
            F.when(F.col("x1") == F.col("x2"), F.col("np")).otherwise(0)
        )
        .cast("long")
        .alias("ties_x"),
        F.sum(
            F.when(F.col("y1") == F.col("y2"), F.col("np")).otherwise(0)
        )
        .cast("long")
        .alias("ties_y"),
    )
    n = load(spark, sf_dir, "documents").agg(
        F.count("*").cast("long").alias("n")
    )
    out = agg.crossJoin(F.broadcast(n))
    n0 = (F.col("n") * (F.col("n") - 1) / 2).cast("long")
    tau = (F.col("concordant") - F.col("discordant")).cast("double") / (
        F.sqrt((n0 - F.col("ties_x")).cast("double"))
        * F.sqrt((n0 - F.col("ties_y")).cast("double"))
    )
    return out.select(
        "n",
        n0.alias("n_pairs"),
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        _floor_round(tau, 6).alias("tau_b"),
    )


KENDALL_SQL = f"""
{_LEN_QUALITY_SCORED_SQL}
joined AS (
  SELECT d.doc_id, d.n_chars, s.s_i
  FROM documents d JOIN scored s ON s.doc_id = d.doc_id
),
nn0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM joined),
cbx AS (
  SELECT n_chars,
         CAST(sum(n_v) OVER (ORDER BY n_chars
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_v
              AS BIGINT) AS cb
  FROM (SELECT n_chars, CAST(count(*) AS BIGINT) AS n_v
        FROM joined GROUP BY 1)
),
cby AS (
  SELECT s_i,
         CAST(sum(n_v) OVER (ORDER BY s_i
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_v
              AS BIGINT) AS cb
  FROM (SELECT s_i, CAST(count(*) AS BIGINT) AS n_v
        FROM joined GROUP BY 1)
),
bucketed AS (
  SELECT CAST(floor((x.cb + row_number()
                OVER (PARTITION BY j.n_chars ORDER BY j.doc_id) - 1)
              * {KENDALL_BUCKETS} / CAST(t.n AS DOUBLE)) + 1 AS BIGINT)
           AS dx,
         CAST(floor((y.cb + row_number()
                OVER (PARTITION BY j.s_i ORDER BY j.doc_id) - 1)
              * {KENDALL_BUCKETS} / CAST(t.n AS DOUBLE)) + 1 AS BIGINT)
           AS dy
  FROM joined j
  JOIN cbx x ON x.n_chars = j.n_chars
  JOIN cby y ON y.s_i = j.s_i, nn0 t
),
grid AS (
  SELECT dx, dy, CAST(count(*) AS BIGINT) AS c FROM bucketed GROUP BY 1, 2
),
pairs AS (
  SELECT a.dx AS x1, a.dy AS y1, b.dx AS x2, b.dy AS y2,
         CAST(CASE WHEN a.dx = b.dx AND a.dy = b.dy
                   THEN a.c * (a.c - 1) / 2
                   ELSE a.c * b.c END AS BIGINT) AS np
  FROM grid a JOIN grid b
    ON a.dx < b.dx OR (a.dx = b.dx AND a.dy <= b.dy)
),
agg AS (
  SELECT
    CAST(sum(CASE WHEN x1 < x2 AND y1 < y2 THEN np ELSE 0 END) AS BIGINT)
      AS concordant,
    CAST(sum(CASE WHEN x1 < x2 AND y1 > y2 THEN np ELSE 0 END) AS BIGINT)
      AS discordant,
    CAST(sum(CASE WHEN x1 = x2 THEN np ELSE 0 END) AS BIGINT) AS ties_x,
    CAST(sum(CASE WHEN y1 = y2 THEN np ELSE 0 END) AS BIGINT) AS ties_y
  FROM pairs
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
SELECT n,
       CAST(n * (n - 1) / 2 AS BIGINT) AS n_pairs,
       concordant, discordant, ties_x, ties_y,
       CAST(floor(CAST(concordant - discordant AS DOUBLE)
                  / (sqrt(CAST(n * (n - 1) / 2 - ties_x AS DOUBLE))
                     * sqrt(CAST(n * (n - 1) / 2 - ties_y AS DOUBLE)))
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS tau_b
FROM agg, nn
"""


# ---------------------------------------------------------------------------
# Quantile-quantile drift table between crawl waves (R4-104): the
# LOCATION view that completes the drift suite — KS (ks_length_drift)
# says WHETHER the length distribution moved, KL (corpus_drift_kl)
# says WHICH tokens moved, the QQ table says WHERE in the distribution
# the lengths moved (head, middle, or tail) and BY HOW MUCH. Waves
# are the deterministic doc_id halves (the KS rule). Each wave's
# deciles are exact nearest-rank picks (rank = ceil(p·n), the R4-65
# construction — integers, no interpolation mode anywhere) from one
# wave-partitioned cumulative walk over the shared n_chars histogram;
# the 9 rows report both quantiles and their signed gap.
# ---------------------------------------------------------------------------


def qq_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    mid = docs.agg(((F.min("doc_id") + F.max("doc_id")) / 2).alias("mid"))
    waved = docs.crossJoin(F.broadcast(mid)).select(
        (F.col("doc_id") >= F.col("mid")).alias("new_wave"), "n_chars"
    )
    hist = waved.groupBy("new_wave", "n_chars").agg(
        F.count("*").cast("long").alias("n_v")
    )
    tot = hist.groupBy("new_wave").agg(
        F.sum("n_v").cast("long").alias("n")
    )
    w = (
        Window.partitionBy("new_wave")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "new_wave",
        "n_chars",
        "n_v",
        F.sum("n_v").over(w).cast("long").alias("cum"),
    ).join(tot, "new_wave")
    ps = spark.createDataFrame([(p,) for p in range(10, 100, 10)], "p long")
    r = F.ceil(F.col("p") * F.col("n") / 100.0).cast("long")
    picks = (
        cum.crossJoin(F.broadcast(ps))
        .where(
            (F.col("cum") - F.col("n_v") + 1 <= r) & (r <= F.col("cum"))
        )
        .groupBy("p", "new_wave")
        .agg(F.min("n_chars").cast("long").alias("q"))
    )
    old = picks.where(~F.col("new_wave")).select(
        "p", F.col("q").alias("q_old")
    )
    new = picks.where(F.col("new_wave")).select(
        "p", F.col("q").alias("q_new")
    )
    return (
        old.join(new, "p")
        .select(
            "p", "q_old", "q_new", (F.col("q_new") - F.col("q_old")).alias("gap")
        )
        .orderBy("p")
    )


QQ_DRIFT_SQL = """
WITH mid AS (
  SELECT (min(doc_id) + max(doc_id)) / 2.0 AS mid FROM documents
),
waved AS (
  SELECT doc_id >= (SELECT mid FROM mid) AS new_wave, n_chars
  FROM documents
),
hist AS (
  SELECT new_wave, n_chars, CAST(count(*) AS BIGINT) AS n_v
  FROM waved GROUP BY 1, 2
),
tot AS (
  SELECT new_wave, CAST(sum(n_v) AS BIGINT) AS n FROM hist GROUP BY 1
),
cum AS (
  SELECT h.new_wave, h.n_chars, h.n_v, t.n,
         CAST(sum(h.n_v) OVER (PARTITION BY h.new_wave ORDER BY h.n_chars
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM hist h JOIN tot t ON t.new_wave = h.new_wave
),
ps AS (SELECT unnest([10, 20, 30, 40, 50, 60, 70, 80, 90]) AS p),
picks AS (
  SELECT ps.p, c.new_wave, CAST(min(c.n_chars) AS BIGINT) AS q
  FROM cum c JOIN ps
    ON c.cum - c.n_v + 1 <= CAST(ceil(ps.p * c.n / 100.0) AS BIGINT)
   AND CAST(ceil(ps.p * c.n / 100.0) AS BIGINT) <= c.cum
  GROUP BY 1, 2
)
SELECT CAST(o.p AS BIGINT) AS p,
       o.q AS q_old, nw.q AS q_new, nw.q - o.q AS gap
FROM picks o JOIN picks nw ON nw.p = o.p
WHERE o.new_wave = FALSE AND nw.new_wave = TRUE
ORDER BY p
"""


# ---------------------------------------------------------------------------
# word2vec negative-sampling distribution (R4-110): the unigram^0.75
# table (Mikolov 2013 §2.2) that skipgram_pairs' negative-sampling
# stage draws from — raising unigram frequency to the 3/4 power
# flattens the head so mid-frequency words get sampled as negatives
# often enough to matter; the report shows the top terms with their
# negative-sampling probability NEXT TO their raw unigram probability
# (the flatten ratio is the point of the table). Exactness: f^0.75 is
# pow of an exact BIGINT (both engines correctly-rounded to the same
# double for integral inputs), floored to 1e-4 fixed point PER TERM
# and summed as BIGINT for the normalizer (the R4-94 rule — never an
# order-dependent float sum over the vocabulary); each probability is
# one floored division. Scale shape: explode → one term hash agg →
# 1-row normalizer broadcast → TakeOrdered top-k.
# ---------------------------------------------------------------------------

NEG_SAMPLE_POW = 0.75
NEG_SAMPLE_TOP = 20


def negative_sampling_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    tf = (
        load(spark, sf_dir, "documents")
        .select(F.explode(_tokens()).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("f"))
    )
    w4 = F.floor(
        F.pow(F.col("f").cast("double"), NEG_SAMPLE_POW) * 10000 + 1e-6
    ).cast("long")
    staged = tf.select("term", "f", w4.alias("w4"))
    tot = staged.agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.sum("w4").cast("long").alias("z4"),
    )
    scored = staged.crossJoin(F.broadcast(tot)).select(
        "term",
        "f",
        _floor_round(
            F.col("w4").cast("double") / F.col("z4"), 8
        ).alias("p_neg"),
        _floor_round(
            F.col("f").cast("double") / F.col("n_tokens"), 8
        ).alias("p_unigram"),
        _floor_round(
            (F.col("w4").cast("double") / F.col("z4"))
            / (F.col("f").cast("double") / F.col("n_tokens")),
            4,
        ).alias("flatten_ratio"),
    )
    return scored.orderBy(F.desc("f"), F.asc("term")).limit(
        NEG_SAMPLE_TOP
    )


NEG_SAMPLING_SQL = rf"""
WITH tf AS (
  SELECT tok AS term, CAST(count(*) AS BIGINT) AS f
  FROM (SELECT unnest(string_split_regex(text, '\s+')) AS tok
        FROM documents)
  WHERE tok <> '' GROUP BY tok
),
staged AS (
  SELECT term, f,
         CAST(floor(pow(CAST(f AS DOUBLE), {NEG_SAMPLE_POW}) * 10000
                    + 1e-6) AS BIGINT) AS w4
  FROM tf
),
tot AS (
  SELECT CAST(sum(f) AS BIGINT) AS n_tokens,
         CAST(sum(w4) AS BIGINT) AS z4
  FROM staged
)
SELECT term, f,
       CAST(floor(CAST(w4 AS DOUBLE) / z4 * 100000000 + 1e-6)
            / 100000000 AS DOUBLE) AS p_neg,
       CAST(floor(CAST(f AS DOUBLE) / n_tokens * 100000000 + 1e-6)
            / 100000000 AS DOUBLE) AS p_unigram,
       CAST(floor((CAST(w4 AS DOUBLE) / z4)
                  / (CAST(f AS DOUBLE) / n_tokens) * 10000 + 1e-6)
            / 10000 AS DOUBLE) AS flatten_ratio
FROM staged, tot
ORDER BY f DESC, term ASC
LIMIT {NEG_SAMPLE_TOP}
"""


# ---------------------------------------------------------------------------
# Log-normal fit of document lengths (R4-123): the model-selection
# companion to power_law_mle — web-corpus length distributions are
# classically argued to be log-normal vs Pareto, and the curator needs
# both fits side by side. Per-doc ln(length) is floored onto a 1e-5
# grid (one deterministic per-row double -> BIGINT), so the moment
# sums are exact integers; mu/sigma and the implied lognormal
# median/mean are closed forms from those sums. The empirical median
# comes from the bounded length histogram (the R4-35 cumulative trick),
# never a global sort.
# ---------------------------------------------------------------------------


def lognormal_length_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents").select(
        F.size(_tokens()).cast("long").alias("n_t")
    ).where(F.col("n_t") >= 1)
    q = docs.select(
        "n_t",
        F.floor(F.log(F.col("n_t").cast("double")) * 100000 + 1e-6)
        .cast("long")
        .alias("lq"),
    )
    mom = q.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("lq").cast("long").alias("s"),
        F.sum(F.col("lq") * F.col("lq")).cast("long").alias("ss"),
        F.sum("n_t").cast("long").alias("tok_total"),
    )
    hist = q.groupBy("n_t").agg(F.count("*").cast("long").alias("c"))
    w = Window.orderBy("n_t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = hist.agg(F.sum("c").cast("long").alias("nn"))
    cum = hist.select(
        "n_t", "c", F.sum("c").over(w).cast("long").alias("cum")
    ).crossJoin(F.broadcast(tot))
    lo = F.floor((F.col("nn") + 1) / 2).cast("long")
    med = cum.agg(
        F.min(
            F.when(
                (F.col("cum") - F.col("c") + 1 <= lo) & (lo <= F.col("cum")),
                F.col("n_t"),
            )
        ).alias("emp_median")
    )
    mu_q = F.col("s").cast("double") / F.col("n").cast("double")
    var_q = (
        F.col("ss").cast("double") / F.col("n").cast("double") - mu_q * mu_q
    )
    mu = mu_q / 100000.0
    sigma = F.sqrt(var_q) / 100000.0
    return mom.crossJoin(F.broadcast(med)).select(
        F.col("n").alias("n_docs"),
        _floor_round(mu, 6).alias("mu_log"),
        _floor_round(sigma, 6).alias("sigma_log"),
        _floor_round(F.exp(mu), 4).alias("lognorm_median"),
        _floor_round(F.exp(mu + sigma * sigma / 2), 4).alias("lognorm_mean"),
        F.col("emp_median").cast("long").alias("emp_median"),
        _floor_round(
            F.col("tok_total").cast("double") / F.col("n").cast("double"), 4
        ).alias("emp_mean"),
    )


LOGNORMAL_FIT_SQL = r"""
WITH q AS (
  SELECT CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_t,
         CAST(floor(ln(CAST(len(string_split_regex(text, '\s+'))
                            AS DOUBLE)) * 100000 + 1e-6) AS BIGINT) AS lq
  FROM documents
  WHERE len(string_split_regex(text, '\s+')) >= 1
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(lq) AS BIGINT) AS s,
         CAST(sum(lq * lq) AS BIGINT) AS ss,
         CAST(sum(n_t) AS BIGINT) AS tok_total
  FROM q
),
hist AS (SELECT n_t, CAST(count(*) AS BIGINT) AS c FROM q GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM hist),
cum AS (
  SELECT n_t, c,
         CAST(sum(c) OVER (ORDER BY n_t ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS cum,
         t.nn, CAST(floor((t.nn + 1) / 2.0) AS BIGINT) AS lo
  FROM hist, tot t
),
med AS (
  SELECT min(CASE WHEN cum - c + 1 <= lo AND lo <= cum THEN n_t END)
           AS emp_median
  FROM cum
)
SELECT n AS n_docs,
       CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100000.0
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS mu_log,
       CAST(floor(sqrt(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                       - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                  / 100000.0
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS sigma_log,
       CAST(floor(exp(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100000.0)
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS lognorm_median,
       CAST(floor(exp(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100000.0
                      + (sqrt(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                              - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                                * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                         / 100000.0)
                        * (sqrt(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                                - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                                  * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                           / 100000.0) / 2)
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS lognorm_mean,
       CAST(emp_median AS BIGINT) AS emp_median,
       CAST(floor(CAST(tok_total AS DOUBLE) / CAST(n AS DOUBLE)
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS emp_mean
FROM mom, med
"""


# ---------------------------------------------------------------------------
# Pairwise source-vocabulary overlap (R4-124): Jaccard over the TYPE
# sets of every source pair — the provenance diagnostic that tells a
# curator which crawl feeds are redundant (near-identical vocabularies)
# vs complementary before weighting them (feeds language_mix_sample /
# domain-cap decisions). One distinct (source, term) hash-agg; the
# pair join fans out per term only to the sources that share it
# (bounded by the source vocabulary, never all-pairs over docs).
# ---------------------------------------------------------------------------


def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab = (
        load(spark, sf_dir, "documents")
        .select("source", F.explode(_tokens()).alias("term"))
        .distinct()
    )
    sizes = vocab.groupBy(F.col("source").alias("sz_src")).agg(
        F.count("*").cast("long").alias("v_size")
    )
    a, b = vocab.alias("a"), vocab.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count("*").cast("long").alias("shared"))
    )
    out = (
        shared.join(
            F.broadcast(sizes), F.col("src_a") == F.col("sz_src")
        )
        .withColumnRenamed("v_size", "v_a")
        .drop("sz_src")
        .join(F.broadcast(sizes), F.col("src_b") == F.col("sz_src"))
        .withColumnRenamed("v_size", "v_b")
        .drop("sz_src")
    )
    jac = F.col("shared").cast("double") / (
        F.col("v_a") + F.col("v_b") - F.col("shared")
    ).cast("double")
    return out.select(
        "src_a",
        "src_b",
        "v_a",
        "v_b",
        "shared",
        _floor_round(jac, 6).alias("jaccard"),
    ).orderBy("src_a", "src_b")


SOURCE_VOCAB_OVERLAP_SQL = r"""
WITH vocab AS (
  SELECT DISTINCT source, term
  FROM (SELECT source, unnest(string_split_regex(text, '\s+')) AS term
        FROM documents)
),
sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS v_size FROM vocab GROUP BY 1
),
shared AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS shared
  FROM vocab a JOIN vocab b
    ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2
)
SELECT s.src_a, s.src_b,
       x.v_size AS v_a, y.v_size AS v_b, s.shared,
       CAST(floor(CAST(s.shared AS DOUBLE)
                  / CAST(x.v_size + y.v_size - s.shared AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS jaccard
FROM shared s
JOIN sizes x ON x.source = s.src_a
JOIN sizes y ON y.source = s.src_b
ORDER BY src_a, src_b
"""


# ---------------------------------------------------------------------------
# Burrows' Delta between sources (R4-125): the classic stylometric
# distance (Burrows 2002) over the corpus's top-M most-frequent words
# — per source, each marker word's relative frequency is z-scored
# against the across-source mean/std, and Delta(a,b) is the mean |z
# difference|. In a pipeline this separates template-heavy / machine
# generated feeds from organic ones before weighting. Exactness:
# relative frequencies are floored onto a 1e-6 grid (BIGINT), the
# across-source moments are exact integer sums over the bounded
# source list, zero-variance markers are excluded by an exact integer
# rule (n*SS == S*S) in both engines, and each |z_a − z_b| term is
# floored onto 1e-8 before the BIGINT pair sum — no float summation
# anywhere. Everything after the one token hash-agg runs on the
# (sources × M) grid.
# ---------------------------------------------------------------------------

DELTA_TOP_M = 20


def burrows_delta_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load(spark, sf_dir, "documents").select(
        "source", F.explode(_tokens()).alias("term")
    )
    counts = toks.groupBy("source", "term").agg(
        F.count("*").cast("long").alias("c")
    )
    totals = counts.groupBy(F.col("source").alias("t_src")).agg(
        F.sum("c").cast("long").alias("tot")
    )
    top = (
        counts.groupBy("term")
        .agg(F.sum("c").cast("long").alias("g"))
        .orderBy(F.desc("g"), F.asc("term"))
        .limit(DELTA_TOP_M)
        .select("term")
    )
    n_src = totals.agg(F.count("*").cast("long").alias("n_s"))
    # dense grid: every (source, marker) cell, zero-filled
    grid = (
        totals.select(F.col("t_src").alias("source"), "tot")
        .crossJoin(F.broadcast(top))
        .join(counts, ["source", "term"], "left")
        .select(
            "source",
            "term",
            F.floor(
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / F.col("tot").cast("double")
                * 1000000
                + 1e-6
            )
            .cast("long")
            .alias("fq"),
        )
    )
    mom = grid.groupBy(F.col("term").alias("m_term")).agg(
        F.sum("fq").cast("long").alias("s_f"),
        F.sum(F.col("fq") * F.col("fq")).cast("long").alias("ss_f"),
    ).crossJoin(F.broadcast(n_src)).where(
        F.col("n_s") * F.col("ss_f") != F.col("s_f") * F.col("s_f")
    )
    mu = F.col("s_f").cast("double") / F.col("n_s").cast("double")
    sd = F.sqrt(
        F.col("ss_f").cast("double") / F.col("n_s").cast("double") - mu * mu
    )
    z = grid.join(mom, F.col("term") == F.col("m_term")).select(
        "source",
        "term",
        ((F.col("fq").cast("double") - mu) / sd).alias("z"),
    )
    a, b = z.alias("a"), z.alias("b")
    pairs = a.join(
        b,
        (F.col("a.term") == F.col("b.term"))
        & (F.col("a.source") < F.col("b.source")),
    ).select(
        F.col("a.source").alias("src_a"),
        F.col("b.source").alias("src_b"),
        F.floor(
            F.abs(F.col("a.z") - F.col("b.z")) * 100000000 + 1e-6
        )
        .cast("long")
        .alias("dq"),
    )
    agg = pairs.groupBy("src_a", "src_b").agg(
        F.count("*").cast("long").alias("n_markers"),
        F.sum("dq").cast("long").alias("sdq"),
    )
    return agg.select(
        "src_a",
        "src_b",
        "n_markers",
        _floor_round(
            F.col("sdq").cast("double")
            / 100000000.0
            / F.col("n_markers").cast("double"),
            6,
        ).alias("delta"),
    ).orderBy("src_a", "src_b")


BURROWS_DELTA_SQL = rf"""
WITH toks AS (
  SELECT source, unnest(string_split_regex(text, '\s+')) AS term
  FROM documents
),
counts AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY 1, 2
),
totals AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS tot FROM counts GROUP BY 1
),
top AS (
  SELECT term FROM (
    SELECT term, CAST(sum(c) AS BIGINT) AS g FROM counts GROUP BY 1
  ) ORDER BY g DESC, term ASC LIMIT {DELTA_TOP_M}
),
n_src AS (SELECT CAST(count(*) AS BIGINT) AS n_s FROM totals),
grid AS (
  SELECT t.source, p.term,
         CAST(floor(CAST(coalesce(c.c, 0) AS DOUBLE)
                    / CAST(t.tot AS DOUBLE) * 1000000 + 1e-6)
              AS BIGINT) AS fq
  FROM totals t CROSS JOIN top p
  LEFT JOIN counts c ON c.source = t.source AND c.term = p.term
),
mom AS (
  SELECT term,
         CAST(sum(fq) AS BIGINT) AS s_f,
         CAST(sum(fq * fq) AS BIGINT) AS ss_f,
         (SELECT n_s FROM n_src) AS n_s
  FROM grid GROUP BY 1
),
z AS (
  SELECT g.source, g.term,
         (CAST(g.fq AS DOUBLE)
          - CAST(m.s_f AS DOUBLE) / CAST(m.n_s AS DOUBLE))
         / sqrt(CAST(m.ss_f AS DOUBLE) / CAST(m.n_s AS DOUBLE)
                - (CAST(m.s_f AS DOUBLE) / CAST(m.n_s AS DOUBLE))
                  * (CAST(m.s_f AS DOUBLE) / CAST(m.n_s AS DOUBLE))) AS z
  FROM grid g JOIN mom m ON g.term = m.term
  WHERE m.n_s * m.ss_f != m.s_f * m.s_f
),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(floor(abs(a.z - b.z) * 100000000 + 1e-6) AS BIGINT) AS dq
  FROM z a JOIN z b ON a.term = b.term AND a.source < b.source
)
SELECT src_a, src_b,
       CAST(count(*) AS BIGINT) AS n_markers,
       CAST(floor(CAST(sum(dq) AS DOUBLE) / 100000000.0
                  / CAST(count(*) AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS delta
FROM pairs
GROUP BY 1, 2
ORDER BY src_a, src_b
"""


# ---------------------------------------------------------------------------
# Character-class profile per language (R4-126): alpha / digit /
# whitespace / other shares of the raw character stream, split by the
# lang column — the cheapest possible encoding/quality fingerprint (a
# "French" feed that is 30% digits is a table dump, not prose; a CJK
# feed with near-zero letter share under a Latin-only alpha class is
# the expected signature, not an anomaly). Map-only Unicode-category
# regex counts (\p{L}, \p{N}, \s — identical semantics in Java regex
# and RE2), exact BIGINT sums, floored shares; output bounded by the
# language vocabulary.
# ---------------------------------------------------------------------------


def _cc_count(pattern: str) -> Column:
    return (
        F.length(F.col("text"))
        - F.length(F.regexp_replace(F.col("text"), pattern, ""))
    ).cast("long")


def char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "lang",
        F.length("text").cast("long").alias("n_ch"),
        _cc_count(r"\p{L}").alias("n_alpha"),
        _cc_count(r"\p{N}").alias("n_digit"),
        _cc_count(r"\s").alias("n_space"),
    )
    agg = docs.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_ch").cast("long").alias("chars"),
        F.sum("n_alpha").cast("long").alias("alpha"),
        F.sum("n_digit").cast("long").alias("digit"),
        F.sum("n_space").cast("long").alias("space"),
    )
    def share(c):
        return _floor_round(
            F.col(c).cast("double") / F.col("chars").cast("double"), 6
        )
    other = (
        F.col("chars") - F.col("alpha") - F.col("digit") - F.col("space")
    ).cast("long")
    return agg.select(
        "lang",
        "n_docs",
        "chars",
        share("alpha").alias("alpha_share"),
        share("digit").alias("digit_share"),
        share("space").alias("space_share"),
        _floor_round(
            other.cast("double") / F.col("chars").cast("double"), 6
        ).alias("other_share"),
    ).orderBy("lang")


CHAR_CLASS_SQL = r"""
WITH per AS (
  SELECT lang,
         CAST(len(text) AS BIGINT) AS n_ch,
         CAST(len(text) - len(regexp_replace(text, '\p{L}', '', 'g'))
              AS BIGINT) AS n_alpha,
         CAST(len(text) - len(regexp_replace(text, '\p{N}', '', 'g'))
              AS BIGINT) AS n_digit,
         CAST(len(text) - len(regexp_replace(text, '\s', '', 'g'))
              AS BIGINT) AS n_space
  FROM documents
),
agg AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_ch) AS BIGINT) AS chars,
         CAST(sum(n_alpha) AS BIGINT) AS alpha,
         CAST(sum(n_digit) AS BIGINT) AS digit,
         CAST(sum(n_space) AS BIGINT) AS space
  FROM per GROUP BY 1
)
SELECT lang, n_docs, chars,
       CAST(floor(CAST(alpha AS DOUBLE) / CAST(chars AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS alpha_share,
       CAST(floor(CAST(digit AS DOUBLE) / CAST(chars AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS digit_share,
       CAST(floor(CAST(space AS DOUBLE) / CAST(chars AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS space_share,
       CAST(floor(CAST(chars - alpha - digit - space AS DOUBLE)
                  / CAST(chars AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS other_share
FROM agg
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Source league table via PERCENT_RANK / CUME_DIST (R4-133): the two
# remaining ANSI ranking functions not yet on the graded surface
# (row_number / rank / dense_rank / ntile are) — each source ranked by
# its total token volume, with percent_rank = (rank-1)/(n-1) and
# cume_dist = peers_at_or_below/n. The window runs over the bounded
# source list (one row per source after the hash-agg); the
# (volume DESC, source ASC) total order makes both functions
# tie-free and engine-deterministic.
# ---------------------------------------------------------------------------


def source_league_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    vol = (
        load(spark, sf_dir, "documents")
        .select("source", F.size(_tokens()).cast("long").alias("n_t"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_t").cast("long").alias("tokens"),
        )
    )
    w = Window.orderBy(F.desc("tokens"), F.asc("source"))
    return vol.select(
        "source",
        "n_docs",
        "tokens",
        F.row_number().over(w).cast("long").alias("rnk"),
        _floor_round(F.percent_rank().over(w), 6).alias("pct_rank"),
        _floor_round(F.cume_dist().over(w), 6).alias("cume_dist"),
    ).orderBy("rnk")


SOURCE_LEAGUE_SQL = r"""
WITH vol AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT)
           AS tokens
  FROM documents GROUP BY 1
)
SELECT source, n_docs, tokens,
       CAST(row_number() OVER (ORDER BY tokens DESC, source ASC)
            AS BIGINT) AS rnk,
       CAST(floor(percent_rank() OVER (ORDER BY tokens DESC, source ASC)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS pct_rank,
       CAST(floor(cume_dist() OVER (ORDER BY tokens DESC, source ASC)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS cume_dist
FROM vol
ORDER BY rnk
"""


# ---------------------------------------------------------------------------
# One-way ANOVA of document length across languages (R4-137): does
# language explain length variance — the omnibus companion to the
# pairwise Mann-Whitney/KS tests already graded, plus eta-squared (the
# effect size a curator actually reads before per-language length
# thresholds). Group moments are exact BIGINT sums; each group's
# between/within contribution is ONE double floored onto a 1e-6 grid
# before the BIGINT cross-group sum (k is tiny but the no-float-sum
# rule holds anyway); F and eta² are closed forms from those integers.
# ---------------------------------------------------------------------------


def _oneway_anova(
    df: DataFrame, col: str
) -> tuple[DataFrame, Column, Column, Column]:
    """One-way ANOVA of ``col`` across ``lang`` groups: the one-row
    (k_groups, n_total, ssw_q, ssb_q) aggregate — per-group SS terms
    floored to a 1e-6 grid before the BIGINT sum — and the SS_between,
    SS_within and F columns over it."""
    g = df.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum(col).cast("long").alias("s_g"),
        F.sum(F.col(col) * F.col(col)).cast("long").alias("ss_g"),
    )
    tot = g.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
    )
    j = g.crossJoin(F.broadcast(tot))
    m_g = F.col("s_g").cast("double") / F.col("n_g").cast("double")
    m = F.col("s").cast("double") / F.col("n").cast("double")
    wq = F.floor(
        (
            F.col("ss_g").cast("double")
            - F.col("s_g").cast("double")
              * F.col("s_g").cast("double")
              / F.col("n_g").cast("double")
        )
        * 1000000
        + 1e-6
    ).cast("long")
    bq = F.floor(
        F.col("n_g").cast("double") * (m_g - m) * (m_g - m) * 1000000
        + 1e-6
    ).cast("long")
    agg = j.groupBy().agg(
        F.max("k").alias("k_groups"),
        F.max("n").alias("n_total"),
        F.sum(wq).cast("long").alias("ssw_q"),
        F.sum(bq).cast("long").alias("ssb_q"),
    )
    ssw = F.col("ssw_q").cast("double") / 1000000.0
    ssb = F.col("ssb_q").cast("double") / 1000000.0
    f_stat = (ssb / (F.col("k_groups").cast("double") - 1.0)) / (
        ssw
        / (
            F.col("n_total").cast("double")
            - F.col("k_groups").cast("double")
        )
    )
    return agg, ssb, ssw, f_stat


def anova_length_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "lang", F.size(_tokens()).cast("long").alias("n_t")
    )
    agg, ssb, ssw, f_stat = _oneway_anova(docs, "n_t")
    return agg.select(
        F.col("k_groups").cast("long").alias("k_groups"),
        F.col("n_total").cast("long").alias("n_total"),
        _floor_round(ssb, 4).alias("ss_between"),
        _floor_round(ssw, 4).alias("ss_within"),
        _floor_round(f_stat, 4).alias("f_stat"),
        _floor_round(ssb / (ssb + ssw), 6).alias("eta_sq"),
    )


def _anova_sql(col: str, src: str) -> str:
    """The ANOVA oracles' shared CTEs g, tot, terms and agg: one-way
    ANOVA of ``col`` across ``lang`` over the relation ``src``."""
    return f"""g AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum({col}) AS BIGINT) AS s_g,
         CAST(sum({col} * {col}) AS BIGINT) AS ss_g
  FROM {src} GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n_g) AS BIGINT) AS n,
         CAST(sum(s_g) AS BIGINT) AS s
  FROM g
),
terms AS (
  SELECT t.k, t.n,
         CAST(floor((CAST(g.ss_g AS DOUBLE)
                     - CAST(g.s_g AS DOUBLE) * CAST(g.s_g AS DOUBLE)
                       / CAST(g.n_g AS DOUBLE))
                    * 1000000 + 1e-6) AS BIGINT) AS wq,
         CAST(floor(CAST(g.n_g AS DOUBLE)
                    * (CAST(g.s_g AS DOUBLE) / CAST(g.n_g AS DOUBLE)
                       - CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE))
                    * (CAST(g.s_g AS DOUBLE) / CAST(g.n_g AS DOUBLE)
                       - CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE))
                    * 1000000 + 1e-6) AS BIGINT) AS bq
  FROM g, tot t
),
agg AS (
  SELECT max(k) AS k_groups, max(n) AS n_total,
         CAST(sum(wq) AS BIGINT) AS ssw_q,
         CAST(sum(bq) AS BIGINT) AS ssb_q
  FROM terms
)"""


ANOVA_LENGTH_SQL = rf"""
WITH docs AS (
  SELECT lang,
         CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_t
  FROM documents
),
{_anova_sql("n_t", "docs")}
SELECT CAST(k_groups AS BIGINT) AS k_groups,
       CAST(n_total AS BIGINT) AS n_total,
       CAST(floor(CAST(ssb_q AS DOUBLE) / 1000000.0 * 10000 + 1e-6)
            / 10000 AS DOUBLE) AS ss_between,
       CAST(floor(CAST(ssw_q AS DOUBLE) / 1000000.0 * 10000 + 1e-6)
            / 10000 AS DOUBLE) AS ss_within,
       CAST(floor(((CAST(ssb_q AS DOUBLE) / 1000000.0)
                   / (CAST(k_groups AS DOUBLE) - 1.0))
                  / ((CAST(ssw_q AS DOUBLE) / 1000000.0)
                     / (CAST(n_total AS DOUBLE)
                        - CAST(k_groups AS DOUBLE)))
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS f_stat,
       CAST(floor((CAST(ssb_q AS DOUBLE) / 1000000.0)
                  / ((CAST(ssb_q AS DOUBLE) / 1000000.0)
                     + (CAST(ssw_q AS DOUBLE) / 1000000.0))
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS eta_sq
FROM agg
"""


# ---------------------------------------------------------------------------
# Brown-Forsythe variance-equality test (R4-138): the robust Levene
# variant — one-way ANOVA on |length − group MEDIAN| — answering
# whether languages differ in length SPREAD, which the mean-comparing
# ANOVA above assumes homogeneous. Group medians are exact (the
# grouped cumulative-histogram rule over the bounded length domain),
# so the absolute deviations are exact BIGINTs per doc; the ANOVA
# kernel then reuses the same floored-term scheme as R4-137.
# ---------------------------------------------------------------------------


def brown_forsythe_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents").select(
        "lang", F.size(_tokens()).cast("long").alias("n_t")
    )
    hist = docs.groupBy("lang", "n_t").agg(
        F.count("*").cast("long").alias("c")
    )
    gt = hist.groupBy(F.col("lang").alias("m_lang")).agg(
        F.sum("c").cast("long").alias("n_g")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("n_t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("c").over(w).cast("long")).join(
        F.broadcast(gt), F.col("lang") == F.col("m_lang")
    )
    lo = F.floor((F.col("n_g") + 1) / 2).cast("long")
    med = cum.groupBy("lang").agg(
        F.min(
            F.when(
                (F.col("cum") - F.col("c") + 1 <= lo) & (lo <= F.col("cum")),
                F.col("n_t"),
            )
        )
        .cast("long")
        .alias("med")
    )
    z = docs.join(F.broadcast(med), "lang").select(
        "lang", F.abs(F.col("n_t") - F.col("med")).cast("long").alias("z")
    )
    agg, _, _, f_stat = _oneway_anova(z, "z")
    return agg.select(
        F.col("k_groups").cast("long").alias("k_groups"),
        F.col("n_total").cast("long").alias("n_total"),
        _floor_round(f_stat, 4).alias("f_bf"),
    )


BROWN_FORSYTHE_SQL = rf"""
WITH docs AS (
  SELECT lang,
         CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_t
  FROM documents
),
hist AS (
  SELECT lang, n_t, CAST(count(*) AS BIGINT) AS c FROM docs GROUP BY 1, 2
),
gt AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_g FROM hist GROUP BY 1),
cum AS (
  SELECT h.lang, h.n_t, h.c,
         CAST(sum(h.c) OVER (PARTITION BY h.lang ORDER BY h.n_t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         t.n_g, CAST(floor((t.n_g + 1) / 2.0) AS BIGINT) AS lo
  FROM hist h JOIN gt t USING (lang)
),
med AS (
  SELECT lang,
         CAST(min(CASE WHEN cum - c + 1 <= lo AND lo <= cum THEN n_t END)
              AS BIGINT) AS med
  FROM cum GROUP BY 1
),
z AS (
  SELECT d.lang, CAST(abs(d.n_t - m.med) AS BIGINT) AS z
  FROM docs d JOIN med m USING (lang)
),
{_anova_sql("z", "z")}
SELECT CAST(k_groups AS BIGINT) AS k_groups,
       CAST(n_total AS BIGINT) AS n_total,
       CAST(floor(((CAST(ssb_q AS DOUBLE) / 1000000.0)
                   / (CAST(k_groups AS DOUBLE) - 1.0))
                  / ((CAST(ssw_q AS DOUBLE) / 1000000.0)
                     / (CAST(n_total AS DOUBLE)
                        - CAST(k_groups AS DOUBLE)))
                  * 10000 + 1e-6) / 10000 AS DOUBLE) AS f_bf
FROM agg
"""


# ---------------------------------------------------------------------------
# Per-source language entropy (R4-149): how specialized each feed is —
# Shannon entropy of its language mix plus the effective number of
# languages exp(H) (the "true diversity" read next to HHI's
# concentration). Counts are exact BIGINTs; each language's
# -p·ln(p) term is ONE double floored onto a 1e-9 grid before the
# BIGINT per-source sum (language fan-in is bounded by the lang
# vocabulary). Output bounded by sources.
# ---------------------------------------------------------------------------


def source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    cell = load(spark, sf_dir, "documents").groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("c")
    )
    tot = cell.groupBy(F.col("source").alias("t_src")).agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_langs"),
    )
    j = cell.join(F.broadcast(tot), F.col("source") == F.col("t_src"))
    p = F.col("c").cast("double") / F.col("n").cast("double")
    term = F.floor(-p * F.log(p) * 1000000000 + 1e-6).cast("long")
    agg = j.groupBy("source").agg(
        F.max("n").alias("n_docs"),
        F.max("n_langs").alias("n_langs"),
        F.sum(term).cast("long").alias("h_q"),
    )
    h = F.col("h_q").cast("double") / 1.0e9
    return agg.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_langs").cast("long").alias("n_langs"),
        _floor_round(h, 6).alias("lang_entropy"),
        _floor_round(F.exp(h), 4).alias("effective_langs"),
    ).orderBy("source")


SOURCE_LANG_ENTROPY_SQL = """
WITH cell AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
),
tot AS (
  SELECT source AS t_src,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_langs
  FROM cell GROUP BY 1
),
terms AS (
  SELECT cell.source, t.n, t.n_langs,
         CAST(floor(-(CAST(c AS DOUBLE) / CAST(t.n AS DOUBLE))
                    * ln(CAST(c AS DOUBLE) / CAST(t.n AS DOUBLE))
                    * 1000000000 + 1e-6) AS BIGINT) AS term
  FROM cell JOIN tot t ON cell.source = t.t_src
),
agg AS (
  SELECT source, max(n) AS n_docs, max(n_langs) AS n_langs,
         CAST(sum(term) AS BIGINT) AS h_q
  FROM terms GROUP BY 1
)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_langs AS BIGINT) AS n_langs,
       CAST(floor(CAST(h_q AS DOUBLE) / 1e9 * 1000000 + 1e-6) / 1000000
            AS DOUBLE) AS lang_entropy,
       CAST(floor(exp(CAST(h_q AS DOUBLE) / 1e9) * 10000 + 1e-6) / 10000
            AS DOUBLE) AS effective_langs
FROM agg
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Markup-density profile per source (R4-151): what fraction of each
# feed carries markdown structure — headings, fenced code, table rows,
# links — the extraction-planning read that decides which sources go
# through the full section/table pipeline vs the plain-text fast path
# (the repo's own extract_spans cost is dominated by exactly these
# structures). Detection is RE2-and-Java-compatible regex on raw text
# ((?m) inline flag works in both engines), counts exact BIGINT,
# shares floored; map-only scan + one hash-agg to the source list.
# ---------------------------------------------------------------------------

_MARKUP_PATTERNS = {
    "heading": r"(?m)^#{1,6} ",
    "code_fence": r"(?m)^```",
    "table_row": r"(?m)^\|.*\|",
    "link": r"\[[^\]]+\]\([^)]+\)",
}


def markup_density_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    flags = [
        F.when(F.col("text").rlike(pat), 1).otherwise(0).alias(f"f_{name}")
        for name, pat in _MARKUP_PATTERNS.items()
    ]
    per = docs.select("source", *flags)
    agg = per.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        *[
            F.sum(f"f_{name}").cast("long").alias(f"n_{name}")
            for name in _MARKUP_PATTERNS
        ],
    )
    shares = [
        _floor_round(
            F.col(f"n_{name}").cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ).alias(f"{name}_share")
        for name in _MARKUP_PATTERNS
    ]
    return agg.select("source", "n_docs", *shares).orderBy("source")


def _markup_sql() -> str:
    flag_cols = ",\n         ".join(
        f"CASE WHEN regexp_matches(text, '{pat}') THEN 1 ELSE 0 END"
        f" AS f_{name}"
        for name, pat in _MARKUP_PATTERNS.items()
    )
    sums = ",\n         ".join(
        f"CAST(sum(f_{name}) AS BIGINT) AS n_{name}"
        for name in _MARKUP_PATTERNS
    )
    shares = ",\n       ".join(
        f"CAST(floor(CAST(n_{name} AS DOUBLE) / CAST(n_docs AS DOUBLE)"
        f" * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS {name}_share"
        for name in _MARKUP_PATTERNS
    )
    return f"""
WITH per AS (
  SELECT source,
         {flag_cols}
  FROM documents
),
agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         {sums}
  FROM per GROUP BY 1
)
SELECT source, n_docs,
       {shares}
FROM agg
ORDER BY source
"""


MARKUP_DENSITY_SQL = _markup_sql()


# ---------------------------------------------------------------------------
# BM25 hyperparameter sensitivity (R4-157): the SAME per-doc term
# stats scored under three (k1, b) settings — default (1.2, 0.75),
# saturation-light (2.0, 0.75) and length-blind (1.2, 0.0) — and the
# top-K rank agreement between the default and each variant (overlap
# plus Spearman's footrule on common members). The tuning read that
# says whether the ranking is even sensitive to k1/b before anyone
# sweeps them. One token pass feeds all three scorings; rank windows
# run over K-row TakeOrdered cuts; footrule is an exact BIGINT sum.
# ---------------------------------------------------------------------------

BM25_VARIANTS = [("default", 1.2, 0.75), ("high_k1", 2.0, 0.75), ("no_b", 1.2, 0.0)]
BM25_SENS_K = 20


def bm25_param_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    toks = _tokens()
    def _eq(term):
        return lambda t: t == F.lit(term)
    per_doc = docs.select(
        "doc_id",
        F.size(toks).cast("double").alias("dl"),
        *[
            F.size(F.filter(toks, _eq(t_))).cast("double").alias(f"tf_{i}")
            for i, t_ in enumerate(BM25_TERMS)
        ],
    )
    stats = per_doc.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long"))
            .cast("double")
            .alias(f"df_{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    j = per_doc.crossJoin(F.broadcast(stats))
    def score(k1, b):
        s = None
        for i in range(len(BM25_TERMS)):
            idf = F.log(
                1.0
                + (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
                / (F.col(f"df_{i}") + 0.5)
            )
            tf = F.col(f"tf_{i}")
            comp = idf * (
                tf * (k1 + 1.0)
                / (tf + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
            )
            s = comp if s is None else s + comp
        return _floor_round(s, 4)
    scored = j.select(
        "doc_id",
        *[
            score(k1, b).alias(f"s_{name}")
            for name, k1, b in BM25_VARIANTS
        ],
    )
    out_rows = []
    base_name = BM25_VARIANTS[0][0]
    base = (
        scored.orderBy(F.desc(f"s_{base_name}"), F.asc("doc_id"))
        .limit(BM25_SENS_K)
        .withColumn(
            "r_base",
            F.row_number().over(
                Window.orderBy(F.desc(f"s_{base_name}"), F.asc("doc_id"))
            ),
        )
        .select("doc_id", "r_base")
    )
    results = None
    for name, _k1, _b in BM25_VARIANTS[1:]:
        var = (
            scored.orderBy(F.desc(f"s_{name}"), F.asc("doc_id"))
            .limit(BM25_SENS_K)
            .withColumn(
                "r_var",
                F.row_number().over(
                    Window.orderBy(F.desc(f"s_{name}"), F.asc("doc_id"))
                ),
            )
            .select("doc_id", "r_var")
        )
        common = base.join(var, "doc_id", "inner")
        agg = common.agg(
            F.lit(name).alias("variant"),
            F.count("*").cast("long").alias("n_common"),
            F.sum(F.abs(F.col("r_base") - F.col("r_var")))
            .cast("long")
            .alias("footrule"),
        )
        results = agg if results is None else results.unionByName(agg)
    return results.select(
        "variant",
        F.lit(BM25_SENS_K).cast("long").alias("k"),
        "n_common",
        _floor_round(
            F.col("n_common").cast("double") / F.lit(float(BM25_SENS_K)), 6
        ).alias("overlap_share"),
        "footrule",
    ).orderBy("variant")


def _bm25_sens_sql() -> str:
    def score_sql(k1, b):
        return " + ".join(
            f"ln(1.0 + (s.n_docs - s.df_{i} + 0.5) / (s.df_{i} + 0.5))"
            f" * (d.tf_{i} * ({k1} + 1.0)"
            f" / (d.tf_{i} + {k1} * (1.0 - {b} + {b} * d.dl / s.avgdl)))"
            for i in range(len(BM25_TERMS))
        )
    variants_scored = ",\n         ".join(
        f"CAST(floor(({score_sql(k1, b)}) * 10000 + 1e-6) / 10000"
        f" AS DOUBLE) AS s_{name}"
        for name, k1, b in BM25_VARIANTS
    )
    base_name = BM25_VARIANTS[0][0]
    per_variant = "\nUNION ALL\n".join(
        f"""
SELECT '{name}' AS variant,
       CAST({BM25_SENS_K} AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_common,
       CAST(floor(CAST(count(*) AS DOUBLE) / {float(BM25_SENS_K)!r}
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS overlap_share,
       CAST(sum(abs(b.r_base - v.r_var)) AS BIGINT) AS footrule
FROM (SELECT doc_id,
             row_number() OVER (ORDER BY s_{base_name} DESC, doc_id ASC)
               AS r_base
      FROM (SELECT doc_id, s_{base_name} FROM scored
            ORDER BY s_{base_name} DESC, doc_id ASC
            LIMIT {BM25_SENS_K})) b
JOIN (SELECT doc_id,
             row_number() OVER (ORDER BY s_{name} DESC, doc_id ASC)
               AS r_var
      FROM (SELECT doc_id, s_{name} FROM scored
            ORDER BY s_{name} DESC, doc_id ASC
            LIMIT {BM25_SENS_K})) v
  USING (doc_id)"""
        for name, _k1, _b in BM25_VARIANTS[1:]
    )
    return rf"""
WITH per_doc AS (
  SELECT doc_id,
         CAST(len(toks) AS DOUBLE) AS dl,
         {_BM25_TF_SQL}
  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
        FROM documents)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         avg(dl) AS avgdl,
         {', '.join(f'CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}' for i in range(len(BM25_TERMS)))}
  FROM per_doc
),
scored AS (
  SELECT doc_id,
         {variants_scored}
  FROM per_doc d CROSS JOIN stats s
)
SELECT * FROM ({per_variant})
ORDER BY variant
"""


BM25_SENS_SQL = _bm25_sens_sql()


# ---------------------------------------------------------------------------
# Top-term drift between hash waves (R4-158): the lexical drift read
# next to PSI's score drift — the corpus's top-M terms ranked within
# each deterministic doc_id-hash wave, reported as rank shifts (a term
# that jumps ranks between equal random halves signals a skewed
# feed... or, on a hash split, calibrates the metric's noise floor).
# Ranks are tie-free ((count DESC, term ASC) total order) over the
# aggregated term table; output bounded by M.
# ---------------------------------------------------------------------------

TERM_DRIFT_M = 20


def top_term_drift_waves(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    wave = _doc_wave()
    toks = load(spark, sf_dir, "documents").select(
        wave.alias("w"), F.explode(_tokens()).alias("term")
    )
    counts = toks.groupBy("term").agg(
        F.sum(F.when(F.col("w") == 0, 1).otherwise(0))
        .cast("long")
        .alias("c_old"),
        F.sum(F.when(F.col("w") == 1, 1).otherwise(0))
        .cast("long")
        .alias("c_new"),
    )
    w_old = Window.orderBy(F.desc("c_old"), F.asc("term"))
    w_new = Window.orderBy(F.desc("c_new"), F.asc("term"))
    ranked = counts.withColumn(
        "r_old", F.row_number().over(w_old).cast("long")
    ).withColumn("r_new", F.row_number().over(w_new).cast("long"))
    return (
        ranked.where(
            (F.col("r_old") <= TERM_DRIFT_M) | (F.col("r_new") <= TERM_DRIFT_M)
        )
        .select(
            "term",
            "c_old",
            "c_new",
            "r_old",
            "r_new",
            (F.col("r_new") - F.col("r_old")).cast("long").alias("rank_shift"),
        )
        .orderBy("r_old", "term")
    )


TERM_DRIFT_SQL = rf"""
WITH toks AS (
  SELECT {_DOC_WAVE_SQL} AS w,
         unnest(string_split_regex(text, '\s+')) AS term
  FROM documents
),
counts AS (
  SELECT term,
         CAST(sum(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_old,
         CAST(sum(CASE WHEN w = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_new
  FROM toks GROUP BY 1
),
ranked AS (
  SELECT term, c_old, c_new,
         CAST(row_number() OVER (ORDER BY c_old DESC, term ASC) AS BIGINT)
           AS r_old,
         CAST(row_number() OVER (ORDER BY c_new DESC, term ASC) AS BIGINT)
           AS r_new
  FROM counts
)
SELECT term, c_old, c_new, r_old, r_new,
       CAST(r_new - r_old AS BIGINT) AS rank_shift
FROM ranked
WHERE r_old <= {TERM_DRIFT_M} OR r_new <= {TERM_DRIFT_M}
ORDER BY r_old, term
"""


# ---------------------------------------------------------------------------
# Source signature terms (R4-159): each feed's top-SIG_TOP distinctive
# terms by source-level tf-idf (tf = term count within the source,
# idf = ln(n_sources / sources containing the term)) — "what makes
# this feed different", the provenance profile a curator reads before
# weighting or dropping it. Scores are floored onto a 1e-6 grid and
# ranked tie-free (score DESC, term ASC) per source; idf uses the
# bounded source count, so common-to-all terms score exactly 0 and
# can never enter the signature.
# ---------------------------------------------------------------------------

SIG_TOP = 3


def source_signature_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", F.explode(_tokens()).alias("term"))
    tf = toks.groupBy("source", "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    # DOC-frequency idf (not source-frequency): on a shared-vocab
    # corpus every term touches every source, so a source-level idf
    # degenerates to 0 for the whole vocabulary; doc-level df varies
    df = (
        toks.select("doc_id", "term")
        .distinct()
        .groupBy(F.col("term").alias("d_term"))
        .agg(F.count("*").cast("long").alias("df"))
    )
    n_docs_t = docs.count()
    j = tf.join(df, F.col("term") == F.col("d_term"))
    score_q = F.floor(
        F.col("tf").cast("double")
        * F.log(F.lit(float(n_docs_t)) / F.col("df").cast("double"))
        * 1000000
        + 1e-6
    ).cast("long")
    scored = j.select("source", "term", "tf", "df", score_q.alias("sq"))
    w = Window.partitionBy("source").orderBy(F.desc("sq"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= SIG_TOP)
        .select(
            "source",
            "rnk",
            "term",
            "tf",
            "df",
            _floor_round(F.col("sq").cast("double") / 1.0e6, 4).alias(
                "tfidf"
            ),
        )
        .orderBy("source", "rnk")
    )


def _sig_sql() -> str:
    return rf"""
WITH toks AS (
  SELECT doc_id, source,
         unnest(string_split_regex(text, '\s+')) AS term
  FROM documents
),
tf AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY 1, 2
),
df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1
),
nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
  SELECT t.source, t.term, t.tf, d.df,
         CAST(floor(CAST(t.tf AS DOUBLE)
                    * ln(nd.n_docs / CAST(d.df AS DOUBLE))
                    * 1000000 + 1e-6) AS BIGINT) AS sq
  FROM tf t JOIN df d USING (term), nd
),
ranked AS (
  SELECT source, term, tf, df, sq,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY sq DESC, term ASC) AS BIGINT)
           AS rnk
  FROM scored
)
SELECT source, rnk, term, tf, df,
       CAST(floor(CAST(sq AS DOUBLE) / 1e6 * 10000 + 1e-6) / 10000
            AS DOUBLE) AS tfidf
FROM ranked
WHERE rnk <= {SIG_TOP}
ORDER BY source, rnk
"""


SOURCE_SIGNATURE_SQL = _sig_sql()


# ---------------------------------------------------------------------------
# RAKE keyword extraction (R4-174, training:rake-keywords): Rose et
# al. 2010's Rapid Automatic Keyword Extraction — the classic
# unsupervised MULTI-WORD keyword pass next to the unigram tf-idf
# ranking (R3: tfidf_keywords). Candidate phrases are maximal runs of
# non-stopword tokens (the shared STOPWORDS list is the delimiter
# set; empty tokens break too), capped at RAKE_MAX_PHRASE words (the
# standard junk guard). Word scores are deg(w)/freq(w) over the kept
# phrases — deg counts every token of every phrase containing w
# (self included), freq counts w's occurrences — and a phrase scores
# the sum of its words' scores.
#
# Exactness: deg/freq is floored onto a 1e-6 integer grid BEFORE the
# phrase sum, so the sum is an exact BIGINT and ranking runs on the
# grid with a phrase-text tiebreak (the rounded-grid decision rule).
#
# Scale shape: phrase assembly is ONE window partitioned by doc_id
# (running break count — state bounded by document length, the same
# bound every per-doc window op carries), then hash aggregates on
# (doc_id, phrase_id) and on the word; the word-score join is an
# equi-join on the word (a vocabulary-sized side, broadcast-eligible);
# the final cut is a TakeOrdered on the grid. No all-pairs step, no
# global window. Reference anchor: keyword extraction over extracted
# spans (search_api keyword layer) — this is the phrase-level variant.
# ---------------------------------------------------------------------------

RAKE_MAX_PHRASE = 4
RAKE_TOP = 25


def rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").where(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        "doc_id", F.posexplode(_tokens("text")).alias("pos", "tok")
    )
    is_break = F.col("tok").isin(STOPWORDS) | (F.col("tok") == "")
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    marked = toks.select(
        "doc_id",
        "pos",
        "tok",
        F.sum(is_break.cast("int")).over(w).alias("phrase_id"),
        is_break.alias("brk"),
    )
    ptoks = marked.where(~F.col("brk")).select("doc_id", "phrase_id", "pos", "tok")
    phrases = (
        ptoks.groupBy("doc_id", "phrase_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            ).alias("phrase"),
        )
        .where(F.col("n_words") <= RAKE_MAX_PHRASE)
    )
    kept_toks = ptoks.join(
        phrases.select("doc_id", "phrase_id", "n_words"),
        ["doc_id", "phrase_id"],
    )
    word_scores = (
        kept_toks.groupBy("tok")
        .agg(
            F.count("*").cast("long").alias("freq"),
            F.sum("n_words").cast("long").alias("deg"),
        )
        .select(
            "tok",
            F.floor(
                F.col("deg").cast("double")
                * 1e6
                / F.col("freq").cast("double")
                + 1e-6
            )
            .cast("long")
            .alias("w_grid"),
        )
    )
    phrase_scores = (
        kept_toks.join(F.broadcast(word_scores), "tok")
        .groupBy("doc_id", "phrase_id")
        .agg(F.sum("w_grid").cast("long").alias("score_grid"))
        .join(phrases, ["doc_id", "phrase_id"])
    )
    return (
        phrase_scores.groupBy("phrase")
        .agg(
            F.max("n_words").cast("long").alias("n_words"),
            F.count("*").cast("long").alias("n_occurrences"),
            F.max("score_grid").cast("long").alias("score_grid"),
        )
        .select(
            "phrase",
            "n_words",
            "n_occurrences",
            "score_grid",
            (F.col("score_grid").cast("double") / 1e6).alias("rake_score"),
        )
        .orderBy(F.desc("score_grid"), F.asc("phrase"))
        .limit(RAKE_TOP)
    )


_RAKE_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"

RAKE_SQL = f"""
WITH toks AS (
  SELECT doc_id, i AS pos, x AS tok
  FROM (SELECT doc_id,
               unnest(string_split_regex(text, '\\s+')) AS x,
               generate_subscripts(string_split_regex(text, '\\s+'), 1) AS i
        FROM documents WHERE text IS NOT NULL)
),
marked AS MATERIALIZED (
  SELECT doc_id, pos, tok,
         sum(CASE WHEN list_contains({_RAKE_STOP_SQL}, tok) OR tok = ''
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS phrase_id,
         (list_contains({_RAKE_STOP_SQL}, tok) OR tok = '') AS brk
  FROM toks
),
ptoks AS MATERIALIZED (
  SELECT doc_id, phrase_id, pos, tok FROM marked WHERE NOT brk
),
phrases AS MATERIALIZED (
  SELECT doc_id, phrase_id,
         CAST(count(*) AS BIGINT) AS n_words,
         string_agg(tok, ' ' ORDER BY pos) AS phrase
  FROM ptoks GROUP BY 1, 2
  HAVING count(*) <= {RAKE_MAX_PHRASE}
),
kept_toks AS MATERIALIZED (
  SELECT t.doc_id, t.phrase_id, t.tok, p.n_words
  FROM ptoks t JOIN phrases p USING (doc_id, phrase_id)
),
word_scores AS (
  SELECT tok,
         CAST(floor(CAST(sum(n_words) AS DOUBLE) * 1000000.0
                    / CAST(count(*) AS DOUBLE) + 1e-6) AS BIGINT) AS w_grid
  FROM kept_toks GROUP BY 1
),
phrase_scores AS (
  SELECT k.doc_id, k.phrase_id,
         CAST(sum(w.w_grid) AS BIGINT) AS score_grid
  FROM kept_toks k JOIN word_scores w USING (tok)
  GROUP BY 1, 2
)
SELECT p.phrase,
       CAST(max(p.n_words) AS BIGINT) AS n_words,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(max(s.score_grid) AS BIGINT) AS score_grid,
       CAST(max(s.score_grid) AS DOUBLE) / 1000000.0 AS rake_score
FROM phrase_scores s JOIN phrases p USING (doc_id, phrase_id)
GROUP BY p.phrase
ORDER BY score_grid DESC, phrase ASC
LIMIT {RAKE_TOP}
"""


# ---------------------------------------------------------------------------
# MATTR — moving-average type-token ratio (R4-175, training:mattr):
# Covington & McFall 2010's length-independent lexical-diversity
# measure; raw TTR shrinks mechanically with document length (hapax
# R4-49 and vocab-growth R4-12 show exactly that curve), MATTR fixes
# the window so scores compare across lengths — the quality-filter
# feature FineWeb-style classifiers actually want. Per document:
# slide a MATTR_W-token window, count distinct types per window,
# average. Windowed distinct counts are INTEGERS, so the per-doc mean
# is an exact rational (Σ distinct / (n_windows · W)) — no float
# accumulation anywhere before the final floor6.
#
# Docs shorter than the window fall back to plain TTR (stated rule,
# the reference implementation's behavior).
#
# Scale shape: MAP-ONLY — tokens materialized once per row (the HOF
# capture rule, docs/PLANS.md §12), windows via F.slice over the
# materialized array (never element_at fan-out), distinct counts via
# array_distinct inside one transform; zero exchanges before the
# graded-output sort. Cost: O(len · W) per doc, the stated bound.
# ---------------------------------------------------------------------------

MATTR_W = 25


def mattr_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.filter(_tokens("text"), lambda t: t != "").alias("toks"),
        )
    )
    n = F.size(F.col("toks"))
    # token-less docs (whitespace-only text) have no diversity to
    # measure — dropped by rule; keeps every later ratio ANSI-safe
    docs = docs.select("doc_id", "toks", n.alias("n_tokens")).where(
        F.col("n_tokens") > 0
    )
    # guard: sequence(1, 0) DESCENDS in Spark (PLANS 17.8) — gate on n >= W
    win_counts = F.when(
        F.col("n_tokens") >= MATTR_W,
        F.transform(
            F.sequence(F.lit(1), F.col("n_tokens") - MATTR_W + 1),
            lambda i: F.size(
                F.array_distinct(F.slice(F.col("toks"), i, MATTR_W))
            ),
        ),
    )
    scored = docs.select(
        "doc_id",
        "n_tokens",
        F.size(F.array_distinct(F.col("toks"))).alias("n_types"),
        win_counts.alias("wc"),
    ).select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.coalesce(F.size("wc"), F.lit(0)).cast("long").alias("n_windows"),
        F.coalesce(
            F.aggregate("wc", F.lit(0), lambda acc, x: acc + x), F.lit(0)
        ).cast("long").alias("s_distinct"),
    )
    mattr = F.when(
        F.col("n_windows") > 0,
        F.col("s_distinct").cast("double")
        / (F.col("n_windows").cast("double") * float(MATTR_W)),
    ).otherwise(
        F.col("n_types").cast("double") / F.col("n_tokens").cast("double")
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "n_types",
        "n_windows",
        _floor_round(
            F.col("n_types").cast("double") / F.col("n_tokens").cast("double"),
            6,
        ).alias("ttr"),
        _floor_round(mattr, 6).alias("mattr"),
    ).orderBy("doc_id")


MATTR_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS l
  FROM documents WHERE text IS NOT NULL
),
base AS MATERIALIZED (
  SELECT doc_id, l, len(l) AS n_tokens,
         len(list_distinct(l)) AS n_types
  FROM toks
  WHERE len(l) > 0
),
wins AS (
  SELECT doc_id, n_tokens, n_types,
         CASE WHEN n_tokens >= {MATTR_W} THEN
           list_transform(generate_series(1, n_tokens - {MATTR_W} + 1),
                          i -> len(list_distinct(l[i : i + {MATTR_W} - 1])))
         END AS wc
  FROM base
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_types AS BIGINT) AS n_types,
       CAST(coalesce(len(wc), 0) AS BIGINT) AS n_windows,
       CAST(floor(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS ttr,
       CAST(floor(CASE WHEN coalesce(len(wc), 0) > 0
                       THEN CAST(list_sum(wc) AS DOUBLE)
                            / (CAST(len(wc) AS DOUBLE) * {float(MATTR_W)!r})
                       ELSE CAST(n_types AS DOUBLE)
                            / CAST(n_tokens AS DOUBLE) END
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS mattr
FROM wins
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Stylometric richness profile per source (R4-176,
# training:stylometry-richness): the frequency-spectrum statistics
# next to Burrows' delta (R4-124) — Yule's K (repeat-rate
# characteristic, the classic authorship constant), Simpson's D
# (probability two random tokens are the same type) and Guiraud's R
# (V/√N, the root-normalized richness). All three derive from the
# term-frequency SPECTRUM (how many types occur m times), so the
# whole profile is: token counts → per-(source, term) counts → one
# spectrum aggregate per source — three map-side-combinable hash
# aggregates, exact BIGINT sums throughout (K's Σm²V_m is integer
# arithmetic; only the final closed forms touch doubles, floored 6).
#
#   K = 10^4 · (Σ m²·V_m − N) / N²
#   D = Σ f·(f−1) / (N·(N−1))
#   R = V / sqrt(N)
# ---------------------------------------------------------------------------


def stylometric_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("source", F.explode(_tokens("text")).alias("tok"))
        .where(F.col("tok") != "")
    )
    tf = toks.groupBy("source", "tok").agg(
        F.count("*").cast("long").alias("m")
    )
    prof = tf.groupBy("source").agg(
        F.sum("m").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(F.col("m") * F.col("m")).cast("long").alias("s_m2"),
        F.sum(F.col("m") * (F.col("m") - 1)).cast("long").alias("s_rep"),
    )
    n = F.col("n_tokens").cast("double")
    return prof.select(
        "source",
        "n_tokens",
        "n_types",
        _floor_round(
            1e4 * (F.col("s_m2") - F.col("n_tokens")).cast("double")
            / (n * n),
            6,
        ).alias("yules_k"),
        _floor_round(
            F.col("s_rep").cast("double") / (n * (n - 1.0)), 6
        ).alias("simpson_d"),
        _floor_round(F.col("n_types").cast("double") / F.sqrt(n), 6).alias(
            "guiraud_r"
        ),
    ).orderBy("source")


# the stylometric and Good-Turing oracles' per-source token profile head
_TOKEN_PROFILE_SQL = """
tf AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS m
  FROM toks GROUP BY 1, 2
),
prof AS (
  SELECT source,
         CAST(sum(m) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,"""

STYLOMETRIC_RICHNESS_SQL = f"""
WITH toks AS (
  SELECT source, x AS tok
  FROM (SELECT source, unnest(string_split_regex(text, '\\s+')) AS x
        FROM documents WHERE text IS NOT NULL)
  WHERE x <> ''
),
{_TOKEN_PROFILE_SQL}
         CAST(sum(m * m) AS BIGINT) AS s_m2,
         CAST(sum(m * (m - 1)) AS BIGINT) AS s_rep
  FROM tf GROUP BY 1
)
SELECT source, n_tokens, n_types,
       CAST(floor(10000.0 * CAST(s_m2 - n_tokens AS DOUBLE)
                  / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS yules_k,
       CAST(floor(CAST(s_rep AS DOUBLE)
                  / (CAST(n_tokens AS DOUBLE)
                     * (CAST(n_tokens AS DOUBLE) - 1.0))
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS simpson_d,
       CAST(floor(CAST(n_types AS DOUBLE) / sqrt(CAST(n_tokens AS DOUBLE))
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS guiraud_r
FROM prof
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Pseudo-relevance-feedback query expansion (R4-181,
# training:prf-expansion): the Rocchio/RM1 move that completes the IR
# family (BM25 → stemming → proximity → RRF → metric audits): run the
# base query, take the top PRF_FB_K documents as pseudo-relevant,
# mine the PRF_EXP_TERMS highest-weight non-query terms from them
# (weight = feedback term frequency × ln(N/df), the RM1/tf-idf
# estimate), re-score with the expanded query, and return the new
# top-10 with both scores side by side.
#
# Engine-exactness: this query computes BM25 ROW-BASED — per
# (doc, term) components floored onto a 1e-6 BIGINT grid BEFORE any
# summation (stated rule; the pivoted kernel in bm25_scores keeps the
# reference's float-sum semantics, this one trades it for order-free
# integer sums so the DataFrame side and a fully-relational oracle
# agree bit-for-bit at every cut: the feedback top-K, the expansion
# term pick, and the final ranking are all grid+id decisions).
#
# Scale shape: one token explode feeds (doc, term) tf and corpus df
# hash aggregates; the query-term set (3 base + 2 mined rows) joins
# by broadcast; the feedback set is a TakeOrdered K-row broadcast;
# the final cut is TakeOrdered. The vocabulary df aggregate is the
# inverted-index df table any search deployment already maintains
# (R3-74 inverted_index_blocks).
# ---------------------------------------------------------------------------

PRF_FB_K = 10
PRF_EXP_TERMS = 2


def prf_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    toks = docs.select(
        "doc_id", F.explode(_tokens("text")).alias("tok")
    ).where(F.col("tok") != "")
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("long").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("s_dl"),
    )
    vocab_df = toks.groupBy("tok").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    base_terms = spark.createDataFrame(
        [(t,) for t in BM25_TERMS], ["tok"]
    )

    def _comp_grid(tf_col, df_col):
        n = F.col("n_docs").cast("double")
        avgdl = F.col("s_dl").cast("double") / n
        idf = F.log(
            1.0 + (n - df_col.cast("double") + 0.5)
            / (df_col.cast("double") + 0.5)
        )
        tf = tf_col.cast("double")
        comp = idf * (
            tf * (BM25_K1 + 1.0)
            / (
                tf
                + BM25_K1
                * (1.0 - BM25_B + BM25_B * F.col("dl").cast("double") / avgdl)
            )
        )
        return F.floor(comp * 1e6 + 1e-6).cast("long")

    def _score_grid(term_df: DataFrame) -> DataFrame:
        tf = (
            toks.join(F.broadcast(term_df), "tok")
            .groupBy("doc_id", "tok")
            .agg(F.count("*").cast("long").alias("tf"))
        )
        return (
            tf.join(F.broadcast(vocab_df), "tok")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(stats))
            .select(
                "doc_id",
                _comp_grid(F.col("tf"), F.col("df")).alias("comp"),
            )
            .groupBy("doc_id")
            .agg(F.sum("comp").cast("long").alias("grid"))
        )
    base = _score_grid(base_terms)
    feedback = (
        base.orderBy(F.desc("grid"), F.asc("doc_id"))
        .limit(PRF_FB_K)
        .select("doc_id")
    )
    n_docs_df = stats.select("n_docs")
    cand = (
        toks.join(F.broadcast(feedback), "doc_id")
        .where(~F.col("tok").isin(BM25_TERMS))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("fb_tf"))
        .join(vocab_df, "tok")
        .crossJoin(F.broadcast(n_docs_df))
        .select(
            "tok",
            (
                F.col("fb_tf")
                * F.floor(
                    F.log(
                        F.col("n_docs").cast("double")
                        / F.col("df").cast("double")
                    )
                    * 1e6
                    + 1e-6
                ).cast("long")
            ).alias("weight"),
        )
        .orderBy(F.desc("weight"), F.asc("tok"))
        .limit(PRF_EXP_TERMS)
    )
    exp_label = cand.agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct((-F.col("weight")).alias("nw"),
                                            F.col("tok").alias("tok")))
                ),
                lambda s: s["tok"],
            ),
        ).alias("expansion_terms")
    )
    expanded = _score_grid(base_terms.unionByName(cand.select("tok")))
    return (
        expanded.join(base.withColumnRenamed("grid", "base_grid"),
                      "doc_id", "left")
        .crossJoin(F.broadcast(exp_label))
        .select(
            "doc_id",
            (F.coalesce(F.col("base_grid"), F.lit(0)).cast("double") / 1e6)
            .alias("bm25_base"),
            (F.col("grid").cast("double") / 1e6).alias("bm25_expanded"),
            "expansion_terms",
        )
        .orderBy(F.desc("bm25_expanded"), F.asc("doc_id"))
        .limit(10)
    )


def _prf_score_cte(terms_cte: str, out: str) -> str:
    """Row-based grid BM25 scoring CTE — identical arithmetic to
    _comp_grid, emitted once per term set (base, expanded)."""
    return f"""{out} AS MATERIALIZED (
  SELECT c.doc_id, CAST(sum(
    CAST(floor(
      ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(v.df AS DOUBLE) + 0.5)
               / (CAST(v.df AS DOUBLE) + 0.5))
      * (CAST(c.tf AS DOUBLE) * ({BM25_K1} + 1.0)
         / (CAST(c.tf AS DOUBLE)
            + {BM25_K1} * (1.0 - {BM25_B}
                           + {BM25_B} * CAST(d.dl AS DOUBLE)
                             / (CAST(s.s_dl AS DOUBLE)
                                / CAST(s.n_docs AS DOUBLE)))))
      * 1000000 + 1e-6) AS BIGINT)
  ) AS BIGINT) AS grid
  FROM (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        FROM toks JOIN {terms_cte} USING (tok) GROUP BY 1, 2) c
  JOIN vocab_df v ON v.tok = c.tok
  JOIN dl d ON d.doc_id = c.doc_id
  CROSS JOIN stats s
  GROUP BY 1
)"""


_PRF_BASE_LIST = ", ".join(f"'{t}'" for t in BM25_TERMS)

PRF_EXPANSION_SQL = rf"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, x AS tok
  FROM (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS x
        FROM documents WHERE text IS NOT NULL)
  WHERE x <> ''
),
dl AS MATERIALIZED (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1
),
stats AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS s_dl
  FROM dl
),
vocab_df AS MATERIALIZED (
  SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM toks GROUP BY 1
),
base_terms AS (
  SELECT unnest([{_PRF_BASE_LIST}]) AS tok
),
{_prf_score_cte("base_terms", "base")},
feedback AS (
  SELECT doc_id FROM base ORDER BY grid DESC, doc_id ASC LIMIT {PRF_FB_K}
),
cand AS MATERIALIZED (
  SELECT g.tok,
         CAST(g.fb_tf * CAST(floor(ln(CAST(s.n_docs AS DOUBLE)
                                      / CAST(v.df AS DOUBLE))
                                   * 1000000 + 1e-6) AS BIGINT)
              AS BIGINT) AS weight
  FROM (SELECT t.tok, CAST(count(*) AS BIGINT) AS fb_tf
        FROM toks t JOIN feedback f USING (doc_id)
        WHERE t.tok NOT IN ({_PRF_BASE_LIST})
        GROUP BY 1) g
  JOIN vocab_df v ON v.tok = g.tok
  CROSS JOIN stats s
  ORDER BY weight DESC, g.tok ASC
  LIMIT {PRF_EXP_TERMS}
),
exp_label AS (
  -- coalesce: empty cand must yield '' like Spark's concat_ws over an
  -- empty collect_list (string_agg over zero rows is NULL in DuckDB)
  SELECT coalesce(string_agg(tok, ' ' ORDER BY weight DESC, tok ASC), '')
    AS expansion_terms
  FROM cand
),
exp_terms AS (
  SELECT tok FROM base_terms UNION ALL SELECT tok FROM cand
),
{_prf_score_cte("exp_terms", "expanded")}
SELECT e.doc_id,
       CAST(coalesce(b.grid, 0) AS DOUBLE) / 1000000.0 AS bm25_base,
       CAST(e.grid AS DOUBLE) / 1000000.0 AS bm25_expanded,
       l.expansion_terms
FROM expanded e
LEFT JOIN base b ON b.doc_id = e.doc_id
CROSS JOIN exp_label l
ORDER BY e.grid DESC, e.doc_id ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# TextRank keywords (R4-186, training:textrank — Mihalcea & Tarau
# 2004): the graph-based member of the keyword family (tf-idf R3,
# RAKE R4-174, PMI R4-31) — build the window-2 co-occurrence graph
# over the stopword-filtered token stream and run weighted PageRank;
# terms that many well-connected terms co-occur with rank first.
# K = TEXTRANK_ITERS fixed rounds of
#   WS(v) = (1−d) + d · Σ_u (w_uv / sumw(u)) · WS(u)
# with every contribution QUANTIZED onto an exact 1e-9 BIGINT grid
# before the per-vertex sum and scores re-floored each round — the
# Bradley-Terry/§19 quantized-iteration rule, so both engines replay
# the walk exactly.
#
# Scale shape: bigram edges are MAP-ONLY (slice-pairs over the
# materialized filtered array — no explode-then-self-join), one hash
# agg to edge weights; each round joins the directed edge table to
# the vocabulary-sized score table (broadcast) and re-aggregates;
# localCheckpoint per round pins the lineage; TakeOrdered cut.
# ---------------------------------------------------------------------------

TEXTRANK_D = 0.85
TEXTRANK_ITERS = 3
TEXTRANK_TOP = 15
_TR_GRID = 1_000_000_000


def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            F.filter(
                _tokens("text"),
                lambda t: (t != "") & ~t.isin(STOPWORDS),
            ).alias("ft")
        )
    )
    pairs = docs.select(
        F.when(
            F.size("ft") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("ft") - 1),
                lambda i: F.struct(
                    F.element_at("ft", i).alias("x"),
                    F.element_at("ft", i + 1).alias("y"),
                ),
            ),
        )
        .otherwise(F.array().cast("array<struct<x:string,y:string>>"))
        .alias("ps")
    ).select(F.explode("ps").alias("p")).select(
        F.least("p.x", "p.y").alias("a"),
        F.greatest("p.x", "p.y").alias("b"),
    ).where(F.col("a") != F.col("b"))
    und = pairs.groupBy("a", "b").agg(
        F.count("*").cast("long").alias("w")
    )
    directed = und.select(
        F.col("a").alias("u"), F.col("b").alias("v"), "w"
    ).unionByName(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"), "w")
    ).localCheckpoint(eager=True)
    sumw = directed.groupBy("u").agg(
        F.sum("w").cast("long").alias("sw")
    ).localCheckpoint(eager=True)
    ws = sumw.select(F.col("u").alias("term"), F.lit(1.0).alias("ws"))
    for _r in range(TEXTRANK_ITERS):
        contrib = (
            directed.join(
                F.broadcast(
                    ws.select(F.col("term").alias("u"), "ws")
                ),
                "u",
            )
            .join(F.broadcast(sumw), "u")
            .select(
                "v",
                F.floor(
                    F.col("w").cast("double")
                    * F.col("ws")
                    * _TR_GRID
                    / F.col("sw").cast("double")
                    + 1e-6
                )
                .cast("long")
                .alias("c"),
            )
            .groupBy("v")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        ws = (
            sumw.select(F.col("u").alias("term"))
            .join(
                contrib.select(F.col("v").alias("term"), "s"),
                "term",
                "left",
            )
            .select(
                "term",
                (
                    F.floor(
                        (
                            F.lit(1.0 - TEXTRANK_D)
                            + F.lit(TEXTRANK_D)
                            * (
                                F.coalesce(F.col("s"), F.lit(0))
                                .cast("double")
                                / float(_TR_GRID)
                            )
                        )
                        * _TR_GRID
                        + 1e-6
                    ).cast("long")
                    / F.lit(float(_TR_GRID))
                ).alias("ws"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        ws.join(sumw.select(F.col("u").alias("term"), "sw"), "term")
        .select(
            "term",
            F.col("sw").alias("edge_weight"),
            _floor_round(F.col("ws"), 6).alias("textrank"),
        )
        .orderBy(F.desc("textrank"), F.asc("term"))
        .limit(TEXTRANK_TOP)
    )


_TR_STOP_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)


def _tr_round_sql(prev: str, out: str) -> str:
    return f"""
contrib_{out} AS (
  SELECT d.v,
         CAST(sum(CAST(floor(CAST(d.w AS DOUBLE) * p.ws * {_TR_GRID}
                             / CAST(s.sw AS DOUBLE) + 1e-6)
                       AS BIGINT)) AS BIGINT) AS s
  FROM directed d
  JOIN {prev} p ON p.term = d.u
  JOIN sumw s ON s.u = d.u
  GROUP BY 1
),
{out} AS MATERIALIZED (
  SELECT s.u AS term,
         CAST(floor((CAST({1.0 - TEXTRANK_D!r} AS DOUBLE)
                     + CAST({TEXTRANK_D!r} AS DOUBLE)
                       * (CAST(coalesce(c.s, 0) AS DOUBLE)
                          / CAST({_TR_GRID} AS DOUBLE)))
                    * {_TR_GRID} + 1e-6) AS BIGINT)
           / CAST({_TR_GRID} AS DOUBLE) AS ws
  FROM sumw s LEFT JOIN contrib_{out} c ON c.v = s.u
)"""


TEXTRANK_SQL = rf"""
WITH ft AS (
  SELECT list_filter(string_split_regex(text, '\s+'),
                     t -> t <> '' AND t NOT IN ({_TR_STOP_LIST})) AS l
  FROM documents WHERE text IS NOT NULL
),
pairs AS (
  SELECT least(p.x, p.y) AS a, greatest(p.x, p.y) AS b
  FROM (
    SELECT unnest(CASE WHEN len(l) >= 2
                       THEN list_transform(generate_series(1, len(l) - 1),
                                           i -> {{'x': l[i], 'y': l[i + 1]}})
                       ELSE CAST([] AS STRUCT(x VARCHAR, y VARCHAR)[])
                  END) AS p
    FROM ft
  )
  WHERE p.x <> p.y
),
und AS MATERIALIZED (
  SELECT a, b, CAST(count(*) AS BIGINT) AS w FROM pairs GROUP BY 1, 2
),
directed AS MATERIALIZED (
  SELECT a AS u, b AS v, w FROM und UNION ALL SELECT b, a, w FROM und
),
sumw AS MATERIALIZED (
  SELECT u, CAST(sum(w) AS BIGINT) AS sw FROM directed GROUP BY 1
),
ws0 AS MATERIALIZED (
  SELECT u AS term, CAST(1.0 AS DOUBLE) AS ws FROM sumw
),
{",".join(_tr_round_sql(f"ws{r}", f"ws{r + 1}") for r in range(TEXTRANK_ITERS))}
SELECT f.term, s.sw AS edge_weight,
       CAST(floor(f.ws * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS textrank
FROM ws{TEXTRANK_ITERS} f JOIN sumw s ON s.u = f.term
ORDER BY textrank DESC, term ASC
LIMIT {TEXTRANK_TOP}
"""


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct audit (R4-187,
# training:kmv-distinct — Bar-Yossef et al. 2002): the fourth
# mergeable sketch beside HLL / CMS / histogram quantiles, and the
# one a bottom-k sampler already pays for (keep the k smallest
# hashes; merge = k-way min-merge). Estimate: with h_k the k-th
# smallest 32-bit hash over the group's distinct values,
# D̂ = (k−1)·2³² / h_k. Audited domain = the HLL audit's 3-gram
# shingles per language (same reason: the raw vocabulary is ~31
# tokens — every group would sit below k and the estimator would
# never fire). Groups with fewer than k distinct hashes report the
# exact count (the sketch IS exact below k — stated rule).
#
# Exactness: hash arithmetic is integer md5; the estimate is one
# double division executed identically in both engines, floored.
#
# Scale shape: distinct (lang, hash) collapse is a hash aggregate;
# the k-th minimum runs as a TWO-LEVEL TOURNAMENT (rank within
# (lang, hash-salt bucket), keep ≤ k, re-rank survivors — the
# domain_cap lesson: global bottom-k ⊆ union of bucket bottom-ks),
# so no window ever owns a group's full distinct stream; the oracle
# states the single-window form.
# ---------------------------------------------------------------------------

KMV_K = 64
KMV_SALT_BUCKETS = 16


def kmv_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    tok_docs = docs.select("lang", _tokens().alias("toks"))
    grams = F.when(
        F.size("toks") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 2),
            lambda i: F.concat_ws(" ", F.slice("toks", i, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = tok_docs.select("lang", F.explode(grams).alias("t"))
    exact = sh.groupBy("lang").agg(
        F.countDistinct("t").cast("long").alias("n_exact")
    )
    hashes = sh.select(
        "lang",
        F.conv(F.substring(F.md5("t"), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    ).distinct()
    w_bucket = Window.partitionBy(
        "lang", F.col("h") % KMV_SALT_BUCKETS
    ).orderBy("h")
    survivors = hashes.withColumn(
        "rk_b", F.row_number().over(w_bucket)
    ).where(F.col("rk_b") <= KMV_K)
    w_final = Window.partitionBy("lang").orderBy("h")
    ranked = survivors.withColumn(
        "rk", F.row_number().over(w_final)
    )
    kth = ranked.where(F.col("rk") == KMV_K).select(
        "lang", F.col("h").alias("h_k")
    )
    n_hashes = hashes.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_h")
    )
    est = F.when(
        F.col("h_k").isNotNull(),
        F.floor(
            float(KMV_K - 1) * float(2**32) / F.col("h_k").cast("double")
            + 1e-6
        ).cast("long"),
    ).otherwise(F.col("n_h"))
    return (
        exact.join(n_hashes, "lang")
        .join(kth, "lang", "left")
        .select(
            "lang",
            "n_exact",
            est.alias("kmv_est"),
            _floor_round(
                (est - F.col("n_exact")).cast("double")
                / F.col("n_exact").cast("double"),
                4,
            ).alias("rel_err"),
        )
        .orderBy("lang")
    )


KMV_SQL = rf"""
WITH sh AS MATERIALIZED (
  SELECT lang, t FROM (
    SELECT lang,
           unnest(CASE WHEN len(toks) >= 3
                       THEN list_transform(
                              generate_series(1, len(toks) - 2),
                              i -> array_to_string(toks[i : i + 2], ' '))
                       ELSE CAST([] AS VARCHAR[]) END) AS t
    FROM (SELECT lang, string_split_regex(text, '\s+') AS toks
          FROM documents)
  )
),
exact AS (
  SELECT lang, CAST(count(DISTINCT t) AS BIGINT) AS n_exact
  FROM sh GROUP BY 1
),
hashes AS MATERIALIZED (
  SELECT DISTINCT lang,
         CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) AS h
  FROM sh
),
ranked AS (
  SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rk
  FROM hashes
),
kth AS (SELECT lang, h AS h_k FROM ranked WHERE rk = {KMV_K}),
nh AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_h FROM hashes GROUP BY 1)
SELECT e.lang, e.n_exact,
       CASE WHEN k.h_k IS NOT NULL
            THEN CAST(floor({float(KMV_K - 1)!r} * {float(2**32)!r}
                            / CAST(k.h_k AS DOUBLE) + 1e-6) AS BIGINT)
            ELSE n.n_h END AS kmv_est,
       CAST(floor(CAST((CASE WHEN k.h_k IS NOT NULL
                             THEN CAST(floor({float(KMV_K - 1)!r}
                                             * {float(2**32)!r}
                                             / CAST(k.h_k AS DOUBLE) + 1e-6)
                                       AS BIGINT)
                             ELSE n.n_h END) - e.n_exact AS DOUBLE)
                  / CAST(e.n_exact AS DOUBLE) * 10000 + 1e-6) / 10000
            AS DOUBLE) AS rel_err
FROM exact e
JOIN nh n ON n.lang = e.lang
LEFT JOIN kth k ON k.lang = e.lang
ORDER BY e.lang
"""


# ---------------------------------------------------------------------------
# Posting-list compression planner (R4-188, training:index-compress):
# the storage-planning read on top of the blocked inverted index
# (R3-74) — Elias-gamma codes a doc-id GAP g in 2·⌊log2 g⌋ + 1 bits,
# so the per-term compressed size is pure integer arithmetic over the
# sorted posting list's deltas (first gap = doc_id + 1, every gap
# ≥ 1 because ids are distinct). Reported against the raw 64-bit
# layout for the top PCOMP_TOP terms by document frequency plus a
# corpus TOTAL row — the numbers that size an index deployment.
#
# Scale shape: (term, doc_id) postings from one explode-distinct,
# gaps via ONE lag window hash-partitioned by term (state bounded by
# the term's df — the blocked-postings caveat applies and the block
# split of R3-74 is the remedy at the extreme), then hash aggregates;
# bit_length is length(bin(x)) — identical integers in both engines.
# ---------------------------------------------------------------------------

PCOMP_TOP = 10


def posting_compression_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", F.explode(_tokens("text")).alias("tok"))
        .where(F.col("tok") != "")
        .distinct()
    )
    w = Window.partitionBy("tok").orderBy("doc_id")
    gaps = docs.select(
        "tok",
        F.coalesce(
            F.col("doc_id") - F.lag("doc_id").over(w),
            F.col("doc_id") + 1,
        ).alias("g"),
    )
    per_term = gaps.groupBy("tok").agg(
        F.count("*").cast("long").alias("n_postings"),
        F.sum(
            2 * (F.length(F.bin("g")) - 1) + 1
        ).cast("long").alias("gamma_bits"),
    ).select(
        "tok",
        "n_postings",
        (F.col("n_postings") * 64).cast("long").alias("raw_bits"),
        "gamma_bits",
    )
    top = per_term.orderBy(
        F.desc("n_postings"), F.asc("tok")
    ).limit(PCOMP_TOP)
    total = per_term.agg(
        F.lit("<TOTAL>").alias("tok"),
        F.sum("n_postings").cast("long").alias("n_postings"),
        F.sum("raw_bits").cast("long").alias("raw_bits"),
        F.sum("gamma_bits").cast("long").alias("gamma_bits"),
    )
    return (
        top.unionByName(total)
        .select(
            F.col("tok").alias("term"),
            "n_postings",
            "raw_bits",
            "gamma_bits",
            _floor_round(
                F.col("gamma_bits").cast("double")
                / F.col("raw_bits").cast("double"),
                6,
            ).alias("compressed_ratio"),
        )
        .orderBy("term")
    )


POSTING_COMPRESSION_SQL = rf"""
WITH postings AS (
  SELECT DISTINCT doc_id, x AS tok
  FROM (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS x
        FROM documents WHERE text IS NOT NULL)
  WHERE x <> ''
),
gaps AS (
  SELECT tok,
         coalesce(doc_id - lag(doc_id) OVER (PARTITION BY tok
                                             ORDER BY doc_id),
                  doc_id + 1) AS g
  FROM postings
),
per_term AS MATERIALIZED (
  SELECT tok,
         CAST(count(*) AS BIGINT) AS n_postings,
         CAST(count(*) * 64 AS BIGINT) AS raw_bits,
         CAST(sum(2 * (length(bin(g)) - 1) + 1) AS BIGINT) AS gamma_bits
  FROM gaps GROUP BY 1
),
rows_out AS (
  SELECT tok, n_postings, raw_bits, gamma_bits
  FROM (SELECT *, row_number() OVER (ORDER BY n_postings DESC, tok ASC)
               AS rk
        FROM per_term)
  WHERE rk <= {PCOMP_TOP}
  UNION ALL
  SELECT '<TOTAL>', CAST(sum(n_postings) AS BIGINT),
         CAST(sum(raw_bits) AS BIGINT), CAST(sum(gamma_bits) AS BIGINT)
  FROM per_term
)
SELECT tok AS term, n_postings, raw_bits, gamma_bits,
       CAST(floor(CAST(gamma_bits AS DOUBLE) / CAST(raw_bits AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE)
         AS compressed_ratio
FROM rows_out
ORDER BY term
"""


# ---------------------------------------------------------------------------
# Kneser-Ney bigram cross-entropy (R4-190, training:kn-perplexity):
# the proper smoothed LM evaluation next to the raw bigram
# cross-entropy (R4-81) and the CCNet unigram perplexity filter —
# interpolated KN with fixed discount D (Chen & Goodman 1999):
#   p(w|v) = max(c(vw)−D, 0)/c(v) + D·N1+(v·)/c(v) · p_cont(w)
#   p_cont(w) = N1+(·w) / |distinct bigrams|
# trained on EVEN doc_ids, evaluated held-out on ODD doc_ids per
# source (stated split). Unseen contexts back off to p_cont(w);
# eval bigrams with p = 0 (unseen w as continuation) are skipped and
# counted (n_zero — stated rule; ln 0 must not poison the sum). Per
# (source, v, w) the ln p lands on an exact 1e-6 BIGINT grid, so the
# per-source cross-entropy sum is exact integer arithmetic.
#
# Scale shape: train-side count tables are three hash aggregates;
# the eval side groups to DISTINCT (source, v, w) with multiplicity
# BEFORE the probability joins, so join fan-in is bounded by the
# eval vocabulary, not the token stream; everything is equi-joins.
# ---------------------------------------------------------------------------

KN_D = 0.75


def kneser_ney_crossentropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            "source",
            F.filter(_tokens("text"), lambda t: t != "").alias("ft"),
        )
    )
    bigrams = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.when(
                F.size("ft") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("ft") - 1),
                    lambda i: F.struct(
                        F.element_at("ft", i).alias("v"),
                        F.element_at("ft", i + 1).alias("w"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<v:string,w:string>>"))
        ).alias("b"),
    ).select("doc_id", "source", "b.v", "b.w")
    train = bigrams.where(F.col("doc_id") % 2 == 0)
    c_vw = train.groupBy("v", "w").agg(
        F.count("*").cast("long").alias("c_vw")
    ).localCheckpoint(eager=True)
    c_v = c_vw.groupBy("v").agg(
        F.sum("c_vw").cast("long").alias("c_v"),
        F.count("*").cast("long").alias("n1f"),  # N1+(v·)
    )
    n1r = c_vw.groupBy("w").agg(
        F.count("*").cast("long").alias("n1r")  # N1+(·w)
    )
    n_big = c_vw.agg(F.count("*").cast("long").alias("b_total"))
    ev = (
        bigrams.where(F.col("doc_id") % 2 == 1)
        .groupBy("source", "v", "w")
        .agg(F.count("*").cast("long").alias("n"))
    )
    joined = (
        ev.join(F.broadcast(c_vw), ["v", "w"], "left")
        .join(F.broadcast(c_v), "v", "left")
        .join(F.broadcast(n1r), "w", "left")
        .crossJoin(F.broadcast(n_big))
    )
    p_cont = (
        F.coalesce(F.col("n1r"), F.lit(0)).cast("double")
        / F.col("b_total").cast("double")
    )
    p_kn = F.when(
        F.coalesce(F.col("c_v"), F.lit(0)) > 0,
        F.greatest(
            F.coalesce(F.col("c_vw"), F.lit(0)).cast("double") - KN_D,
            F.lit(0.0),
        )
        / F.col("c_v").cast("double")
        + KN_D
        * F.col("n1f").cast("double")
        / F.col("c_v").cast("double")
        * p_cont,
    ).otherwise(p_cont)
    scored = joined.select(
        "source",
        "n",
        p_kn.alias("p"),
    ).select(
        "source",
        "n",
        F.when(
            F.col("p") > 0,
            F.floor(F.log("p") * 1e6 + 1e-6).cast("long"),
        ).alias("lnp"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_bigrams"),
            F.sum(F.when(F.col("lnp").isNull(), F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_zero"),
            F.sum(
                F.when(
                    F.col("lnp").isNotNull(), F.col("n") * F.col("lnp")
                ).otherwise(0)
            )
            .cast("long")
            .alias("s_lnp"),
        )
        .select(
            "source",
            "n_bigrams",
            "n_zero",
            # ANSI guard: a source whose every held-out bigram has p=0
            # (all continuation words unseen in training) makes the
            # denominator 0 — NULL, matching the oracle's CASE WHEN
            F.when(
                (F.col("n_bigrams") - F.col("n_zero")) > 0,
                _floor_round(
                    -F.col("s_lnp").cast("double")
                    / 1e6
                    / (F.col("n_bigrams") - F.col("n_zero")).cast("double"),
                    4,
                ),
            ).alias("cross_entropy_nats"),
            F.when(
                (F.col("n_bigrams") - F.col("n_zero")) > 0,
                _floor_round(
                    F.exp(
                        -F.col("s_lnp").cast("double")
                        / 1e6
                        / (F.col("n_bigrams") - F.col("n_zero")).cast("double")
                    ),
                    4,
                ),
            ).alias("perplexity"),
        )
        .orderBy("source")
    )


KN_CROSSENTROPY_SQL = rf"""
WITH docs AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS ft
  FROM documents WHERE text IS NOT NULL
),
bigrams AS MATERIALIZED (
  SELECT doc_id, source, b.v AS v, b.w AS w
  FROM (
    SELECT doc_id, source,
           unnest(CASE WHEN len(ft) >= 2
                       THEN list_transform(
                              generate_series(1, len(ft) - 1),
                              i -> {{'v': ft[i], 'w': ft[i + 1]}})
                       ELSE CAST([] AS STRUCT(v VARCHAR, w VARCHAR)[])
                  END) AS b
    FROM docs
  )
),
c_vw AS MATERIALIZED (
  SELECT v, w, CAST(count(*) AS BIGINT) AS c_vw
  FROM bigrams WHERE doc_id % 2 = 0 GROUP BY 1, 2
),
c_v AS MATERIALIZED (
  SELECT v, CAST(sum(c_vw) AS BIGINT) AS c_v,
         CAST(count(*) AS BIGINT) AS n1f
  FROM c_vw GROUP BY 1
),
n1r AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS n1r FROM c_vw GROUP BY 1
),
n_big AS (SELECT CAST(count(*) AS BIGINT) AS b_total FROM c_vw),
ev AS (
  SELECT source, v, w, CAST(count(*) AS BIGINT) AS n
  FROM bigrams WHERE doc_id % 2 = 1 GROUP BY 1, 2, 3
),
scored AS (
  SELECT source, n,
         CASE WHEN p > 0
              THEN CAST(floor(ln(p) * 1000000 + 1e-6) AS BIGINT)
         END AS lnp
  FROM (
    SELECT e.source, e.n,
           CASE WHEN coalesce(cv.c_v, 0) > 0
                THEN greatest(CAST(coalesce(c.c_vw, 0) AS DOUBLE)
                              - CAST({KN_D} AS DOUBLE),
                              CAST(0 AS DOUBLE))
                     / CAST(cv.c_v AS DOUBLE)
                     + CAST({KN_D} AS DOUBLE) * CAST(cv.n1f AS DOUBLE)
                       / CAST(cv.c_v AS DOUBLE)
                       * (CAST(coalesce(r.n1r, 0) AS DOUBLE)
                          / CAST(nb.b_total AS DOUBLE))
                ELSE CAST(coalesce(r.n1r, 0) AS DOUBLE)
                     / CAST(nb.b_total AS DOUBLE) END AS p
    FROM ev e
    LEFT JOIN c_vw c ON c.v = e.v AND c.w = e.w
    LEFT JOIN c_v cv ON cv.v = e.v
    LEFT JOIN n1r r ON r.w = e.w
    CROSS JOIN n_big nb
  )
)
SELECT source,
       CAST(sum(n) AS BIGINT) AS n_bigrams,
       CAST(sum(CASE WHEN lnp IS NULL THEN n ELSE 0 END) AS BIGINT)
         AS n_zero,
       CASE WHEN sum(n) - sum(CASE WHEN lnp IS NULL THEN n ELSE 0 END) > 0
       THEN CAST(floor(-CAST(sum(CASE WHEN lnp IS NOT NULL THEN n * lnp
                             ELSE 0 END) AS DOUBLE) / 1e6
                  / CAST(sum(n) - sum(CASE WHEN lnp IS NULL THEN n
                                      ELSE 0 END) AS DOUBLE)
                  * 10000 + 1e-6) / 10000 AS DOUBLE)
       END AS cross_entropy_nats,
       CASE WHEN sum(n) - sum(CASE WHEN lnp IS NULL THEN n ELSE 0 END) > 0
       THEN CAST(floor(exp(-CAST(sum(CASE WHEN lnp IS NOT NULL THEN n * lnp
                                ELSE 0 END) AS DOUBLE) / 1e6
                      / CAST(sum(n) - sum(CASE WHEN lnp IS NULL THEN n
                                          ELSE 0 END) AS DOUBLE))
                  * 10000 + 1e-6) / 10000 AS DOUBLE)
       END AS perplexity
FROM scored
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Good-Turing unseen-mass estimate (R4-192, training:good-turing):
# the missing-species statistic a crawler planner reads before
# deciding whether more data from a source still buys new vocabulary
# — P(next token is a NEW type) ≈ N₁/N (Good 1953), with the
# Good-Turing adjusted count for singletons c*₁ = 2·N₂/N₁. Pure
# frequency-spectrum arithmetic per source (the stylometric
# machinery of R4-176 pointed at the smoothing question): exact
# BIGINT spectrum sums, two closed forms.
# ---------------------------------------------------------------------------


def good_turing_unseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    # domain = 3-gram shingles (the HLL/KMV lesson): the raw ~31-token
    # vocabulary saturates instantly (N1 in {0, 1} — the statistic
    # would answer nothing); shingles carry real singleton mass
    tok_docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("source", _tokens().alias("toks"))
    )
    grams = F.when(
        F.size("toks") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 2),
            lambda i: F.concat_ws(" ", F.slice("toks", i, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    toks = tok_docs.select("source", F.explode(grams).alias("tok"))
    tf = toks.groupBy("source", "tok").agg(
        F.count("*").cast("long").alias("m")
    )
    prof = tf.groupBy("source").agg(
        F.sum("m").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum((F.col("m") == 1).cast("long")).cast("long").alias("n1"),
        F.sum((F.col("m") == 2).cast("long")).cast("long").alias("n2"),
    )
    return prof.select(
        "source",
        "n_tokens",
        "n_types",
        "n1",
        "n2",
        _floor_round(
            F.col("n1").cast("double") / F.col("n_tokens").cast("double"),
            6,
        ).alias("p_unseen"),
        _floor_round(
            F.when(
                F.col("n1") > 0,
                2.0 * F.col("n2").cast("double")
                / F.col("n1").cast("double"),
            ),
            4,
        ).alias("c1_star"),
    ).orderBy("source")


GOOD_TURING_SQL = rf"""
WITH toks AS (
  SELECT source, t AS tok FROM (
    SELECT source,
           unnest(CASE WHEN len(toks) >= 3
                       THEN list_transform(
                              generate_series(1, len(toks) - 2),
                              i -> array_to_string(toks[i : i + 2], ' '))
                       ELSE CAST([] AS VARCHAR[]) END) AS t
    FROM (SELECT source, string_split_regex(text, '\s+') AS toks
          FROM documents WHERE text IS NOT NULL)
  )
),
{_TOKEN_PROFILE_SQL}
         CAST(sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN m = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM tf GROUP BY 1
)
SELECT source, n_tokens, n_types, n1, n2,
       CAST(floor(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                  * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS p_unseen,
       CAST(floor(CASE WHEN n1 > 0
                       THEN 2.0 * CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE)
                  END * 10000 + 1e-6) / 10000 AS DOUBLE) AS c1_star
FROM prof
ORDER BY source
"""
