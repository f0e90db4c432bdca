r"""Published-pipeline quality heuristics for pretraining corpora.

Beyond the reference's own surface (per the build mandate), next to
analytics/curation.py: the three classic document-quality passes every
web-scale corpus goes through before tokenization —

* :func:`gopher_quality_filter` — Gopher's document-level quality
  rules (Rae et al. 2021, appendix A1.1): word-count bounds, mean
  word length band, alphabetic-word fraction, stop-word containment.
* :func:`c4_line_clean` — C4's line-level cleanup (Raffel et al. 2020
  §2.2): keep lines that end in terminal punctuation and have >=
  ``C4_MIN_LINE_WORDS`` words, drop javascript boilerplate lines, and
  drop whole documents containing "lorem ipsum" or a curly brace.
* :func:`paragraph_dedup` — RefinedWeb-style (Penedo et al. 2023 §3.3)
  cross-document paragraph deduplication: paragraphs are fingerprinted
  and every later occurrence of a fingerprint anywhere in the corpus
  is marked a duplicate of its first (lowest (doc_id, para_idx))
  occurrence.

Scale shapes:
* gopher_quality_filter — map-only: every rule is a per-row HOF fold
  over the materialized token array; no shuffle at all.
* c4_line_clean — map-only as well: the line walk is transform/filter
  over an in-row array, aggregated back per document inside the same
  projection (no explode, no shuffle).
* paragraph_dedup — the one genuine shuffle: first winner per
  fingerprint via a map-side-combinable groupBy().min(struct) + join
  back (NOT a window — AQE cannot split a hot window partition; the
  aggregate collapses a pathological duplicated paragraph to one row
  per mapper before the shuffle, and the join back is skew-splittable).

The synthetic corpus (TESTDATA.md) is single-line word salad with no
punctuation, so — same technique as curation.pii_redact's planted
contact line — c4_line_clean derives a deterministic multi-line view
(10-token lines, an md5-selected suffix per line planting terminal
punctuation / javascript boilerplate / lorem-ipsum markers) and then
applies the real rules to it; the rule kernels are the actual surface
under test and run identically in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import (
    _DOC_WAVE_SQL,
    DUP_ID_OFFSET,
    N_INJECTED_DUPS,
    _doc_wave,
    floor_round,
    load,
)
from .base import tokens as _tokens

# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021 appendix A1.1). Thresholds are
# the paper's: 50..100_000 words, mean word length in [3, 10], >= 80 %
# of words contain an alphabetic character, >= 2 distinct stop words —
# except the stop-word containment runs at >= 1 here: the synthetic
# 31-word vocabulary contains exactly one of the paper's eight stop
# words ('the'), so the paper's 2 would drop 100 % of the corpus and
# exercise nothing (same corpus-derived adjustment as curation.DECON_N;
# the containment kernel itself is unchanged).
# (The symbol-to-word and bullet/ellipsis line rules live with the
# line-level pass below — this corpus has no '#'/'…' symbols and the
# repetition rules are already analytics/curation.repetition_filter.)
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WL = 3.0
GOPHER_MAX_MEAN_WL = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.80
GOPHER_MIN_STOP_HITS = 1  # paper: 2; see header note
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality verdicts (reference has no analog; this
    is a training-pipeline operator mandated by the build brief).

    Map-only: token array materialized once per row (HOF-capture
    rule), every metric a fold over it, zero shuffle — the 100 TB
    shape is "however many executors you have".
    """
    return gopher_verdicts(load(spark, sf_dir, "documents"))


def gopher_verdicts(docs: DataFrame, *carry: str) -> DataFrame:
    """The rule kernel over any (doc_id, text) DataFrame — batch OR
    streaming (map-only expressions stream unchanged; the streaming
    quality gate reuses this exact body, never a fork). ``carry``
    names extra input columns to pass through untouched."""
    tok_docs = docs.select("doc_id", *carry, _tokens().alias("toks"))

    n_words = F.size("toks")
    mean_wl = F.aggregate(
        "toks", F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    ) / n_words
    alpha_frac = F.size(F.filter("toks", lambda t: t.rlike("[A-Za-z]"))) / n_words
    stop_hits = F.size(
        F.array_intersect("toks", F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]))
    )

    m = tok_docs.select(
        "doc_id",
        *carry,
        n_words.alias("n_words"),
        floor_round(mean_wl, 4).alias("mean_word_len"),
        floor_round(alpha_frac, 4).alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
    )
    r_words = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    r_wl = F.col("mean_word_len").between(GOPHER_MIN_MEAN_WL, GOPHER_MAX_MEAN_WL)
    r_alpha = F.col("alpha_frac") >= GOPHER_MIN_ALPHA_FRAC
    r_stop = F.col("stop_hits") >= GOPHER_MIN_STOP_HITS
    fail_rule = (
        F.when(~r_words, F.lit("word_count"))
        .when(~r_wl, F.lit("mean_word_length"))
        .when(~r_alpha, F.lit("alpha_ratio"))
        .when(~r_stop, F.lit("stop_words"))
        .otherwise(F.lit("pass"))
    )
    return m.select(
        "doc_id",
        *carry,
        "n_words",
        "mean_word_len",
        "alpha_frac",
        "stop_hits",
        fail_rule.alias("fail_rule"),
        (fail_rule == "pass").alias("keep"),
    )


_STOPLIST_SQL = "[" + ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS) + "]"

GOPHER_QUALITY_SQL = rf"""
WITH m AS (
  SELECT doc_id,
         len(toks) AS n_words,
         floor(list_sum(list_transform(toks, t -> len(t))) * 1.0
               / len(toks) * 10000 + 1e-6) / 10000 AS mean_word_len,
         floor(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
               * 1.0 / len(toks) * 10000 + 1e-6) / 10000 AS alpha_frac,
         len(list_intersect(toks, {_STOPLIST_SQL})) AS stop_hits
  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents)
), v AS (
  SELECT *,
         CASE
           WHEN NOT (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
             THEN 'word_count'
           WHEN NOT (mean_word_len BETWEEN {GOPHER_MIN_MEAN_WL} AND {GOPHER_MAX_MEAN_WL})
             THEN 'mean_word_length'
           WHEN alpha_frac < {GOPHER_MIN_ALPHA_FRAC} THEN 'alpha_ratio'
           WHEN stop_hits < {GOPHER_MIN_STOP_HITS} THEN 'stop_words'
           ELSE 'pass'
         END AS fail_rule
  FROM m
)
SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits,
       fail_rule, fail_rule = 'pass' AS keep
FROM v
"""


# ---------------------------------------------------------------------------
# C4 line-level cleanup (Raffel et al. 2020 §2.2). Deterministic line
# view: 10-token lines; per line a planted suffix selected by the
# first md5 hex digit of 'doc_id|line_idx' —
#   0-3 '.'   4-5 '!'  6 '?'   (terminal punctuation -> keepable)
#   7-9 ''                     (no terminal punctuation -> dropped)
#   a-b ' javascript required.' (boilerplate -> dropped by word rule)
#   c-f '.'                    (keepable)
# plus doc-level poison: docs with doc_id % 97 == 3 get ' lorem ipsum'
# appended to their last line, doc_id % 97 == 5 get ' {' — both drop
# the WHOLE document per C4.
# ---------------------------------------------------------------------------

C4_LINE_TOKENS = 10
C4_MIN_LINE_WORDS = 5


def c4_line_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 §2.2 line filter over the deterministic line view.

    Map-only: the line array is built, suffixed, filtered and
    re-aggregated inside one projection — no explode, no shuffle.
    """
    docs = load(spark, sf_dir, "documents")
    tok_docs = docs.select("doc_id", _tokens().alias("toks")).select(
        "doc_id",
        "toks",
        F.sequence(
            F.lit(0),
            F.floor((F.size("toks") - 1) / C4_LINE_TOKENS).cast("int"),
        ).alias("line_ids"),
    )

    def _line(i):
        # i is the lambda arg; toks/doc_id are plain row-column refs
        base = F.concat_ws(
            " ", F.slice(F.col("toks"), i * C4_LINE_TOKENS + 1, C4_LINE_TOKENS)
        )
        digit = F.substring(
            F.md5(
                F.concat_ws("|", F.col("doc_id").cast("string"), i.cast("string"))
            ),
            1,
            1,
        )
        suffix = (
            F.when(digit.isin("7", "8", "9"), F.lit(""))
            .when(digit.isin("a", "b"), F.lit(" javascript required."))
            .when(digit == "6", F.lit("?"))
            .when(digit.isin("4", "5"), F.lit("!"))
            .otherwise(F.lit("."))
        )
        return F.concat(base, suffix)

    poison = (
        F.when(F.col("doc_id") % 97 == 3, F.lit(" lorem ipsum"))
        .when(F.col("doc_id") % 97 == 5, F.lit(" {"))
        .otherwise(F.lit(""))
    )
    # materialize the raw line array BEFORE reusing it (slice/size/
    # element_at below would each re-evaluate a captured transform)
    raw = tok_docs.select(
        "doc_id", F.transform("line_ids", _line).alias("lines0")
    )
    # poison rides the LAST line so the doc-level rules see it
    lined = raw.select(
        "doc_id",
        F.concat(
            F.slice("lines0", 1, F.size("lines0") - 1),
            F.array(F.concat(F.element_at("lines0", -1), poison)),
        ).alias("lines"),
    )

    def _keep(line):
        n = F.size(F.split(line, r"\s+"))
        return (
            line.rlike(r"[.!?]$")
            & (n >= C4_MIN_LINE_WORDS)
            & ~F.lower(line).contains("javascript")
        )

    scored = lined.select(
        "doc_id", "lines", F.filter("lines", _keep).alias("kept")
    )
    joined = F.concat_ws("\n", F.col("lines"))
    doc_keep = (
        ~F.lower(joined).contains("lorem ipsum")
        & ~joined.contains("{")
        & (F.size("kept") > 0)
    )
    return scored.select(
        "doc_id",
        F.size("lines").alias("n_lines"),
        F.size("kept").alias("n_kept"),
        floor_round(F.size("kept") / F.size("lines"), 4).alias("kept_frac"),
        doc_keep.alias("doc_keep"),
        F.md5(F.concat_ws("\n", "kept")).alias("cleaned_md5"),
    )


C4_LINE_CLEAN_SQL = rf"""
WITH tok AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents
), raw AS (
  SELECT doc_id,
         list_transform(
           generate_series(0, CAST(floor((len(toks)-1)/{C4_LINE_TOKENS}) AS INT)),
           i -> array_to_string(toks[i*{C4_LINE_TOKENS}+1 : i*{C4_LINE_TOKENS}+{C4_LINE_TOKENS}], ' ')
                || (CASE substr(md5(doc_id || '|' || i), 1, 1)
                      WHEN '7' THEN '' WHEN '8' THEN '' WHEN '9' THEN ''
                      WHEN 'a' THEN ' javascript required.'
                      WHEN 'b' THEN ' javascript required.'
                      WHEN '6' THEN '?'
                      WHEN '4' THEN '!' WHEN '5' THEN '!'
                      ELSE '.' END)
         ) AS lines0,
         CASE WHEN doc_id % 97 = 3 THEN ' lorem ipsum'
              WHEN doc_id % 97 = 5 THEN ' {{' ELSE '' END AS poison
  FROM tok
), lined AS (
  SELECT doc_id,
         list_append(lines0[1:len(lines0)-1],
                     lines0[len(lines0)] || poison) AS lines
  FROM raw
), scored AS (
  SELECT doc_id, lines,
         list_filter(lines, line ->
             regexp_matches(line, '[.!?]$')
             AND len(string_split_regex(line, '\s+')) >= {C4_MIN_LINE_WORDS}
             AND NOT contains(lower(line), 'javascript')) AS kept
  FROM lined
)
SELECT doc_id,
       len(lines) AS n_lines,
       len(kept) AS n_kept,
       floor(len(kept) * 1.0 / len(lines) * 10000 + 1e-6) / 10000 AS kept_frac,
       (NOT contains(lower(array_to_string(lines, chr(10))), 'lorem ipsum'))
         AND (NOT contains(array_to_string(lines, chr(10)), '{{'))
         AND len(kept) > 0 AS doc_keep,
       -- DuckDB array_to_string([]) is NULL where Spark concat_ws is ''
       md5(coalesce(array_to_string(kept, chr(10)), '')) AS cleaned_md5
FROM scored
"""


# ---------------------------------------------------------------------------
# RefinedWeb-style cross-document paragraph dedup (Penedo et al. 2023
# §3.3 "exact substring/paragraph deduplication", done at paragraph
# granularity as in the paper's production pipeline). Paragraphs are
# 20-token chunks; corpus includes the shared injected duplicates
# (base.DUP_ID_OFFSET) so cross-document hits exist at every SF.
# ---------------------------------------------------------------------------

PARA_TOKENS = 20


def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mark every paragraph occurrence after its first as a duplicate.

    Shape: posexplode to (doc_id, para_idx, md5) — map-side — then the
    first winner per fingerprint via groupBy().min(struct) + an
    equi-join back, NOT a window. A window over PARTITION BY para_md5
    forces every occurrence of one fingerprint into a single task and
    AQE cannot split window partitions — a boilerplate paragraph
    duplicated a billion times at corpus scale becomes one straggler.
    The aggregate gets map-side partial combine (the hot key collapses
    to one row per mapper BEFORE the shuffle) and the join back is an
    ordinary equi-join AQE's skew handling can split; the aggregate's
    output partitioning is reused by the join, so the plan still has
    exactly two exchanges.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") < N_INJECTED_DUPS).select(
        (F.col("doc_id") + DUP_ID_OFFSET).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(dups)

    def _para(i):
        return F.concat_ws(
            " ", F.slice(F.col("toks"), i * PARA_TOKENS + 1, PARA_TOKENS)
        )

    paras = (
        corpus.select("doc_id", _tokens().alias("toks"))
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.floor((F.size("toks") - 1) / PARA_TOKENS).cast("int"),
                    ),
                    _para,
                )
            ).alias("para_idx", "para"),
        )
        .select("doc_id", "para_idx", F.md5("para").alias("para_md5"))
    )
    winners = paras.groupBy("para_md5").agg(
        F.min(F.struct("doc_id", "para_idx")).alias("winner")
    )
    return paras.join(winners, "para_md5").select(
        "doc_id",
        F.col("para_idx").cast("int").alias("para_idx"),
        "para_md5",
        F.col("winner")["doc_id"].alias("winner_doc_id"),
        (
            (F.col("winner")["doc_id"] != F.col("doc_id"))
            | (F.col("winner")["para_idx"] != F.col("para_idx"))
        ).alias("is_dup"),
    )


PARAGRAPH_DEDUP_SQL = rf"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {DUP_ID_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id < {N_INJECTED_DUPS}
), tok AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM corpus
), paras AS (
  SELECT doc_id, CAST(i AS INT) AS para_idx,
         md5(array_to_string(
             toks[i*{PARA_TOKENS}+1 : i*{PARA_TOKENS}+{PARA_TOKENS}], ' '))
           AS para_md5
  FROM tok,
       unnest(generate_series(0, CAST(floor((len(toks)-1)/{PARA_TOKENS}) AS INT)))
         AS u(i)
), won AS (
  SELECT *,
         min(struct_pack(doc_id := doc_id, para_idx := para_idx))
           OVER (PARTITION BY para_md5) AS winner
  FROM paras
)
SELECT doc_id, para_idx, para_md5,
       winner.doc_id AS winner_doc_id,
       (winner.doc_id <> doc_id OR winner.para_idx <> para_idx) AS is_dup
FROM won
"""


# ---------------------------------------------------------------------------
# Hashed-linear quality classifier (training:quality-classifier — the
# DCLM / FineWeb-Edu-style model-based filter: a linear scorer over
# hashed bag-of-words features deciding keep/drop for pretraining).
# The weight table is a deterministic stand-in for trained weights
# (offline here, same policy as the unigram-LM perplexity stand-in):
# w(token) = frac(md5(token)) mapped onto the integer grid
# [-10000, 10000]. Integer weights make the per-doc sum EXACT and
# order-independent in both engines (float HOF sums are
# accumulation-order-dependent — the perplexity kernel's lesson);
# only the final mean divides, then the house floor4.
#
# Scale shape: map-only — one HOF fold per row over the materialized
# token array, md5 per element, no shuffle, no vocabulary table to
# broadcast (the hash IS the lookup).
# ---------------------------------------------------------------------------

CLS_THRESHOLD = 0.0  # keep iff mean hashed weight >= 0


def quality_classifier_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok_docs = docs.select("doc_id", _tokens().alias("toks"))
    wsum = F.aggregate(
        "toks",
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + (
            F.floor(
                F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("double")
                / 4294967296.0
                * 20000
                + 1e-6
            ).cast("long")
            - 10000
        ),
    )
    staged = tok_docs.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        wsum.alias("wsum"),
    )
    score = floor_round(F.col("wsum") / (10000.0 * F.col("n_tokens")), 4)
    return staged.select(
        "doc_id",
        "n_tokens",
        score.alias("score"),
        (score >= CLS_THRESHOLD).alias("keep"),
    )


QUALITY_CLASSIFIER_SQL = rf"""
WITH tok AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents
), staged AS (
  SELECT doc_id, len(toks) AS n_tokens,
         list_sum(list_transform(toks, t ->
           CAST(floor(CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)
                      / 4294967296.0 * 20000 + 1e-6) AS BIGINT) - 10000))
           AS wsum
  FROM tok
)
SELECT doc_id, n_tokens,
       floor(wsum / (10000.0 * n_tokens) * 10000 + 1e-6) / 10000 AS score,
       floor(wsum / (10000.0 * n_tokens) * 10000 + 1e-6) / 10000
         >= {CLS_THRESHOLD} AS keep
FROM staged
"""


# ---------------------------------------------------------------------------
# Site-template boilerplate strip (training:template-strip) — the
# cross-document twin of the C4 line rules: a site's pages share a
# navigation header the per-document rules can't see; the signal is
# the MODAL first line per source (RefinedWeb strips exactly this
# class via line-frequency-per-domain). The synthetic corpus carries
# no templates, so the query plants a deterministic nav line on the
# even-hash half of the sources (the pii_redact technique) and then
# detects it from frequency alone — the detector never reads the
# planting rule.
#
# Scale shape: first lines are a map-only projection; the modal line
# is a per-(source, first_line) hash aggregate + a per-source window
# over the AGGREGATED counts (one row per distinct first line per
# source — bounded, never per-doc); the verdict joins the modal table
# back by source (broadcast — sources ≪ docs).
# ---------------------------------------------------------------------------

TEMPLATE_MIN_DF = 3  # a "template" must repeat across ≥3 docs


def template_prefix_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    planted = F.when(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("tmpl|"), F.col("source"))), 1, 8),
            16, 10,
        ).cast("long") % 2 == 0,
        F.concat(
            F.lit("NAV "), F.col("source"),
            F.lit(" | home | about | contact\n"), F.col("text"),
        ),
    ).otherwise(F.col("text"))
    staged = docs.select(
        "doc_id", "source", planted.alias("t"),
        F.substring_index(planted, "\n", 1).alias("fl"),
    )
    modal = (
        staged.groupBy("source", "fl")
        .agg(F.count("*").alias("df"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source").orderBy(F.desc("df"), "fl")
            ),
        )
        .where((F.col("rn") == 1) & (F.col("df") >= TEMPLATE_MIN_DF))
        .select("source", F.col("fl").alias("modal_fl"), F.col("df").alias("modal_df"))
    )
    out = staged.join(F.broadcast(modal), "source", "left")
    had = F.col("modal_fl").isNotNull() & (F.col("fl") == F.col("modal_fl"))
    cleaned = F.when(
        had, F.substring(F.col("t"), F.length("fl") + 2, 2147483647)
    ).otherwise(F.col("t"))
    return out.select(
        "doc_id",
        "source",
        had.alias("had_template"),
        F.coalesce(F.col("modal_df"), F.lit(0)).cast("long").alias("template_df"),
        F.substring(cleaned, 1, 40).alias("cleaned_head"),
    ).orderBy("doc_id")


TEMPLATE_STRIP_SQL = f"""
WITH staged AS (
  SELECT doc_id, source,
         CASE WHEN CAST('0x' || substr(md5('tmpl|' || source), 1, 8)
                   AS BIGINT) % 2 = 0
              THEN 'NAV ' || source || ' | home | about | contact' || chr(10)
                   || text
              ELSE text END AS t
  FROM documents
),
lines AS (
  SELECT doc_id, source, t, split_part(t, chr(10), 1) AS fl FROM staged
),
modal AS (
  SELECT source, fl AS modal_fl, df AS modal_df FROM (
    SELECT source, fl, count(*) AS df,
           row_number() OVER (PARTITION BY source
                              ORDER BY count(*) DESC, fl) AS rn
    FROM lines GROUP BY source, fl
  ) WHERE rn = 1 AND df >= {TEMPLATE_MIN_DF}
)
SELECT l.doc_id, l.source,
       m.modal_fl IS NOT NULL AND l.fl = m.modal_fl AS had_template,
       CAST(coalesce(m.modal_df, 0) AS BIGINT) AS template_df,
       substr(CASE WHEN m.modal_fl IS NOT NULL AND l.fl = m.modal_fl
                   THEN substr(l.t, length(l.fl) + 2)
                   ELSE l.t END, 1, 40) AS cleaned_head
FROM lines l LEFT JOIN modal m ON m.source = l.source
ORDER BY l.doc_id
"""


# ---------------------------------------------------------------------------
# Classifier-confidence rejection sampling (training:rejection-sample —
# FineWeb-Edu keeps docs with probability derived from the quality
# classifier's confidence rather than a hard threshold, preserving a
# graded tail instead of a cliff). p_keep = ((score+1)/2)² — the
# square is written as x·x, NOT pow(): IEEE multiplication is
# correctly rounded in both engines while pow() routes through
# exp/ln and can differ by an ulp, which would flip a keep decision
# whenever u lands inside that ulp. The score feeding p_keep is the
# FLOORED classifier score (already on the 1e-4 grid), so p_keep is
# bit-identical cross-engine; u is the salted-md5 uniform on the
# 2⁻³² grid. Map-only end to end.
# ---------------------------------------------------------------------------


def classifier_rejection_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = quality_classifier_linear(spark, sf_dir)
    half = (F.col("score") + 1.0) / 2.0
    p_keep = half * half
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("reject|"), F.col("doc_id").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("double")
        + 0.5
    ) / F.lit(4294967296.0)
    return scored.select(
        "doc_id",
        "score",
        floor_round(p_keep, 4).alias("p_keep"),
        (u < p_keep).alias("kept"),
    ).orderBy("doc_id")


REJECTION_SAMPLE_SQL = f"""
WITH scored AS ({QUALITY_CLASSIFIER_SQL.replace(chr(10), chr(10) + '  ')}
)
SELECT doc_id, score,
       floor(((score + 1.0) / 2.0) * ((score + 1.0) / 2.0) * 10000 + 1e-6)
         / 10000 AS p_keep,
       (CAST('0x' || substr(md5('reject|' || CAST(doc_id AS VARCHAR)), 1, 8)
             AS BIGINT) + 0.5) / 4294967296.0
         < ((score + 1.0) / 2.0) * ((score + 1.0) / 2.0) AS kept
FROM scored
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Score-decile lift table (R4-69, training:classifier-lift): the
# standard eval readout for a filtering classifier — rank the corpus
# by score, cut into ten equal index slices, and report each slice's
# size, mean score, and keep share. Deciles are assigned on the
# 4-dp-floored INTEGER score grid with a doc_id tiebreak (the repo's
# rounded-grid decision rule), so slice membership is engine-exact:
# decile = floor(rank0 * 10 / N) over (s_i, doc_id) order, which both
# engines compute identically (no NTILE remainder-mode dependence).
# Scale shape: N and the per-score-value cumulative offsets come from
# a histogram over the BOUNDED score domain (<= 20001 distinct 4-dp
# values in [-1, 1]) — the only per-row window is a row_number inside
# each score-value partition; no global sort.
# ---------------------------------------------------------------------------

LIFT_DECILES = 10


def score_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    scored = quality_classifier_linear(spark, sf_dir).select(
        "doc_id",
        F.round(F.col("score") * 10000).cast("long").alias("s_i"),
        F.col("keep").cast("long").alias("kept"),
    )
    hist = scored.groupBy("s_i").agg(F.count("*").alias("c"))
    hw = Window.orderBy("s_i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offs = hist.select(
        "s_i",
        (F.sum("c").over(hw) - F.col("c")).alias("off"),
        F.sum("c").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    rn = Window.partitionBy("s_i").orderBy("doc_id")
    rows = scored.withColumn("rn", F.row_number().over(rn)).join(
        F.broadcast(offs), "s_i"
    )
    decile = F.floor(
        (F.col("off") + F.col("rn") - 1) * F.lit(LIFT_DECILES) / F.col("n")
    ).cast("int")
    return (
        rows.select(decile.alias("decile"), "s_i", "kept")
        .groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            floor_round(F.sum("s_i") / (10000.0 * F.count("*")), 4)
            .alias("mean_score"),
            floor_round(F.sum("kept") / F.count("*"), 4).alias("keep_rate"),
        )
        .orderBy("decile")
    )


SCORE_DECILE_LIFT_SQL = f"""
WITH scored AS ({QUALITY_CLASSIFIER_SQL.replace(chr(10), chr(10) + '  ')}
),
ints AS (
  SELECT doc_id,
         CAST(round(score * 10000) AS BIGINT) AS s_i,
         CAST(keep AS BIGINT) AS kept
  FROM scored
),
hist AS (SELECT s_i, count(*) AS c FROM ints GROUP BY 1),
offs AS (
  SELECT s_i,
         sum(c) OVER (ORDER BY s_i) - c AS off,
         sum(c) OVER () AS n
  FROM hist
),
rows_d AS (
  SELECT CAST(floor((o.off + row_number() OVER (
                       PARTITION BY i.s_i ORDER BY i.doc_id) - 1)
                    * {LIFT_DECILES} / CAST(o.n AS DOUBLE)) AS INT)
           AS decile,
         i.s_i, i.kept
  FROM ints i JOIN offs o ON o.s_i = i.s_i
)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(floor(sum(s_i) / (10000.0 * count(*)) * 10000 + 1e-6)
            / 10000 AS DOUBLE) AS mean_score,
       CAST(floor(sum(kept) / CAST(count(*) AS DOUBLE) * 10000 + 1e-6)
            / 10000 AS DOUBLE) AS keep_rate
FROM rows_d
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Calibration reliability table (R4-75, training:calibration — the
# reliability-diagram/ECE readout, Guo et al. 2017): the rejection
# sampler keeps docs with probability p_keep, so over any score bucket
# the realized keep RATE should track the mean predicted probability;
# a bucket where they diverge is miscalibration (here: finite-sample
# deviation of the deterministic md5 coin — the audit's test power is
# that both engines must agree on every bucket's exact counts).
#
# Exactness: p_keep lands on the 1e-4 grid as the INTEGER p_i =
# floor(p·10⁴ + 1e-6); bins are p_i div 1000 (integer division, no
# float boundary), confidence = Σp_i / (10⁴·n) is ONE division of
# exact integers, accuracy = kept/n likewise, and the gap numerator
# |Σp_i − 10⁴·kept| is an exact BIGINT so |conf − acc| cannot pick up
# summation noise. ECE = Σ n_b/N·gap_b is left to the reader/unit (a
# weighted sum of the emitted columns).
#
# Scale shape: map-only scoring (the sampler) + one ≤10-key hash agg.
# ---------------------------------------------------------------------------


def calibration_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = classifier_rejection_sample(spark, sf_dir)
    p_i = F.floor(F.col("p_keep") * 10000 + 1e-6).cast("long")
    binned = scored.select(
        F.least(F.floor(p_i / 1000).cast("long"), F.lit(9)).alias("bin"),
        p_i.alias("p_i"),
        F.col("kept").cast("long").alias("k"),
    )
    agg = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("k").cast("long").alias("kept_n"),
        F.sum("p_i").cast("long").alias("sum_p_i"),
    )
    conf = F.col("sum_p_i").cast("double") / (10000.0 * F.col("n"))
    acc = F.col("kept_n").cast("double") / F.col("n")
    gap = (
        F.abs(F.col("sum_p_i") - 10000 * F.col("kept_n")).cast("double")
        / (10000.0 * F.col("n"))
    )
    return agg.select(
        "bin",
        "n",
        "kept_n",
        floor_round(conf, 4).alias("mean_p_keep"),
        floor_round(acc, 4).alias("keep_rate"),
        floor_round(gap, 4).alias("abs_gap"),
    ).orderBy("bin")


CALIBRATION_SQL = f"""
WITH sampled AS ({REJECTION_SAMPLE_SQL.replace(chr(10), chr(10) + '  ')}
),
binned AS (
  SELECT least(CAST(floor(p_keep * 10000 + 1e-6) AS BIGINT) // 1000, 9)
           AS bin,
         CAST(floor(p_keep * 10000 + 1e-6) AS BIGINT) AS p_i,
         CASE WHEN kept THEN 1 ELSE 0 END AS k
  FROM sampled
),
agg AS (
  SELECT bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(k) AS BIGINT) AS kept_n,
         CAST(sum(p_i) AS BIGINT) AS sum_p_i
  FROM binned GROUP BY 1
)
SELECT bin, n, kept_n,
       CAST(floor(CAST(sum_p_i AS DOUBLE) / (10000.0 * n) * 10000 + 1e-6)
            / 10000 AS DOUBLE) AS mean_p_keep,
       CAST(floor(CAST(kept_n AS DOUBLE) / n * 10000 + 1e-6)
            / 10000 AS DOUBLE) AS keep_rate,
       CAST(floor(CAST(abs(sum_p_i - 10000 * kept_n) AS DOUBLE)
                  / (10000.0 * n) * 10000 + 1e-6) / 10000 AS DOUBLE)
         AS abs_gap
FROM agg
ORDER BY bin
"""


# ---------------------------------------------------------------------------
# Exact classifier AUC against the rule-based label (R4-83,
# training:classifier-auc): ROC-AUC of the linear quality classifier's
# score using the INDEPENDENT Gopher verdict as ground truth — the
# standard "does the cheap model reproduce the rulebook" eval before a
# classifier replaces rules in the ingest gate. Computed as the exact
# Mann-Whitney rank statistic over the BOUNDED score histogram (the
# score already lives on the 1e-4 integer grid, ≤20001 distinct
# values): AUC·2PN = Σ_v pos_v·(2·neg_below(v) + neg_at(v)) — ties
# count half — which is exact BIGINT arithmetic; one division at the
# end. The only window is the cumulative walk over the score DOMAIN
# (R4-35 argument), never the corpus.
# ---------------------------------------------------------------------------


def _score_label_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s_i, n_pos, n_neg): the classifier score on its 1e-4 integer
    grid, with Gopher-keep (positive) and reject counts per value."""
    scored = quality_classifier_linear(spark, sf_dir).select(
        "doc_id",
        F.floor(F.col("score") * 10000 + 1e-6).cast("long").alias("s_i"),
    )
    labels = gopher_quality_filter(spark, sf_dir).select(
        "doc_id", F.col("keep").cast("long").alias("pos")
    )
    hist = (
        scored.join(labels, "doc_id")
        .groupBy("s_i")
        .agg(
            F.sum("pos").cast("long").alias("n_pos"),
            F.sum(1 - F.col("pos")).cast("long").alias("n_neg"),
        )
    )
    return hist


def classifier_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    hist = _score_label_hist(spark, sf_dir)
    w = Window.orderBy("s_i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "n_pos",
        "n_neg",
        (F.sum("n_neg").over(w) - F.col("n_neg")).cast("long").alias(
            "neg_below"
        ),
    )
    agg = cum.agg(
        F.sum("n_pos").cast("long").alias("n_pos"),
        F.sum("n_neg").cast("long").alias("n_neg"),
        F.sum(
            F.col("n_pos") * (2 * F.col("neg_below") + F.col("n_neg"))
        )
        .cast("long")
        .alias("auc_num2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "auc_num2",
        floor_round(
            F.col("auc_num2")
            / (2.0 * F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


# the AUC / KS / ROC oracles' shared prefix: the classifier score on its
# 1e-4 grid against the Gopher label, as a per-score-value histogram
_SCORE_LABEL_HIST_SQL = f"""
WITH scored AS ({QUALITY_CLASSIFIER_SQL.replace(chr(10), chr(10) + '  ')}
),
labels AS ({GOPHER_QUALITY_SQL.replace(chr(10), chr(10) + '  ')}
),
hist AS (
  SELECT CAST(floor(s.score * 10000 + 1e-6) AS BIGINT) AS s_i,
         CAST(sum(CASE WHEN l.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN l.keep THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
  FROM scored s JOIN labels l ON l.doc_id = s.doc_id
  GROUP BY 1
),"""

CLASSIFIER_AUC_SQL = f"""
{_SCORE_LABEL_HIST_SQL}
cum AS (
  SELECT n_pos, n_neg,
         CAST(sum(n_neg) OVER (ORDER BY s_i
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_neg AS BIGINT) AS neg_below
  FROM hist
),
agg AS (
  SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
         CAST(sum(n_neg) AS BIGINT) AS n_neg,
         CAST(sum(n_pos * (2 * neg_below + n_neg)) AS BIGINT) AS auc_num2
  FROM cum
)
SELECT n_pos, n_neg, auc_num2,
       CAST(floor(auc_num2 / (2.0 * n_pos * n_neg) * 1000000 + 1e-6)
            / 1000000 AS DOUBLE) AS auc
FROM agg
"""


# ---------------------------------------------------------------------------
# KS separation of the classifier score (R4-84, the credit-scoring /
# scorecard separation statistic): max CDF gap between the score
# distributions of Gopher-keep and Gopher-reject documents — the
# threshold-free twin of AUC above (AUC integrates the separation, KS
# reports its strongest point AND the score where it happens, i.e.
# where the ingest gate's cutoff buys the most). Same exact-integer
# CDF-gap construction as ks_length_drift (R4-71), over the same
# bounded score histogram as the AUC: gap = |cum_pos·N_neg −
# cum_neg·N_pos| is exact BIGINT, argmax ties break to the smallest
# score, one final division.
# ---------------------------------------------------------------------------


def classifier_ks_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    hist = _score_label_hist(spark, sf_dir)
    tot = hist.agg(
        F.sum("n_pos").cast("long").alias("tp"),
        F.sum("n_neg").cast("long").alias("tn"),
    )
    w = Window.orderBy("s_i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "s_i",
        F.sum("n_pos").over(w).cast("long").alias("cum_pos"),
        F.sum("n_neg").over(w).cast("long").alias("cum_neg"),
    ).crossJoin(F.broadcast(tot))
    gap = F.abs(
        F.col("cum_pos") * F.col("tn") - F.col("cum_neg") * F.col("tp")
    ).cast("long")
    return (
        cum.select(
            (F.col("s_i") / 10000.0).alias("ks_at_score"),
            gap.alias("gap_num"),
            F.col("tp").alias("n_pos"),
            F.col("tn").alias("n_neg"),
            floor_round(
                gap.cast("double") / (F.col("tp") * F.col("tn")), 6
            ).alias("ks_stat"),
        )
        .orderBy(F.desc("gap_num"), F.asc("ks_at_score"))
        .limit(1)
    )


CLASSIFIER_KS_SQL = f"""
{_SCORE_LABEL_HIST_SQL}
tot AS (
  SELECT CAST(sum(n_pos) AS BIGINT) AS tp,
         CAST(sum(n_neg) AS BIGINT) AS tn
  FROM hist
),
cum AS (
  SELECT s_i,
         CAST(sum(n_pos) OVER (ORDER BY s_i
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_pos,
         CAST(sum(n_neg) OVER (ORDER BY s_i
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_neg
  FROM hist
)
SELECT s_i / 10000.0 AS ks_at_score,
       CAST(abs(cum_pos * tn - cum_neg * tp) AS BIGINT) AS gap_num,
       tp AS n_pos, tn AS n_neg,
       CAST(floor(CAST(abs(cum_pos * tn - cum_neg * tp) AS DOUBLE)
                  / (tp * tn) * 1000000 + 1e-6) / 1000000 AS DOUBLE)
         AS ks_stat
FROM cum, tot
ORDER BY gap_num DESC, ks_at_score ASC
LIMIT 1
"""


# ---------------------------------------------------------------------------
# ROC curve points for the quality classifier (R4-109): the CURVE
# whose area classifier_auc_exact integrates and whose best gap
# ks_score_separation locates — ten (threshold, FPR, TPR) points on
# the fixed score grid say what the ingest gate actually trades at
# each candidate cutoff (precision/recall réglage is read off this
# table, not off a scalar). Exactness: confusion counts at each
# threshold are exact BIGINT sums over the SAME bounded score
# histogram AUC/KS ride (score domain ≤ 20001 values on the 1e-4
# grid); rates pay one floored division each. The threshold grid is
# fixed and engine-identical; no corpus-sized window anywhere.
# ---------------------------------------------------------------------------

ROC_THRESHOLDS = list(range(-8000, 8001, 2000))  # score × 1e4 grid


def classifier_roc_points(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    hist = _score_label_hist(spark, sf_dir)
    ts = spark.createDataFrame(
        [(t,) for t in ROC_THRESHOLDS], "thr long"
    )
    per_t = (
        hist.crossJoin(F.broadcast(ts))
        .groupBy("thr")
        .agg(
            F.sum(
                F.when(F.col("s_i") >= F.col("thr"), F.col("n_pos"))
                .otherwise(0)
            )
            .cast("long")
            .alias("tp"),
            F.sum(
                F.when(F.col("s_i") >= F.col("thr"), F.col("n_neg"))
                .otherwise(0)
            )
            .cast("long")
            .alias("fp"),
            F.sum("n_pos").cast("long").alias("n_pos"),
            F.sum("n_neg").cast("long").alias("n_neg"),
        )
    )
    return per_t.select(
        "thr",
        "tp",
        "fp",
        (F.col("n_pos") - F.col("tp")).alias("fn"),
        (F.col("n_neg") - F.col("fp")).alias("tn"),
        floor_round(
            F.col("tp").cast("double") / F.col("n_pos"), 6
        ).alias("tpr"),
        floor_round(
            F.col("fp").cast("double") / F.col("n_neg"), 6
        ).alias("fpr"),
    ).orderBy("thr")


ROC_POINTS_SQL = f"""
{_SCORE_LABEL_HIST_SQL}
ts AS (SELECT unnest([{', '.join(str(t) for t in ROC_THRESHOLDS)}])
         AS thr),
per_t AS (
  SELECT ts.thr,
         CAST(sum(CASE WHEN h.s_i >= ts.thr THEN h.n_pos ELSE 0 END)
              AS BIGINT) AS tp,
         CAST(sum(CASE WHEN h.s_i >= ts.thr THEN h.n_neg ELSE 0 END)
              AS BIGINT) AS fp,
         CAST(sum(h.n_pos) AS BIGINT) AS n_pos,
         CAST(sum(h.n_neg) AS BIGINT) AS n_neg
  FROM hist h CROSS JOIN ts
  GROUP BY 1
)
SELECT CAST(thr AS BIGINT) AS thr, tp, fp,
       n_pos - tp AS fn, n_neg - fp AS tn,
       CAST(floor(CAST(tp AS DOUBLE) / n_pos * 1000000 + 1e-6)
            / 1000000 AS DOUBLE) AS tpr,
       CAST(floor(CAST(fp AS DOUBLE) / n_neg * 1000000 + 1e-6)
            / 1000000 AS DOUBLE) AS fpr
FROM per_t
ORDER BY thr
"""


# ---------------------------------------------------------------------------
# Population Stability Index of the quality-score distribution
# (R4-150): THE standard production drift metric — quality scores
# binned on their own floored grid, doc population split into two
# deterministic waves by doc_id hash (the even-hash technique), PSI =
# Σ (p_new − p_old)·ln(p_new / p_old) with Laplace +1 smoothing
# (stated rule — a bin empty on one side must not produce ln(0)).
# Per-bin terms floored to 1e-9 before the BIGINT sum; counts exact.
# Convention: PSI < 0.1 stable, 0.1–0.25 moderate, > 0.25 shifted —
# the deterministic hash split should land firmly in "stable", which
# the unit pins as the null-drift calibration of the metric itself.
# ---------------------------------------------------------------------------

PSI_BINS = 10


def psi_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textstats import quality_score

    q = quality_score(spark, sf_dir).select("doc_id", "quality")
    wave = _doc_wave()
    binned = q.select(
        F.least(
            F.floor(F.col("quality") * PSI_BINS).cast("long"),
            F.lit(PSI_BINS - 1).cast("long"),
        ).alias("bin"),
        wave.alias("w"),
    )
    cell = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("w") == 0, 1).otherwise(0))
        .cast("long")
        .alias("c_old"),
        F.sum(F.when(F.col("w") == 1, 1).otherwise(0))
        .cast("long")
        .alias("c_new"),
    )
    # dense bin spine so empty bins still smooth to +1
    spine = (
        binned.sparkSession.range(PSI_BINS)
        .select(F.col("id").cast("long").alias("bin"))
    )
    dense = spine.join(cell, "bin", "left").select(
        "bin",
        F.coalesce(F.col("c_old"), F.lit(0)).cast("long").alias("c_old"),
        F.coalesce(F.col("c_new"), F.lit(0)).cast("long").alias("c_new"),
    )
    tot = dense.agg(
        F.sum("c_old").cast("long").alias("n_old"),
        F.sum("c_new").cast("long").alias("n_new"),
    )
    j = dense.crossJoin(F.broadcast(tot))
    p_o = (F.col("c_old") + 1).cast("double") / (
        F.col("n_old") + PSI_BINS
    ).cast("double")
    p_n = (F.col("c_new") + 1).cast("double") / (
        F.col("n_new") + PSI_BINS
    ).cast("double")
    term_q = F.floor((p_n - p_o) * F.log(p_n / p_o) * 1000000000 + 1e-6).cast(
        "long"
    )
    scored = j.select(
        "bin",
        "c_old",
        "c_new",
        floor_round(p_o, 6).alias("p_old"),
        floor_round(p_n, 6).alias("p_new"),
        term_q.alias("term_q"),
    )
    psi = scored.agg(F.sum("term_q").cast("long").alias("psi_q"))
    return (
        scored.crossJoin(F.broadcast(psi))
        .select(
            "bin",
            "c_old",
            "c_new",
            "p_old",
            "p_new",
            floor_round(
                F.col("term_q").cast("double") / 1.0e9, 6
            ).alias("psi_term"),
            floor_round(
                F.col("psi_q").cast("double") / 1.0e9, 6
            ).alias("psi_total"),
        )
        .orderBy("bin")
    )


def _psi_sql() -> str:
    from .textstats import QUALITY_SCORE_SQL

    return f"""
WITH q AS ({QUALITY_SCORE_SQL}),
binned AS (
  SELECT least(CAST(floor(quality * {PSI_BINS}) AS BIGINT),
               {PSI_BINS - 1}) AS bin,
         {_DOC_WAVE_SQL} AS w
  FROM q
),
cell AS (
  SELECT bin,
         CAST(sum(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_old,
         CAST(sum(CASE WHEN w = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_new
  FROM binned GROUP BY 1
),
spine AS (SELECT unnest(generate_series(0, {PSI_BINS - 1})) AS bin),
dense AS (
  SELECT s.bin,
         CAST(coalesce(c.c_old, 0) AS BIGINT) AS c_old,
         CAST(coalesce(c.c_new, 0) AS BIGINT) AS c_new
  FROM spine s LEFT JOIN cell c ON s.bin = c.bin
),
tot AS (
  SELECT CAST(sum(c_old) AS BIGINT) AS n_old,
         CAST(sum(c_new) AS BIGINT) AS n_new
  FROM dense
),
scored AS (
  SELECT d.bin, d.c_old, d.c_new,
         CAST(d.c_old + 1 AS DOUBLE) / CAST(t.n_old + {PSI_BINS} AS DOUBLE)
           AS p_o,
         CAST(d.c_new + 1 AS DOUBLE) / CAST(t.n_new + {PSI_BINS} AS DOUBLE)
           AS p_n
  FROM dense d, tot t
),
terms AS (
  SELECT bin, c_old, c_new, p_o, p_n,
         CAST(floor((p_n - p_o) * ln(p_n / p_o) * 1000000000 + 1e-6)
              AS BIGINT) AS term_q
  FROM scored
),
psi AS (SELECT CAST(sum(term_q) AS BIGINT) AS psi_q FROM terms)
SELECT t.bin, t.c_old, t.c_new,
       CAST(floor(t.p_o * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS p_old,
       CAST(floor(t.p_n * 1000000 + 1e-6) / 1000000 AS DOUBLE) AS p_new,
       CAST(floor(CAST(t.term_q AS DOUBLE) / 1e9 * 1000000 + 1e-6)
            / 1000000 AS DOUBLE) AS psi_term,
       CAST(floor(CAST(p.psi_q AS DOUBLE) / 1e9 * 1000000 + 1e-6)
            / 1000000 AS DOUBLE) AS psi_total
FROM terms t, psi p
ORDER BY bin
"""


PSI_QUALITY_SQL = _psi_sql()
