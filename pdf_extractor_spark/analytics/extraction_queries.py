"""Driver-facing extraction queries (rows-only checks).

The full span-extraction state machine is not ANSI-SQL-expressible
(stateful markdown walk + multi-page table merge), so these entries
carry no DuckDB oracle — the driver records the weaker rows-only
check. Exactness is instead enforced by the unit suite
(tests/test_extract_spark.py) which compares the Spark pipeline
against the pure-Python oracle (docmodel.extract_document) on the
north-rule equality tuple (kind, text, media_ref, order).

The corpus is synthesized deterministically from the ``documents``
table's doc_ids (mapInPandas, executor-side — the driver never holds
it), so row counts scale with sf and are stable across runs.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus import make_doc_spans
from ..operators.extract import extract_elements
from ..schema import DOCS_SCHEMA
from .base import load


def spans_corpus_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.doc_id → deterministic interleaved span corpus."""
    from ..session import ensure_pyfiles

    ensure_pyfiles(spark)  # driver-owned sessions lack our package zip
    # the documents table is a single parquet file → repartition the id
    # list so corpus synthesis and extraction parallelize across cores
    n_parts = spark.sparkContext.defaultParallelism * 2
    ids = load(spark, sf_dir, "documents").select("doc_id").repartition(n_parts)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ints = pdf["doc_id"].astype("int64").tolist()
            yield pd.DataFrame(
                {
                    "doc_id": [f"doc-{i:07d}" for i in ints],
                    "spans": [make_doc_spans(i, mega_every=50, mega_factor=20) for i in ints],
                }
            )

    return ids.mapInPandas(gen, schema=DOCS_SCHEMA)


def fused_extracted_flat(
    spark: SparkSession,
    sf_dir: str,
    merge_strategy: str = "default",
) -> DataFrame:
    """Synthesis + extraction FUSED into one Arrow pass (R5 flagship
    increment): the span lists are born and consumed inside the same
    Python generator, so they never cross the Python↔JVM boundary —
    which is exactly the production plan's shape (Iceberg scan →
    mapInArrow extract = ONE crossing). The unfused two-stage path
    paid that struct-list Arrow conversion twice per span purely as a
    sandbox artifact of staging the synthetic corpus; profiling put
    the double conversion at ~2× the state-machine kernel itself.

    Every doc, mega-ids included, goes through the shared emitter
    ``operators.extract._flat_record_batch`` (so through
    ``docmodel.extract_document_rows``, the single semantic source) —
    pinned by tests/test_extract_fused.py full-row equality vs the
    unfused pipeline."""
    from ..schema import FLAT_SCHEMA
    from ..session import ensure_pyfiles

    ensure_pyfiles(spark)
    # one task per core: the flagship wall at bench scale is dominated
    # by per-task fixed costs, and the id synthesis makes every task
    # equal-sized by construction — 2x tasks measured ~40% slower
    n_parts = spark.sparkContext.defaultParallelism
    ids = load(spark, sf_dir, "documents").select("doc_id").repartition(n_parts)

    def gen(batches):
        # mapInArrow with direct RecordBatch construction — pandas
        # would re-infer the nested list/struct columns per batch
        # (section_path, table_rows, code_functions), which measured
        # SLOWER than the two-stage pipeline it replaces
        from ..operators.extract import (
            _arrow_flat_schema,
            _flat_record_batch,
            _pylist,
            _span_cols,
        )

        schema = _arrow_flat_schema()
        for batch in batches:
            docs = (
                _span_cols(
                    f"doc-{i:07d}", make_doc_spans(i, mega_every=50, mega_factor=20)
                )
                for i in _pylist(batch.column(0))
            )
            yield _flat_record_batch(docs, merge_strategy, schema)

    return ids.mapInArrow(gen, schema=FLAT_SCHEMA)


def extract_elements_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full extraction pipeline → exploded element view
    (fused synthesis+extraction — one Python crossing, the production
    scan→extract shape)."""
    flat = fused_extracted_flat(spark, sf_dir)
    return flat.select(
        "doc_id", "offset", "kind", "media_ref", "page", "section_id"
    )


def extract_kind_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — element-type histogram over the extracted corpus."""
    flat = fused_extracted_flat(spark, sf_dir)
    return flat.groupBy("kind").agg(F.count("*").alias("n"))


def merged_tables_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5/J2/J3 — native windowed multi-page table merge (chain
    semantics) over the pre-merge extracted corpus."""
    from ..operators.table_merge import merge_tables_native

    corpus = spans_corpus_from_documents(spark, sf_dir)
    flat = extract_elements(corpus, merge_strategy="none")
    merged = merge_tables_native(flat)
    return merged.select(
        "doc_id",
        "first_offset",
        "first_page",
        "last_page",
        "is_multi_page",
        "page_range",
        F.size("table_rows").alias("n_rows"),
    )


def table_region_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/S10 — ruling-line/whitespace table-region detection over
    synthesized monospace page grids (every third doc lattice-ruled,
    every third whitespace-aligned, rest prose)."""
    from pyspark.sql import functions as F2

    from ..operators.table_detect import detect_regions_df
    from ..session import ensure_pyfiles

    ensure_pyfiles(spark)

    docs = load(spark, sf_dir, "documents")
    w0 = F2.split(F2.col("text"), r"\s+")
    # try_element_at, not element_at: ANSI mode (Spark 4 default) makes
    # out-of-bounds element_at THROW, so the coalesce fallback never
    # engaged on docs with fewer tokens than the grid needs (empty /
    # single-token docs crash the whole job — adversarial-sweep find)
    cell = lambda i: F2.coalesce(  # noqa: E731
        F2.try_element_at(w0, F2.lit(i)), F2.lit("x")
    )
    lattice = F2.concat_ws(
        "\n",
        F2.lit("| A | B |"),
        F2.lit("|---|---|"),
        F2.concat(F2.lit("| "), cell(1), F2.lit(" | "), cell(2), F2.lit(" |")),
    )
    stream = F2.concat_ws(
        "\n",
        F2.lit("colA      colB"),
        F2.concat(F2.rpad(cell(1), 10, " "), cell(2)),
        F2.concat(F2.rpad(cell(3), 10, " "), cell(4)),
    )
    page_text = (
        F2.when(F2.col("doc_id") % 3 == 0, lattice)
        .when(F2.col("doc_id") % 3 == 1, stream)
        .otherwise(F2.col("text"))
    )
    pages = docs.select(
        F2.col("doc_id").cast("string").alias("doc_id"),
        F2.lit(1).alias("page"),
        page_text.alias("page_text"),
    )
    return detect_regions_df(pages)


def sections_native_annotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2 native — running page + section-hierarchy forward-fill as
    pure window functions over the exploded span corpus."""
    from ..operators.sections import annotate_spans_native

    corpus = spans_corpus_from_documents(spark, sf_dir)
    ann = annotate_spans_native(corpus)
    return ann.select(
        "doc_id", "offset", "kind", "page",
        F.concat_ws(" / ", "section_path").alias("section"),
    )


def table_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/P2 — table confidence metrics + accept gate over the
    extracted corpus (pure Catalyst expressions)."""
    from ..operators.quality import with_table_quality

    corpus = spans_corpus_from_documents(spark, sf_dir)
    flat = extract_elements(corpus)
    return with_table_quality(flat)


def search_extracted_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3(b) full lifecycle — extract, then BM25-search the extracted
    text elements (the reference's search layer runs over extracted
    docs in ArangoDB; here it is a DataFrame pipeline over the
    extraction output)."""
    corpus = spans_corpus_from_documents(spark, sf_dir)
    flat = extract_elements(corpus)
    text_docs = (
        flat.filter(F.col("kind").isin("text", "heading"))
        .groupBy("doc_id")
        .agg(
            # collect_list order is partitioning-dependent: sort by the
            # element offset before concatenation for determinism
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("offset", "text"))),
                    lambda s: s["text"],
                ),
            ).alias("text")
        )
    )
    from .textstats import bm25_scores

    return (
        bm25_scores(text_docs)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )


def ocr_extract_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 — OCR-kind spans get deterministic cleanup (de-hyphenation,
    ligature fold, line-break join — textproc.ocr_normalize) instead of
    raw passthrough, then ride the ordinary text path.

    The OCR-ish input is synthesized JVM-side from documents.text:
    hyphenate the first word across a line break, break another line
    mid-paragraph, and append ligature + curly-quote artifacts — the
    three artifact classes the normalizer repairs.
    """
    docs = load(spark, sf_dir, "documents")
    mangled = F.concat(
        F.regexp_replace(F.col("text"), r"^(\w+) (\w)", "$1-\n$2"),
        F.lit("\nthe ﬁnal “scan”"),
    )
    spans = F.array(
        F.struct(
            F.lit("ocr").alias("kind"),
            mangled.alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(0).alias("offset"),
        )
    )
    ocr_docs = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), spans.alias("spans")
    )
    flat = extract_elements(ocr_docs)
    return flat.select("doc_id", "kind", "text")


def code_metadata_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-element metadata (tree-sitter stand-in; codemeta.py).

    Runs the REAL pipeline (span corpus → extraction → code elements)
    and projects the code_metadata contract of
    markdown_extractor.py:627-636: language, length, function name +
    parameter names. Oracle-backed (unlike the other extraction
    entries): code spans are synthesized from pure integer arithmetic
    on doc_id, so DuckDB can regenerate the code text with
    generate_series and re-derive the metadata with regexps —
    an independent cross-engine check of the extraction kernel's
    code path end to end.

    Scale shape: the projection rides the map-only extraction plan —
    no extra shuffle, no UDF beyond the existing Arrow kernel.
    """
    corpus = spans_corpus_from_documents(spark, sf_dir)
    flat = extract_elements(corpus)
    code = flat.filter(F.col("kind") == "code")
    first_fn = F.element_at("code_functions", 1)
    return code.select(
        "doc_id",
        F.col("code_language").alias("language"),
        F.length("text").cast("int").alias("code_len"),
        F.size("code_functions").cast("int").alias("n_functions"),
        first_fn["name"].alias("fn_name"),
        F.array_join(first_fn["params"], ",").alias("params_csv"),
    )


# DuckDB twin: re-synthesize the deterministic code spans (corpus.py
# make_doc_spans — variant (i+s)%5==3 emits
# "def handler_{s}(x):\n    return x * {s+1}\n"; extraction strips the
# trailing newline) and re-derive every metadata field with regexps,
# independently of the Python kernel.
CODE_METADATA_SQL = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
secs AS (
  SELECT i, u.s
  FROM ids,
       unnest(generate_series(
         0,
         (3 + i % 3) * (CASE WHEN i % 50 = 49 THEN 20 ELSE 1 END) - 1
       )) AS u(s)
),
code AS (
  SELECT printf('doc-%07d', i) AS doc_id,
         'def handler_' || s || '(x):' || chr(10)
           || '    return x * ' || (s + 1) AS code_text
  FROM secs WHERE (i + s) % 5 = 3
)
SELECT doc_id,
       CASE WHEN regexp_matches(code_text, 'def [A-Za-z_]\\w*\\s*\\(')
            THEN 'python' ELSE 'text' END AS language,
       CAST(length(code_text) AS INT) AS code_len,
       CAST(len(regexp_extract_all(code_text, 'def ([A-Za-z_]\\w*)\\s*\\(', 1))
            AS INT) AS n_functions,
       regexp_extract(code_text, 'def ([A-Za-z_]\\w*)\\s*\\(', 1) AS fn_name,
       trim(regexp_extract(code_text, 'def [A-Za-z_]\\w*\\s*\\(([^)]*)\\)', 1))
         AS params_csv
FROM code
"""
