"""The flagship extraction pipeline: interleaved spans → ordered elements.

Scale design (this is the 100 TB shape, not just the local[32] shape):

* Extraction is per-document and stateless across documents, so the
  main path is **map-only with zero shuffle**: an Arrow-batched
  ``mapInPandas`` over the ``spans`` array column that emits the flat
  element rows directly. 1000 executors scan their Iceberg/parquet
  splits and write — no exchange anywhere in the plan, and no nested
  struct-array construction + posexplode round trip (measured ~2×
  faster than the nested variant at local[32]).
* Skewed **mega-documents** (span count ≥ ``mega_span_threshold``) are
  the one hazard: a handful of 1000×-median rows inside a batch blow up
  Python-worker memory and straggle a partition. They are split out by
  a cheap native ``size(spans)`` predicate (pushed into the scan),
  exploded to one-row-per-span, shuffled by ``doc_id`` (this salt-like
  explode spreads the *bytes* of the skewed minority across the
  cluster), and re-assembled per doc in ``applyInPandas``. Only the
  skewed tail pays a shuffle (SURVEY.md §4 custom-work items 1-3).
* Files (CLI ``convert``) skip the ``(doc_id, spans)`` stage:
  :func:`extract_files` is one ``binaryFile`` scan feeding one
  ``mapInArrow`` pass that decodes and extracts each file once.
* All tokenize/classify work happens inside Arrow batches — the plan
  contains only ``MapInArrow``/``MapInPandas``/``ArrowEvalPython``/
  ``FlatMapGroupsInPandas`` nodes, never row-at-a-time
  ``BatchEvalPython`` (north-rule "zero per-row Python" requirement).

Reference lifecycle being re-expressed: cli.py convert →
process_pdf → extract_from_markdown token walk
(markdown_extractor.py:312-625) → table merge
(improved_table_merger.py:187-254) → ordered JSON sink (SURVEY.md §3.1).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from ..docmodel import extract_document, extract_document_cols
from ..schema import ELEMENT_COLUMNS, EXTRACTED_SCHEMA, FLAT_SCHEMA, OUT_SPAN_STRUCT
from ..sources import SpansFn, binary_files, doc_id_from

OUT_SPANS_TYPE = ArrayType(OUT_SPAN_STRUCT)


# ---------------------------------------------------------------------------
# flat path (performance path): mapInArrow emitting element rows
# ---------------------------------------------------------------------------


def _flat_record_batch(docs, merge_strategy: str, schema):
    """The one Arrow element emitter: ``docs`` yields (doc_id, kinds,
    texts, media_refs, offsets) per document; each runs through
    ``extract_document_cols`` and the elements land as one
    FLAT_SCHEMA ``RecordBatch``."""
    import pyarrow as pa

    all_cols = ("doc_id", *ELEMENT_COLUMNS)
    out: dict = {c: [] for c in all_cols}
    id_col = out["doc_id"]
    el_cols = [(c, out[c]) for c in ELEMENT_COLUMNS]
    for did, kinds, texts, refs, offs in docs:
        els = extract_document_cols(kinds, texts, refs, offs, merge_strategy)
        id_col.extend([did] * len(els))
        for c, col in el_cols:
            col.extend([el[c] for el in els])
    return pa.RecordBatch.from_arrays(
        [pa.array(out[c], type=schema.field(j).type) for j, c in enumerate(all_cols)],
        schema=schema,
    )


def _flat_arrow_batches(merge_strategy: str):
    """mapInArrow kernel: columnar span access — no per-span dicts, no
    pandas round trip. ~25-40% less conversion overhead than the
    mapInPandas variant on this corpus (kept below for the streaming
    path, where mapInArrow is equivalent but pandas is fine)."""

    def gen(batches):
        import pyarrow as pa

        schema = _arrow_flat_schema()
        for batch in batches:
            doc_ids = batch.column(0).to_pylist()
            spans = batch.column(1)
            if isinstance(spans, pa.ChunkedArray):
                spans = spans.combine_chunks()
            # .values + absolute .offsets stay consistent even if the
            # batch array is a slice (flatten() would re-base values)
            flat = spans.values
            kinds = flat.field("kind").to_pylist()
            texts = flat.field("text").to_pylist()
            refs = flat.field("media_ref").to_pylist()
            offs = flat.field("offset").to_pylist()
            lo = spans.offsets.to_pylist()
            docs = (
                (did, kinds[s:e], texts[s:e], refs[s:e], offs[s:e])
                for did, s, e in zip(doc_ids, lo, lo[1:])
            )
            yield _flat_record_batch(docs, merge_strategy, schema)

    return gen


def _arrow_flat_schema():
    import pyarrow as pa

    return pa.schema(
        [
            pa.field("doc_id", pa.string()),
            pa.field("kind", pa.string()),
            pa.field("text", pa.string()),
            pa.field("media_ref", pa.string()),
            pa.field("offset", pa.int32()),
            pa.field("page", pa.int32()),
            pa.field("level", pa.int32()),
            pa.field("token_count", pa.int32()),
            pa.field("section_path", pa.list_(pa.string())),
            pa.field("section_id", pa.string()),
            pa.field("table_headers", pa.list_(pa.string())),
            pa.field("table_rows", pa.list_(pa.list_(pa.string()))),
            pa.field("is_multi_page", pa.bool_()),
            pa.field("page_range", pa.string()),
            pa.field("code_language", pa.string()),
            pa.field(
                "code_functions",
                pa.list_(
                    pa.struct(
                        [
                            pa.field("name", pa.string()),
                            pa.field("params", pa.list_(pa.string())),
                        ]
                    )
                ),
            ),
        ]
    )


def _flat_batches(merge_strategy: str):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict = {c: [] for c in ("doc_id", *ELEMENT_COLUMNS)}
            for did, spans in zip(pdf["doc_id"], pdf["spans"]):
                span_list = [] if spans is None else list(spans)
                for el in extract_document(span_list, merge_strategy):
                    out["doc_id"].append(did)
                    for c in ELEMENT_COLUMNS:
                        out[c].append(el[c])
            if not out["doc_id"]:
                # a batch whose docs all extract to nothing: pandas
                # types the empty list columns float64 and Arrow cannot
                # cast empty float64 → list<string> — yield nothing
                continue
            yield pd.DataFrame(out)

    return gen


def extract_elements(
    docs: DataFrame,
    merge_strategy: str = "default",
    mega_span_threshold: int = 5_000,
) -> DataFrame:
    """docs(doc_id, spans) → one row per extracted element (flat).

    The offset column is the within-document element order (the
    north-rule equality order). Map-only for ordinary docs; mega-docs
    take the explode/shuffle skew path.
    """
    n_spans = F.size("spans")
    small = docs.filter(n_spans < mega_span_threshold)
    small_out = small.select("doc_id", "spans").mapInArrow(
        _flat_arrow_batches(merge_strategy), schema=FLAT_SCHEMA
    )
    mega = docs.filter(n_spans >= mega_span_threshold)
    mega_out = _extract_mega_flat(mega, merge_strategy)
    return small_out.unionByName(mega_out)


def _extract_mega_flat(mega: DataFrame, merge_strategy: str) -> DataFrame:
    """Skew path: explode → shuffle by doc_id → reassemble per group.

    Exploding turns one multi-MB row into thousands of small rows, so
    the shuffle write of a mega-doc is spread over many map tasks and
    AQE's skew handling sees ordinary-sized blocks. ``applyInPandas``
    receives the whole document group and runs the same state machine,
    emitting flat element rows.
    """

    def run_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # null offsets arrive as NaN in pandas; docmodel's `or 0` guard
        # doesn't catch NaN (truthy) and NaN sort order is unstable —
        # map them to 0 up front, matching the flat path's null handling
        pdf = pdf.assign(offset=pdf["offset"].fillna(0).astype("int64"))
        pdf = pdf.sort_values("offset", kind="mergesort")
        spans = pdf[["kind", "text", "media_ref", "offset"]].to_dict("records")
        els = extract_document(spans, merge_strategy)
        out: dict = {c: [e[c] for e in els] for c in ELEMENT_COLUMNS}
        return pd.DataFrame({"doc_id": [pdf["doc_id"].iloc[0]] * len(els), **out})

    exploded = mega.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
    )
    return exploded.groupBy("doc_id").applyInPandas(run_group, schema=FLAT_SCHEMA)


# ---------------------------------------------------------------------------
# file path (CLI convert): one binaryFile scan → one mapInArrow pass
# ---------------------------------------------------------------------------


def _file_arrow_batches(root: str, to_spans: SpansFn, merge_strategy: str):
    def span_cols(path: str, payload: bytes):
        spans = to_spans(payload)
        return (
            doc_id_from(path, root),
            [s["kind"] for s in spans],
            [s["text"] for s in spans],
            [s["media_ref"] for s in spans],
            [s["offset"] for s in spans],
        )

    def gen(batches):
        schema = _arrow_flat_schema()
        for batch in batches:
            paths = batch.column(0).to_pylist()
            contents = batch.column(1)
            # one file's bytes in Python at a time, not the whole batch's
            docs = (span_cols(p, contents[i].as_py()) for i, p in enumerate(paths))
            yield _flat_record_batch(docs, merge_strategy, schema)

    return gen


def extract_files(
    spark: SparkSession,
    path: str,
    glob: str,
    to_spans: SpansFn,
    merge_strategy: str = "default",
) -> DataFrame:
    """Directory of files → one row per extracted element (flat), in
    one pass: a single ``binaryFile`` scan feeds a single
    ``mapInArrow`` generator that runs, per file, ``to_spans`` (bytes
    → spans: ``sources.text_to_spans`` or ``sources.pdf_to_spans``)
    and then ``extract_document_cols``. Each file is read and decoded
    once, with no exchange and no nested array in between.

    There is no mega-doc branch here: ``binaryFile`` holds a whole file
    in one row, and its spans exist only once it is decoded inside one
    Python worker, so an explode/shuffle afterwards saves no memory.
    """
    files = binary_files(spark, path, glob).select("path", "content")
    return files.mapInArrow(
        _file_arrow_batches(path, to_spans, merge_strategy), schema=FLAT_SCHEMA
    )


def nested_from_flat(flat: DataFrame, doc_ids: DataFrame) -> DataFrame:
    """Flat element rows → (doc_id, out_spans): the doc-level shape of
    :func:`extract_spans`, each document's elements in offset order.
    ``doc_ids`` lists every document, so one that extracted to nothing
    keeps its row with ``out_spans = []``."""
    keyed = F.struct(F.col("offset").alias("k"), F.struct(*ELEMENT_COLUMNS).alias("el"))
    grouped = flat.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(keyed)).alias("els")
    )
    out_spans = F.transform("els", lambda x: x["el"])
    return doc_ids.join(grouped, "doc_id", "left").select(
        "doc_id",
        F.coalesce(out_spans, F.array().cast(OUT_SPANS_TYPE)).alias("out_spans"),
    )


# ---------------------------------------------------------------------------
# nested path (doc-level API): (doc_id, out_spans) per document
# ---------------------------------------------------------------------------


def make_extract_udf(merge_strategy: str = "default"):
    @F.pandas_udf(OUT_SPANS_TYPE)
    def extract_udf(spans_col: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for series in spans_col:
            yield series.map(
                lambda spans: extract_document(
                    [] if spans is None else list(spans), merge_strategy
                )
            )

    return extract_udf


def extract_spans(
    docs: DataFrame,
    merge_strategy: str = "default",
    mega_span_threshold: int = 5_000,
) -> DataFrame:
    """docs(doc_id, spans) → (doc_id, out_spans), one row per document.

    Doc-level view for consumers that want the whole ordered sequence
    as one value (golden-fixture comparison, JSON-sink parity with the
    reference's per-doc output). The flat path is the throughput path.
    """
    udf = make_extract_udf(merge_strategy)
    n_spans = F.size("spans")

    small = docs.filter(n_spans < mega_span_threshold)
    small_out = small.select("doc_id", udf(F.col("spans")).alias("out_spans"))

    mega = docs.filter(n_spans >= mega_span_threshold)
    mega_out = _extract_mega_nested(mega, merge_strategy)
    return small_out.unionByName(mega_out)


def _extract_mega_nested(mega: DataFrame, merge_strategy: str) -> DataFrame:
    def run_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # null offsets arrive as NaN in pandas; docmodel's `or 0` guard
        # doesn't catch NaN (truthy) and NaN sort order is unstable —
        # map them to 0 up front, matching the flat path's null handling
        pdf = pdf.assign(offset=pdf["offset"].fillna(0).astype("int64"))
        pdf = pdf.sort_values("offset", kind="mergesort")
        spans = pdf[["kind", "text", "media_ref", "offset"]].to_dict("records")
        out = extract_document(spans, merge_strategy)
        return pd.DataFrame({"doc_id": [pdf["doc_id"].iloc[0]], "out_spans": [out]})

    exploded = mega.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
    )
    return exploded.groupBy("doc_id").applyInPandas(run_group, schema=EXTRACTED_SCHEMA)


def extracted_flat(extracted: DataFrame) -> DataFrame:
    """(doc_id, out_spans) → one row per element, inline columns.

    ``posexplode_outer`` + a null filter rather than ``posexplode``:
    for the plain generator Catalyst infers a ``size(out_spans) > 0``
    filter and pushes it below the projection, which evaluates an
    ``out_spans`` UDF twice (once for the filter, once for the rows).
    """
    return (
        extracted.select("doc_id", F.posexplode_outer("out_spans").alias("pos", "el"))
        .where(F.col("pos").isNotNull())
        .select("doc_id", *[F.col(f"el.{c}").alias(c) for c in ELEMENT_COLUMNS])
    )
