"""The flagship extraction pipeline: interleaved spans → ordered elements.

Scale design (this is the 100 TB shape, not just the local[32] shape):

* Extraction is per-document and stateless across documents, so the
  plan is **map-only with zero shuffle**: one ``mapInArrow`` over the
  ``(doc_id, spans)`` rows emits the flat element rows directly. 1000
  executors scan their Iceberg/parquet splits and write — no exchange
  anywhere in the plan, and no nested struct-array construction +
  posexplode round trip (measured ~2× faster than the nested variant
  at local[32]).
* Mega-documents take the same pass. The scan already holds a
  mega-doc's whole ``spans`` array as one row in one task, and Spark
  bounds each Arrow batch sent to Python by rows
  (``arrow.maxRecordsPerBatch``, see ``session.py``) and by bytes
  (``arrow.maxBytesPerBatch``). An explode → shuffle → regroup by
  ``doc_id`` would gather the doc back into one Python worker, so it
  would buy no memory bound and cost a per-span shuffle.
* Files (CLI ``convert``) skip the ``(doc_id, spans)`` stage:
  :func:`extract_files` is one ``binaryFile`` scan feeding one
  ``mapInArrow`` pass that decodes and extracts each file once. The
  scan is coalesced to one task per core, so the pass runs in one
  wave and writes one part file per core. A task in a reused Python
  worker costs about 2 ms of worker CPU outside the UDF, against
  about 1 ms of extraction per small file. It was 0.13 s while
  Spark's per-task ``importlib.invalidate_caches()`` re-read every
  zipimporter's archive (``zipgate`` now skips unchanged archives),
  and 0.02–0.04 s while the daemon's full ``gc.collect()`` after each task
  walked the worker's long-lived heap (``gcfreeze`` now freezes it).
* All tokenize/classify work happens inside Arrow batches — the plan
  contains only ``MapInArrow``/``ArrowEvalPython`` nodes, never
  row-at-a-time ``BatchEvalPython`` (north-rule "zero per-row Python"
  requirement).

Reference lifecycle being re-expressed: cli.py convert →
process_pdf → extract_from_markdown token walk
(markdown_extractor.py:312-625) → table merge
(improved_table_merger.py:187-254) → ordered JSON sink (SURVEY.md §3.1).
"""

from __future__ import annotations

import gc
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from ..docmodel import extract_document, extract_document_rows
from ..schema import ELEMENT_COLUMNS, FLAT_SCHEMA, OUT_SPAN_STRUCT
from ..sources import SpansFn, binary_files, doc_id_from

OUT_SPANS_TYPE = ArrayType(OUT_SPAN_STRUCT)


# ---------------------------------------------------------------------------
# flat path (performance path): mapInArrow emitting element rows
# ---------------------------------------------------------------------------


def _flat_record_batch(docs, merge_strategy: str, schema):
    """The one Arrow element emitter: ``docs`` yields (doc_id, kinds,
    texts, media_refs, offsets) per document; each runs through
    ``extract_document_rows``, and the batch's element rows are
    transposed once with ``zip(*rows)`` into the FLAT_SCHEMA columns of
    one ``RecordBatch``.

    The batch is built with the cyclic GC paused. It allocates tens of
    thousands of short-lived row lists and iterators, each of which
    counts toward a collection that could free nothing, because the
    kernel and the span decoders make no reference cycles
    (tests/test_extract_spark.py pins that). Those objects are all freed
    when :func:`_element_batch` returns, before the previous GC state
    is restored, so no collection walks them afterwards either; and
    the pause ends before this function returns or raises, so it never
    spans the caller's ``yield``.
    """
    gc_was_enabled = gc.isenabled()
    gc.disable()
    try:
        return _element_batch(docs, merge_strategy, schema)
    finally:
        if gc_was_enabled:
            gc.enable()


def _element_batch(docs, merge_strategy: str, schema):
    import pyarrow as pa

    ids: list = []
    rows: list = []
    for did, kinds, texts, refs, offs in docs:
        els = extract_document_rows(kinds, texts, refs, offs, merge_strategy)
        ids += [did] * len(els)
        rows += els
    cols = zip(*rows) if rows else [()] * len(ELEMENT_COLUMNS)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(col, type=schema.field(j).type)
            for j, col in enumerate((ids, *cols))
        ],
        schema=schema,
    )


def _pylist(arr) -> list:
    """Arrow array → Python list through Arrow's C conversion
    (``to_numpy(zero_copy_only=False).tolist()``), without boxing every
    element through a pyarrow scalar first.

    Strings come back as ``str``/``None`` and null-free integers as
    ``int``. ``to_numpy`` would turn an integer array with nulls into
    floats and NaN, so that one case takes the per-scalar conversion
    and its ``None`` reaches ``docmodel``, which owns the null-offset
    → 0 rule.
    """
    import pyarrow as pa

    if arr.null_count and pa.types.is_integer(arr.type):
        return arr.to_pylist()
    return arr.to_numpy(zero_copy_only=False).tolist()


def _flat_arrow_batches(merge_strategy: str):
    """mapInArrow kernel over (doc_id, spans) batches: columnar span
    access — no per-span dicts, no pandas round trip.

    Ingest contract: each span field is converted once per batch with
    :func:`_pylist` over the whole ``spans.values`` child, and each doc
    takes the ``[offsets[i], offsets[i+1])`` slice of those lists. The
    list offsets are absolute into ``.values`` even when the batch is a
    slice of a larger array, so a sliced batch needs no re-basing. A
    null ``spans`` has equal offsets and reads as no spans. Null
    ``offset`` values stay ``None`` (the integer-null rule of
    :func:`_pylist`) for ``extract_document_rows`` to treat as 0.
    """

    def gen(batches):
        import pyarrow as pa

        schema = _arrow_flat_schema()
        for batch in batches:
            doc_ids = _pylist(batch.column(0))
            spans = batch.column(1)
            if isinstance(spans, pa.ChunkedArray):
                spans = spans.combine_chunks()
            # .values + absolute .offsets stay consistent even if the
            # batch array is a slice (flatten() would re-base values)
            flat = spans.values
            kinds = _pylist(flat.field("kind"))
            texts = _pylist(flat.field("text"))
            refs = _pylist(flat.field("media_ref"))
            offs = _pylist(flat.field("offset"))
            lo = spans.offsets.to_numpy().tolist()
            docs = (
                (did, kinds[s:e], texts[s:e], refs[s:e], offs[s:e])
                for did, s, e in zip(doc_ids, lo, lo[1:])
            )
            yield _flat_record_batch(docs, merge_strategy, schema)

    return gen


def _arrow_flat_schema():
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(FLAT_SCHEMA)


def _span_cols(doc_id: str, spans: list):
    """Span dicts → the (doc_id, kinds, texts, media_refs, offsets)
    tuple :func:`_flat_record_batch` consumes."""
    return (
        doc_id,
        [s["kind"] for s in spans],
        [s["text"] for s in spans],
        [s["media_ref"] for s in spans],
        [s["offset"] for s in spans],
    )


def extract_elements(
    docs: DataFrame,
    merge_strategy: str = "default",
    mega_span_threshold: int | None = None,
) -> DataFrame:
    """docs(doc_id, spans) → one row per extracted element (flat).

    The offset column is the within-document element order (the
    north-rule equality order). One map-only ``mapInArrow`` pass for
    every document, batch or streaming. ``mega_span_threshold`` is
    ignored; it is accepted only for callers that still pass it.
    """
    return docs.select("doc_id", "spans").mapInArrow(
        _flat_arrow_batches(merge_strategy), schema=FLAT_SCHEMA
    )


# ---------------------------------------------------------------------------
# file path (CLI convert): one binaryFile scan → one mapInArrow pass
# ---------------------------------------------------------------------------


def _file_arrow_batches(root: str, to_spans: SpansFn, merge_strategy: str):
    def gen(batches):
        schema = _arrow_flat_schema()
        for batch in batches:
            paths = _pylist(batch.column(0))
            contents = batch.column(1)
            # one file's bytes in Python at a time, not the whole batch's
            docs = (
                _span_cols(doc_id_from(p, root), to_spans(contents[i].as_py()))
                for i, p in enumerate(paths)
            )
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
    and then ``extract_document_rows``. Each file is read and decoded
    once, with no exchange and no nested array in between. The scan
    has at most one partition per core (``sources.binary_files``), so
    the pass runs in one wave of Python tasks and writes one part file
    per core; each task pays the fixed per-task worker cost (about
    2 ms of CPU in a reused worker, see ``zipgate`` and ``gcfreeze``)
    once. Count the rows with an ``Observation`` on the write (as
    ``convert`` does), not by reading the output back.
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


def extract_spans(docs: DataFrame, merge_strategy: str = "default") -> DataFrame:
    """docs(doc_id, spans) → (doc_id, out_spans), one row per document.

    Doc-level view for consumers that want the whole ordered sequence
    as one value (golden-fixture comparison, JSON-sink parity with the
    reference's per-doc output). The flat path is the throughput path.
    """
    udf = make_extract_udf(merge_strategy)
    return docs.select("doc_id", udf(F.col("spans")).alias("out_spans"))


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
