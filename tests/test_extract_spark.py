"""Spark pipeline ↔ pure-Python oracle equality + plan-shape checks."""

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.corpus import corpus_rows
from pdf_extractor_spark.docmodel import extract_document
from pdf_extractor_spark.operators.extract import (
    extract_elements,
    extract_spans,
    extracted_flat,
)
from pdf_extractor_spark.schema import DOCS_SCHEMA


def tuples(elements):
    return [(e["kind"], e["text"], e["media_ref"], e["offset"]) for e in elements]


@pytest.fixture(scope="module")
def small_corpus(spark):
    rows = corpus_rows(12, mega_every=6, mega_factor=8)
    return rows, spark.createDataFrame(rows, schema=DOCS_SCHEMA)


def test_span_sequence_equality(spark, small_corpus):
    """North rule: exact (kind, text, media_ref, order) equality per doc,
    ordinary and mega-docs alike."""
    rows, df = small_corpus
    ext = extract_spans(df)
    got = {r["doc_id"]: r for r in ext.collect()}
    assert len(got) == len(rows)
    for row in rows:
        expect = tuples(extract_document(row["spans"]))
        actual = tuples(
            [s.asDict(recursive=True) for s in got[row["doc_id"]]["out_spans"]]
        )
        assert actual == expect, f"span mismatch for {row['doc_id']}"


def test_flat_view_order_and_metadata(spark, small_corpus):
    rows, df = small_corpus
    flat = extracted_flat(extract_spans(df))
    one = (
        flat.filter(F.col("doc_id") == rows[0]["doc_id"])
        .orderBy("offset")
        .collect()
    )
    expect = extract_document(rows[0]["spans"])
    assert [r["kind"] for r in one] == [e["kind"] for e in expect]
    assert [r["page"] for r in one] == [e["page"] for e in expect]
    assert [r["section_id"] for r in one] == [e["section_id"] for e in expect]


def test_plan_is_arrow_only(spark, small_corpus):
    """Zero per-row Python: the plan must use Arrow-vectorized eval
    (ArrowEvalPython), never BatchEvalPython."""
    _, df = small_corpus
    plan = extract_spans(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan or "EvalPython" not in plan


def test_scalar_path_has_no_shuffle(spark, small_corpus):
    """The nested path must be map-only: no Exchange in the plan."""
    _, df = small_corpus
    plan = extract_spans(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_flat_path_matches_oracle(spark, small_corpus):
    """The direct-to-flat performance path produces the identical
    (kind, text, media_ref, order) sequences as the pure-Python oracle,
    ordinary and mega-docs alike."""
    rows, df = small_corpus
    flat = extract_elements(df)
    got: dict = {}
    for r in flat.collect():
        got.setdefault(r["doc_id"], []).append(r)
    assert len(got) == len(rows)
    for row in rows:
        expect = tuples(extract_document(row["spans"]))
        actual = [
            (r["kind"], r["text"], r["media_ref"], r["offset"])
            for r in sorted(got[row["doc_id"]], key=lambda r: r["offset"])
        ]
        assert actual == expect, f"flat-path mismatch for {row['doc_id']}"


def test_flat_path_matches_nested_path(spark, small_corpus):
    _, df = small_corpus
    a = extract_elements(df)
    b = extracted_flat(extract_spans(df))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_flat_plan_is_map_only_and_arrow(spark, small_corpus):
    """Flat path, mega-docs included: no Exchange (map-only), no
    BatchEvalPython."""
    _, df = small_corpus
    plan = extract_elements(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan


def test_mega_doc_tied_and_null_offsets_match_oracle(spark):
    """One doc of 20k+ spans of every input kind, shuffled, with runs of
    tied offsets and some null ones — the one place order is easy to
    lose. Ties keep their input order and null sorts as 0 (docmodel's
    stable sort); the flat and the nested path both match the oracle."""
    import random

    from pdf_extractor_spark.corpus import make_doc_spans

    spans = make_doc_spans(3, mega_every=1, mega_factor=1000)
    random.Random(7).shuffle(spans)
    spans = [
        {**sp, "offset": None if i % 97 == 0 else sp["offset"] // 4}
        for i, sp in enumerate(spans)
    ]
    assert len(spans) >= 20_000
    assert len({sp["kind"] for sp in spans}) >= 6
    df = spark.createDataFrame([{"doc_id": "mega", "spans": spans}], schema=DOCS_SCHEMA)
    expect = tuples(extract_document(spans))

    flat = extract_elements(df).orderBy("offset").collect()
    assert [(r["kind"], r["text"], r["media_ref"], r["offset"]) for r in flat] == expect
    (nested,) = extract_spans(df).collect()
    assert tuples([e.asDict() for e in nested["out_spans"]]) == expect


def _ingest_edge_docs():
    """Docs for the generator's ingest edge cases: null and empty
    ``spans``, null kind/text/media_ref, null and tied offsets, and
    non-ASCII and astral-plane text."""
    from pdf_extractor_spark.corpus import make_doc_spans

    def sp(kind, text, ref, off):
        return {"kind": kind, "text": text, "media_ref": ref, "offset": off}

    odd = [
        sp("heading", "# Größe — 𝔘𝔫𝔦𝔠𝔬𝔡𝔢", "", 4),
        sp("text", "naïve café 😀 text", None, 2),
        sp(None, "kindless", "", 2),
        sp("text", None, "", None),
        sp("image", "", "img/ü.png", 2),
        sp("table", "| a | 😀 |", None, 7),
        sp("table", "|---|---|", "", None),
        sp("table", "| 1 | 𝔘 |", "", 7),
        sp("text", "line after ties", "", 1),
    ]
    return [
        {"doc_id": "plain", "spans": make_doc_spans(1, mega_every=0, mega_factor=1)},
        {"doc_id": "null-spans", "spans": None},
        {"doc_id": "odd", "spans": odd},
        {"doc_id": "empty", "spans": []},
        {"doc_id": "all-null-offsets", "spans": [{**s, "offset": None} for s in odd]},
        {"doc_id": "ünï-😀", "spans": make_doc_spans(2, mega_every=0, mega_factor=1)},
        {"doc_id": "tail", "spans": [sp("text", "last", "", 0)]},
    ]


@pytest.mark.parametrize("chunk", [None, 2])
def test_flat_generator_ingest_matches_oracle(chunk):
    """_flat_arrow_batches on a fresh batch and on sliced batches
    (Table.to_batches(max_chunksize=...): each batch's ``spans`` is a
    slice, so ``.values`` is the whole child buffer and the list
    offsets are absolute). Every doc's rows equal extract_document."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from pdf_extractor_spark.operators.extract import _flat_arrow_batches
    from pdf_extractor_spark.schema import ELEMENT_COLUMNS

    docs = _ingest_edge_docs()
    table = pa.Table.from_pylist(docs, schema=to_arrow_schema(DOCS_SCHEMA))
    if chunk is None:
        batches = [table.combine_chunks().to_batches()[0]]
    else:
        batches = table.to_batches(max_chunksize=chunk)
        assert any(b.column(1).offset > 0 for b in batches)
    got: dict = {}
    for out in _flat_arrow_batches("default")(iter(batches)):
        for row in out.to_pylist():
            got.setdefault(row.pop("doc_id"), []).append(row)
    for doc in docs:
        expect = extract_document(doc["spans"] or [])
        expect = [{c: el[c] for c in ELEMENT_COLUMNS} for el in expect]
        assert got.get(doc["doc_id"], []) == expect, doc["doc_id"]
        assert all(type(r["offset"]) is int for r in got.get(doc["doc_id"], []))


def _docs_batch(docs):
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(docs, schema=to_arrow_schema(DOCS_SCHEMA))
    return table.combine_chunks().to_batches()[0]


def _files_batch(files):
    """(name, bytes) pairs → a binaryFile-shaped (path, content) batch
    under the root ``/in``."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [
            pa.array([f"file:/in/{name}" for name, _ in files]),
            pa.array([data for _, data in files], type=pa.binary()),
        ],
        names=["path", "content"],
    )


def _gc_probe_batches():
    """Flat and file generator input batches covering every kernel
    branch: the golden docs, the ingest edge docs plus html/ocr/code
    spans, markdown (one latin-1, one blank) and PDF files."""
    import json
    import os

    from test_pdf_and_detect import MD_PAGE1, MD_PAGE2, make_pdf

    with open(os.path.join(os.path.dirname(__file__), "fixtures", "golden_docs.json")) as f:
        golden = [{"doc_id": k, "spans": v["spans"]} for k, v in json.load(f).items()]
    mixed = [
        {"kind": k, "text": t, "media_ref": "", "offset": i}
        for i, (k, t) in enumerate([
            ("html", "<nav>menu</nav><p>Kept &amp; cleaned.</p>"),
            ("ocr", "hyphen-\nated ﬁre"),
            ("ocr", " \n "),
            ("code", "```python\ndef f(a, b):\n    return a\n```"),
            ("image", "![alt](img/x.png)"),
        ])
    ]
    docs = golden + _ingest_edge_docs() + [{"doc_id": "mixed", "spans": mixed}]
    md = "\n".join(["# Title", "para", "| A | B |", "|---|---|", "| 1 | 2 |", "", "tail"])
    md_files = [("a.md", md.encode()), ("latin.md", "# Café\nnaïve".encode("latin-1")),
                ("blank.md", b"")]
    pdf_files = [("p.pdf", make_pdf([MD_PAGE1, MD_PAGE2]))]
    return _docs_batch(docs), _files_batch(md_files), _files_batch(pdf_files)


def _run_generators(docs, md_files, pdf_files):
    from pdf_extractor_spark.operators.extract import (
        _file_arrow_batches,
        _flat_arrow_batches,
    )
    from pdf_extractor_spark.sources import pdf_to_spans, text_to_spans

    out = list(_flat_arrow_batches("default")(iter([docs])))
    out += _file_arrow_batches("/in", text_to_spans, "default")(iter([md_files]))
    out += _file_arrow_batches("/in", pdf_to_spans, "default")(iter([pdf_files]))
    return out


def test_generators_make_no_reference_cycles():
    """The emitter pauses the cyclic GC for its batch loop; that is safe
    only while the kernel, the span decoders and the emitter free every
    object by reference count. Under DEBUG_SAVEALL any cycle they left
    would be found by the collection and kept in gc.garbage."""
    import gc

    inputs = _gc_probe_batches()
    out = _run_generators(*inputs)  # warm imports and caches first
    assert sum(b.num_rows for b in out) > 0
    gc.collect()
    gc.set_debug(gc.DEBUG_SAVEALL)
    try:
        out = _run_generators(*inputs)
        found = gc.collect()
        garbage = list(gc.garbage)
    finally:
        gc.set_debug(0)
        gc.garbage.clear()
    assert sum(b.num_rows for b in out) > 0
    assert found == 0
    assert garbage == []


@pytest.mark.parametrize("enabled", [True, False])
def test_gc_pause_restores_previous_state(enabled):
    """The GC is paused while a batch is built and restored to its
    previous state after a normal pass, after a ``to_spans`` that raises
    mid-batch, and when the generator is closed early; the pause is
    never held across a ``yield``."""
    import gc

    from pdf_extractor_spark.operators.extract import (
        _file_arrow_batches,
        _flat_arrow_batches,
    )
    from pdf_extractor_spark.sources import text_to_spans

    docs = _ingest_edge_docs()
    was = gc.isenabled()
    (gc.enable if enabled else gc.disable)()
    try:
        list(_flat_arrow_batches("default")(iter([_docs_batch(docs)])))
        assert gc.isenabled() is enabled

        seen = []

        def to_spans(payload):
            seen.append(gc.isenabled())
            if payload == b"boom":
                raise ValueError("undecodable")
            return text_to_spans(payload)

        files = _files_batch([("a.md", b"# A\ntext"), ("b.md", b"boom"), ("c.md", b"c")])
        with pytest.raises(ValueError, match="undecodable"):
            list(_file_arrow_batches("/in", to_spans, "default")(iter([files])))
        assert seen == [False, False]
        assert gc.isenabled() is enabled

        gen = _flat_arrow_batches("default")(iter([_docs_batch(docs)] * 2))
        next(gen)
        assert gc.isenabled() is enabled
        gen.close()
        assert gc.isenabled() is enabled
    finally:
        (gc.enable if was else gc.disable)()


def test_batch_of_empty_docs_yields_zero_row_batch():
    """Every doc extracts to nothing: null spans, empty spans and only
    blank text still give one 0-row FLAT_SCHEMA batch."""
    from pdf_extractor_spark.operators.extract import (
        _arrow_flat_schema,
        _flat_arrow_batches,
    )

    blank = [{"kind": "text", "text": t, "media_ref": "", "offset": i}
             for i, t in enumerate(["", "  ", "\n"])]
    docs = [
        {"doc_id": "null", "spans": None},
        {"doc_id": "empty", "spans": []},
        {"doc_id": "blank", "spans": blank},
    ]
    (out,) = _flat_arrow_batches("default")(iter([_docs_batch(docs)]))
    assert out.num_rows == 0
    assert out.schema.equals(_arrow_flat_schema())


def test_deterministic_across_runs(spark, small_corpus):
    rows, df = small_corpus
    a = extract_spans(df).orderBy("doc_id").collect()
    b = extract_spans(df).orderBy("doc_id").collect()
    assert a == b


def test_nested_flat_view_evaluates_udf_once(spark):
    """extracted_flat over the nested adapter evaluates the extract UDF
    in one place. With a plain posexplode, Catalyst infers a
    size(out_spans) > 0 filter and pushes it below the projection, so
    the UDF ran once for the filter and again for the rows. An empty
    and a blank doc are included: both extract to no rows either way."""
    blank = [{"kind": "text", "text": "  ", "media_ref": "", "offset": 0}]
    rows = corpus_rows(50, mega_every=6, mega_factor=8) + [
        {"doc_id": "empty", "spans": []},
        {"doc_id": "blank", "spans": blank},
    ]
    df = spark.createDataFrame(rows, schema=DOCS_SCHEMA)
    flat = extracted_flat(extract_spans(df))
    plan = flat._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython [") == 1, plan
    expect = extract_elements(df)
    assert sorted(map(tuple, flat.collect())) == sorted(map(tuple, expect.collect()))


def test_worker_import_gates_zip_invalidation(spark, tmp_path):
    """In a Python worker, importing the package installs the stat-gated
    zip invalidation, so Spark's per-task ``importlib.invalidate_caches()``
    re-reads no archive directory (pyspark.zip, py4j, the package zip).
    The driver keeps the stdlib method, also after a ``convert``, and
    freezes nothing (the worker-only ``gcfreeze`` hook)."""
    import gc
    import sys
    import zipimport

    from pdf_extractor_spark.__main__ import main

    def probe(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        import pdf_extractor_spark  # noqa: F401

        reads = []
        stdlib_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return stdlib_read(path)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stdlib_read
        for _ in batches:
            pass
        gate = zipimport.zipimporter.invalidate_caches.__module__
        yield pa.RecordBatch.from_pydict({"reads": [len(reads)], "gate": [gate]})

    (row,) = spark.range(1, numPartitions=1).mapInArrow(
        probe, "reads long, gate string"
    ).collect()
    assert row["reads"] == 0
    if sys.version_info < (3, 13):  # 3.13+ re-reads lazily; no gate
        assert row["gate"] == "pdf_extractor_spark.zipgate"

    src = tmp_path / "docs"
    src.mkdir()
    (src / "a.md").write_text("# Title\n\nBody.\n")
    assert main(["convert", "--input", str(src), "--output", str(tmp_path / "out")]) == 0
    method = zipimport.zipimporter.invalidate_caches
    assert (method.__module__, method.__qualname__) == (
        "zipimport", "zipimporter.invalidate_caches"
    )
    assert gc.get_freeze_count() == 0


def test_worker_freezes_heap_after_first_collect(spark):
    """A Python worker freezes what survives its first full collection
    (the daemon's ``gc.collect()`` after its first task), so that
    per-task collection walks only objects made since: fewer than 5,000
    tracked objects in the worker's second task, where about 73,600 were
    walked without the freeze. Nothing is frozen at package import. A
    cycle made after the freeze is still collected before the worker's
    next task. A distinct worker environment gives the probe a worker
    pool of its own, so its first task is a fresh worker's first task."""

    def probe(batches):
        import gc
        import os
        import sys
        import weakref

        import pyarrow as pa

        import pdf_extractor_spark.operators.extract  # noqa: F401

        for _ in batches:
            pass
        prev = getattr(sys, "_gcfreeze_probe_ref", None)
        tracked = len(gc.get_objects())

        class Cycle:
            pass

        cycle = Cycle()
        cycle.self = cycle
        sys._gcfreeze_probe_ref = weakref.ref(cycle)
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "tracked": [tracked],
            "frozen": [gc.get_freeze_count()],
            "prev_alive": [None if prev is None else prev() is not None],
        })

    env = spark.sparkContext.environment
    env["PDF_EXTRACTOR_SPARK_TEST_POOL"] = "gcfreeze"
    try:
        df = spark.range(1, numPartitions=1).mapInArrow(
            probe, "pid long, tracked long, frozen long, prev_alive boolean"
        )
        first, second, third = (df.collect()[0] for _ in range(3))
    finally:
        del env["PDF_EXTRACTOR_SPARK_TEST_POOL"]
    assert first["pid"] == second["pid"] == third["pid"]
    assert first["frozen"] == 0 and first["prev_alive"] is None
    assert second["frozen"] > 0 and second["tracked"] < 5_000, second
    assert third["prev_alive"] is False and third["tracked"] < 5_000, third
