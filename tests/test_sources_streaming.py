"""Sources/sinks (S4-S7, S13) + streaming exactly-once ingestion."""

import json
import os

from pdf_extractor_spark.corpus import corpus_rows
from pdf_extractor_spark.docmodel import extract_document
from pdf_extractor_spark.schema import DOCS_SCHEMA
from pdf_extractor_spark.sources import (
    decode_with_fallback,
    lines_to_spans,
    read_docs_json,
    read_text_docs,
    write_docs_json,
)
from pdf_extractor_spark.streaming import read_stream_output, stream_extract

MD = """# 1.2. Title here

First paragraph line one.
line two.

| A | B |
|---|---|
| 1 | 2 |

![fig](img.png)

```python
x = 1
```
<!-- page: 2 -->
<div>html line</div>
tail text.
"""


def test_lines_to_spans_classification():
    spans = lines_to_spans(MD)
    kinds = [s["kind"] for s in spans]
    assert kinds.count("heading") == 1
    assert kinds.count("table_row") == 3
    assert kinds.count("image") == 1
    assert kinds.count("code") == 1
    assert kinds.count("page_marker") == 1
    assert kinds.count("html") == 1
    assert [s["offset"] for s in spans] == list(range(len(spans)))
    img = next(s for s in spans if s["kind"] == "image")
    assert img["media_ref"] == "img.png"
    code = next(s for s in spans if s["kind"] == "code")
    assert code["text"] == "x = 1"


def test_decode_fallback():
    assert decode_with_fallback("héllo".encode("utf-8")) == "héllo"
    assert decode_with_fallback("héllo".encode("latin-1")) == "héllo"


def test_text_glob_source_end_to_end(spark, tmp_path):
    sub = tmp_path / "a" / "b"
    sub.mkdir(parents=True)
    (tmp_path / "doc1.md").write_text(MD)
    (sub / "doc2.md").write_text("# Only heading\n\nbody.")
    (tmp_path / "ignored.txt").write_text("not matched")
    docs = read_text_docs(spark, str(tmp_path), glob="*.md", recursive=True)
    got = {r["doc_id"]: r["spans"] for r in docs.collect()}
    assert set(got) == {"doc1.md", "a/b/doc2.md"}
    # pipeline-compatible: extraction over the loaded spans works
    els = extract_document([s.asDict() for s in got["doc1.md"]])
    assert [e["kind"] for e in els] == [
        "heading", "text", "table", "image", "code", "text", "text",
    ]


def test_json_roundtrip(spark, tmp_path):
    rows = corpus_rows(4)
    df = spark.createDataFrame(rows, schema=DOCS_SCHEMA)
    path = str(tmp_path / "docs_json")
    write_docs_json(df, path)
    back = read_docs_json(spark, path)
    a = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in df.collect()}
    b = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in back.collect()}
    assert a == b
    # sink lines are self-describing JSON docs (S13 contract)
    line = json.loads(
        next(
            open(os.path.join(path, f)).readline()
            for f in os.listdir(path)
            if f.endswith(".txt") or f.startswith("part-")
        )
    )
    assert {"doc_id", "spans"} <= set(line)


def test_streaming_exactly_once(spark, tmp_path):
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    os.makedirs(inp)
    rows = corpus_rows(6)
    df1 = spark.createDataFrame(rows[:3], schema=DOCS_SCHEMA)
    df1.write.mode("append").parquet(inp)
    stream_extract(spark, inp, out, ckpt)
    n1 = read_stream_output(spark, out).count()
    expect1 = sum(len(extract_document(r["spans"])) for r in rows[:3])
    assert n1 == expect1

    # second wave: only the new files are processed (checkpoint resume)
    df2 = spark.createDataFrame(rows[3:], schema=DOCS_SCHEMA)
    df2.write.mode("append").parquet(inp)
    stream_extract(spark, inp, out, ckpt)
    n2 = read_stream_output(spark, out).count()
    expect_all = sum(len(extract_document(r["spans"])) for r in rows)
    assert n2 == expect_all  # no reprocessing, no loss

    # re-running with nothing new is a no-op
    stream_extract(spark, inp, out, ckpt)
    assert read_stream_output(spark, out).count() == expect_all


def test_streaming_windowed_agg_with_watermark(spark, tmp_path):
    """Event-time tumbling windows + watermark over the events table:
    finalized windows match the batch groupBy, late state evicted."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.streaming import stream_windowed_event_counts

    inp, out, ckpt = (str(tmp_path / d) for d in ("ein", "eout", "eckpt"))
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    os.makedirs(inp)
    src.write.mode("append").parquet(inp)
    stream_windowed_event_counts(spark, inp, out, ckpt)
    # second drain with no new data: nothing new emitted (checkpoint)
    stream_windowed_event_counts(spark, inp, out, ckpt)
    got = spark.read.parquet(out)

    batch = (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    # append mode only emits windows the watermark has passed; every
    # emitted window must match the batch result exactly
    emitted = {
        (r["window_start"], r["event_type"]): r["n"] for r in got.collect()
    }
    expect = {
        (r["window_start"], r["event_type"]): r["n"] for r in batch.collect()
    }
    assert emitted, "no windows finalized — watermark too large for fixture"
    for k, n in emitted.items():
        assert expect[k] == n


def test_stateful_sessionize_across_waves(spark, tmp_path):
    """applyInPandasWithState: open sessions survive micro-batch waves
    in the state store; a gap closes and emits exactly one session."""
    import datetime as dt

    from pdf_extractor_spark.streaming import stream_sessionize_stateful

    inp, out, ckpt = (str(tmp_path / d) for d in ("sin", "sout", "sckpt"))
    os.makedirs(inp)
    t0 = dt.datetime(2026, 1, 1, 8, 0, 0)

    def ev(eid, user, minutes):
        return (eid, t0 + dt.timedelta(minutes=minutes), user)

    # wave 1: user 1 has events at 0,10 min; user 2 at 0 min
    w1 = spark.createDataFrame(
        [ev(1, 1, 0), ev(2, 1, 10), ev(3, 2, 0)],
        "event_id long, ts timestamp, user_id long",
    )
    w1.write.mode("append").parquet(inp)
    stream_sessionize_stateful(spark, inp, out, ckpt, gap_s=1800)
    # nothing closed yet → no output files (or empty)
    try:
        n_closed = spark.read.parquet(out).count()
    except Exception:
        n_closed = 0
    assert n_closed == 0

    # wave 2: user 1 returns 2h later (closes session 1), user 2 +10min
    w2 = spark.createDataFrame(
        [ev(4, 1, 130), ev(5, 2, 10)],
        "event_id long, ts timestamp, user_id long",
    )
    w2.write.mode("append").parquet(inp)
    stream_sessionize_stateful(spark, inp, out, ckpt, gap_s=1800)
    closed = spark.read.parquet(out).collect()
    assert len(closed) == 1
    s = closed[0]
    assert s["user_id"] == 1 and s["n_events"] == 2
    assert s["session_end"] - s["session_start"] == 600  # 0→10 min


def test_doc_id_uses_relative_path_no_collision(spark, tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    (tmp_path / "a" / "intro.md").write_text("# A intro\n\nalpha.")
    (tmp_path / "b" / "intro.md").write_text("# B intro\n\nbeta.")
    docs = read_text_docs(spark, str(tmp_path), glob="*.md", recursive=True)
    ids = {r["doc_id"] for r in docs.collect()}
    assert ids == {"a/intro.md", "b/intro.md"}


def test_stateful_sessionize_drops_cross_batch_late_events(spark, tmp_path):
    import datetime as dt

    from pdf_extractor_spark.streaming import stream_sessionize_stateful

    inp, out, ckpt = (str(tmp_path / d) for d in ("lin", "lout", "lckpt"))
    os.makedirs(inp)
    t0 = dt.datetime(2026, 1, 1, 8, 0, 0)

    def ev(eid, minutes):
        return (eid, t0 + dt.timedelta(minutes=minutes), 1)

    spark.createDataFrame(
        [ev(1, 60)], "event_id long, ts timestamp, user_id long"
    ).write.mode("append").parquet(inp)
    stream_sessionize_stateful(spark, inp, out, ckpt, gap_s=1800)
    # wave 2: a LATE event (t=0) plus a far-future event that closes
    # the session; the late event must not regress last_ts
    spark.createDataFrame(
        [ev(2, 0), ev(3, 600)], "event_id long, ts timestamp, user_id long"
    ).write.mode("append").parquet(inp)
    stream_sessionize_stateful(spark, inp, out, ckpt, gap_s=1800)
    closed = spark.read.parquet(out).collect()
    assert len(closed) == 1
    s = closed[0]
    assert s["session_end"] >= s["session_start"]
    assert s["n_events"] == 1  # late event dropped, not folded in


def test_label_studio_task_sink_shape(spark, tmp_path):
    """S17: every extracted table becomes one task with the reference's
    data/meta shape (api.py:190-249)."""
    import json as _json

    from pdf_extractor_spark.corpus import corpus_df
    from pdf_extractor_spark.operators.extract import extract_elements
    from pdf_extractor_spark.sources import label_studio_tasks, write_label_studio_tasks

    docs = corpus_df(spark, 30, partitions=2)
    flat = extract_elements(docs)
    n_tables = flat.filter(flat.kind == "table").count()
    assert n_tables > 0

    out = str(tmp_path / "ls_tasks")
    write_label_studio_tasks(flat, out)
    lines = []
    import glob as _glob
    for f in _glob.glob(out + "/part-*"):
        with open(f) as fh:
            lines += [ln for ln in fh.read().splitlines() if ln]
    assert len(lines) == n_tables
    task = _json.loads(lines[0])
    assert set(task) == {"data", "meta"}
    assert set(task["data"]) == {
        "pdf_id", "page", "pdf_page_url", "table_id", "source", "table_data",
    }
    assert set(task["data"]["table_data"]) == {"headers", "rows"}
    assert task["data"]["pdf_page_url"].endswith(f"#page={task['data']['page']}")
    assert set(task["meta"]) == {"pdf_id", "table_id", "page"}
    assert task["meta"]["table_id"] == task["data"]["table_id"]
    # plan stays JVM-side: no Python eval in the sink path
    plan = label_studio_tasks(flat)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_stream_extract_merge_replaces_redelivered_docs(spark, tmp_path):
    """CDC path: a re-delivered (edited) document's elements REPLACE the
    previous version in the lineage store — no duplicate keys."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.corpus import corpus_rows
    from pdf_extractor_spark.lineage import read_output, run_with_lineage
    from pdf_extractor_spark.schema import DOCS_SCHEMA
    from pdf_extractor_spark.streaming import stream_extract_merge

    store = str(tmp_path / "store")
    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")

    rows = corpus_rows(12)
    base = spark.createDataFrame(rows, schema=DOCS_SCHEMA)
    run_with_lineage(spark, base, store, n_buckets=4, run_id="seed")
    before = read_output(spark, store)
    n_before = before.count()
    target_doc = rows[0]["doc_id"]
    target_before = before.filter(F.col("doc_id") == target_doc).count()

    # re-deliver doc 0 with edited content: same heading, one text span
    edited = [{
        "doc_id": target_doc,
        "spans": [
            {"kind": "heading", "text": "# Edited", "media_ref": "", "offset": 0},
            {"kind": "text", "text": "edited body", "media_ref": "", "offset": 1},
        ],
    }]
    spark.createDataFrame(edited, schema=DOCS_SCHEMA).write.mode("append").parquet(inbox)
    stream_extract_merge(spark, inbox, store, ckpt)

    after = read_output(spark, store)
    got = after.filter(F.col("doc_id") == target_doc).orderBy("offset").collect()
    # replaced at matching keys AND the stale tail (old offsets past the
    # new doc's length) was deleted: exactly the new extraction remains
    assert len(got) == 2, [r["offset"] for r in got]
    assert got[0]["kind"] == "heading" and got[0]["text"] == "Edited"
    assert got[1]["kind"] == "text" and got[1]["text"] == "edited body"
    # no duplicate (doc_id, offset) keys anywhere
    dupes = (
        after.groupBy("doc_id", "offset").count().filter(F.col("count") > 1).count()
    )
    assert dupes == 0
    # other documents untouched
    assert after.filter(F.col("doc_id") != target_doc).count() == n_before - target_before

    # replay: a second availableNow run consumes nothing new -> no change
    stream_extract_merge(spark, inbox, store, ckpt)
    assert read_output(spark, store).count() == after.count()


def test_stream_merge_same_batch_double_delivery_keeps_latest(spark, tmp_path):
    """Two versions of one doc in a single micro-batch: only the newest
    file's version lands (no mixed-version or duplicate keys)."""
    import time as _time

    from pyspark.sql import functions as F

    from pdf_extractor_spark.corpus import corpus_rows
    from pdf_extractor_spark.lineage import read_output, run_with_lineage
    from pdf_extractor_spark.schema import DOCS_SCHEMA
    from pdf_extractor_spark.streaming import stream_extract_merge

    store = str(tmp_path / "store")
    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")
    base = spark.createDataFrame(corpus_rows(8), schema=DOCS_SCHEMA)
    run_with_lineage(spark, base, store, n_buckets=2, run_id="seed")

    doc = corpus_rows(8)[0]["doc_id"]

    def deliver(text):
        spark.createDataFrame(
            [{"doc_id": doc, "spans": [
                {"kind": "text", "text": text, "media_ref": "", "offset": 0}]}],
            schema=DOCS_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(inbox)

    deliver("version one")
    _time.sleep(1.1)  # distinct file modification times
    deliver("version two")
    stream_extract_merge(spark, inbox, store, ckpt)

    after = read_output(spark, store)
    got = after.filter(F.col("doc_id") == doc).collect()
    assert len(got) == 1
    assert got[0]["text"] == "version two"
    dupes = after.groupBy("doc_id", "offset").count().filter(F.col("count") > 1).count()
    assert dupes == 0


def test_stream_merge_empty_redelivery_removes_all_elements(spark, tmp_path):
    """A document re-delivered with spans that extract to NOTHING must
    end with zero elements in the store (replace semantics, not skip)."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.corpus import corpus_rows
    from pdf_extractor_spark.lineage import read_output, run_with_lineage
    from pdf_extractor_spark.schema import DOCS_SCHEMA
    from pdf_extractor_spark.streaming import stream_extract_merge

    store = str(tmp_path / "store")
    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")
    base = spark.createDataFrame(corpus_rows(8), schema=DOCS_SCHEMA)
    run_with_lineage(spark, base, store, n_buckets=2, run_id="seed")
    before = read_output(spark, store)
    n_before = before.count()
    doc = corpus_rows(8)[0]["doc_id"]
    n_doc = before.filter(F.col("doc_id") == doc).count()
    assert n_doc > 0

    # blank-only spans extract to zero elements
    spark.createDataFrame(
        [{"doc_id": doc, "spans": [
            {"kind": "text", "text": "   ", "media_ref": "", "offset": 0}]}],
        schema=DOCS_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(inbox)
    stream_extract_merge(spark, inbox, store, ckpt)

    after = read_output(spark, store)
    assert after.filter(F.col("doc_id") == doc).count() == 0
    assert after.count() == n_before - n_doc


def test_stream_extract_and_merge_take_large_doc_inline(spark, tmp_path):
    """A wave holding a doc of thousands of spans runs through the same
    map-only kernel as every other doc, in both streaming faces: the
    append sink (stream_extract) and the keyed-store CDC merge
    (stream_extract_merge). Each result equals the oracle per doc."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.corpus import make_doc_spans
    from pdf_extractor_spark.lineage import read_output, run_with_lineage
    from pdf_extractor_spark.streaming import stream_extract_merge

    rows = corpus_rows(4)
    big = make_doc_spans(5, mega_every=1, mega_factor=100)
    assert len(big) >= 2000
    wave = rows[1:] + [{"doc_id": rows[0]["doc_id"], "spans": big}]

    def elements(df, doc_id):
        got = df.filter(F.col("doc_id") == doc_id).orderBy("offset").collect()
        return [(r["kind"], r["text"], r["media_ref"], r["offset"]) for r in got]

    def check(df):
        for row in wave:
            want = extract_document(row["spans"])
            assert elements(df, row["doc_id"]) == [
                (e["kind"], e["text"], e["media_ref"], e["offset"]) for e in want
            ], row["doc_id"]

    inbox = str(tmp_path / "inbox")
    spark.createDataFrame(wave, schema=DOCS_SCHEMA).coalesce(1).write.parquet(inbox)

    out = str(tmp_path / "out")
    stream_extract(spark, inbox, out, str(tmp_path / "ckpt"))
    flat = read_stream_output(spark, out)
    check(flat)
    assert flat.count() == sum(len(extract_document(r["spans"])) for r in wave)

    # the store starts from the small version of the big doc; the wave
    # replaces it
    store = str(tmp_path / "store")
    base = spark.createDataFrame(rows, schema=DOCS_SCHEMA)
    run_with_lineage(spark, base, store, n_buckets=2, run_id="seed")
    stream_extract_merge(spark, inbox, store, str(tmp_path / "ckpt_merge"))
    check(read_output(spark, store))


def test_stream_dedup_exact_drops_content_duplicates(spark, tmp_path):
    """§2.9 addition: only the FIRST arrival of each document content
    passes, across micro-batches (state in the checkpointed store),
    keyed on content fingerprint — a different doc_id carrying
    identical spans is still a duplicate."""
    import time as _time

    from pyspark.sql import functions as F

    from pdf_extractor_spark.schema import DOCS_SCHEMA
    from pdf_extractor_spark.streaming import stream_dedup_exact

    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def doc(doc_id, text):
        return {"doc_id": doc_id, "spans": [
            {"kind": "text", "text": text, "media_ref": "", "offset": 0}]}

    spark.createDataFrame([doc("a", "alpha"), doc("b", "beta")],
                          schema=DOCS_SCHEMA).coalesce(1).write.mode("append").parquet(inbox)
    stream_dedup_exact(spark, inbox, out, ckpt)
    _time.sleep(1.1)
    # wave 2: same content under a NEW id + genuinely new content
    spark.createDataFrame([doc("a2", "alpha"), doc("c", "gamma")],
                          schema=DOCS_SCHEMA).coalesce(1).write.mode("append").parquet(inbox)
    stream_dedup_exact(spark, inbox, out, ckpt)

    got = spark.read.parquet(out).select("doc_id").collect()
    ids = sorted(r["doc_id"] for r in got)
    assert ids == ["a", "b", "c"], ids  # a2 (duplicate content) dropped

    # replay: nothing new -> no change
    stream_dedup_exact(spark, inbox, out, ckpt)
    assert spark.read.parquet(out).count() == 3


def test_stream_quality_gate_matches_batch_rules(spark, tmp_path):
    """The ingestion gate's verdicts equal the BATCH Gopher kernel +
    bloom decontamination on the same docs (shared kernel, no fork);
    output is partitioned by verdict; re-delivering an already-
    processed wave appends nothing (checkpoint idempotence)."""
    import os

    from pdf_extractor_spark.analytics.curation import (
        DECON_BENCH_MAX_ID,
        bloom_bench_bits,
        bloom_decontaminate,
    )
    from pdf_extractor_spark.analytics.quality_rules import (
        gopher_quality_filter,
    )
    from pdf_extractor_spark.streaming import stream_quality_gate

    sf_dir = "/root/testdata/sf0.001"
    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bits = bloom_bench_bits(spark, sf_dir)

    # wave 1: first half; wave 2: rest
    docs.where("doc_id < 250").write.mode("append").parquet(inbox)
    stream_quality_gate(spark, inbox, out, ckpt, bench_bits=bits)
    docs.where("doc_id >= 250").write.mode("append").parquet(inbox)
    stream_quality_gate(spark, inbox, out, ckpt, bench_bits=bits)

    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert len(got) == docs.count()

    rules = {r["doc_id"]: r for r in gopher_quality_filter(spark, sf_dir).collect()}
    flagged = {
        r["doc_id"]: r["flagged"]
        for r in bloom_decontaminate(spark, sf_dir).collect()
    }
    verdicts = set()
    for did, row in got.items():
        want_rule = rules[did]["fail_rule"]
        if want_rule != "pass":
            assert row["verdict"] == want_rule
        elif did >= DECON_BENCH_MAX_ID:
            # batch op only scores corpus docs; bench docs trivially
            # self-contaminate in the gate (their grams built the bits)
            want = "contaminated" if flagged[did] else "pass"
            assert row["verdict"] == want
        assert row["n_words"] == rules[did]["n_words"]
        verdicts.add(row["verdict"])
    # at sf0.001 density the 4096-bit bloom saturates (~0.46 FP/gram),
    # so every rule-passing doc reads contaminated — consistent with
    # the batch op's flagged column (asserted above); the pass path is
    # checked below with the gate run bits-free
    assert len(verdicts) >= 2
    # physical layout: hive-partitioned by verdict
    parts = {d for d in os.listdir(out) if d.startswith("verdict=")}
    assert {f"verdict={v}" for v in verdicts} <= parts

    out2 = str(tmp_path / "out2")
    ckpt2 = str(tmp_path / "ckpt2")
    stream_quality_gate(spark, inbox, out2, ckpt2)  # no bitset
    got2 = {r["doc_id"]: r for r in spark.read.parquet(out2).collect()}
    for did, row in got2.items():
        assert not row["contaminated"]
        assert row["verdict"] == rules[did]["fail_rule"]
    assert any(r["verdict"] == "pass" for r in got2.values())

    # re-deliver wave 2 files by re-running with nothing new: no growth
    n_before = spark.read.parquet(out).count()
    stream_quality_gate(spark, inbox, out, ckpt, bench_bits=bits)
    assert spark.read.parquet(out).count() == n_before


def test_stream_stream_corrections_join(spark, tmp_path):
    """Watermarked stream-stream inner join on (doc_id, offset):
    corrections match elements within the window — including a
    correction arriving in a LATER wave than its element (state kept
    via checkpoint) — and unmatched corrections emit nothing."""
    from pdf_extractor_spark.schema import FLAT_SCHEMA
    from pdf_extractor_spark.streaming import (
        CORR_SCHEMA,
        stream_corrections_join,
    )

    els_dir = str(tmp_path / "els")
    corr_dir = str(tmp_path / "corr")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def el(doc_id, offset, text):
        return {
            "doc_id": doc_id, "kind": "text", "text": text,
            "media_ref": None, "offset": offset, "page": None,
            "level": None, "token_count": 1, "section_path": None,
            "section_id": None, "table_headers": None, "table_rows": None,
            "is_multi_page": False, "page_range": None,
        }

    spark.createDataFrame(
        [el("a", 0, "orig-a0"), el("a", 1, "orig-a1"), el("b", 0, "orig-b0")],
        schema=FLAT_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(els_dir)
    spark.createDataFrame(
        [("a", 0, "fixed-a0"), ("zz", 9, "never-matches")],
        schema=CORR_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(corr_dir)
    stream_corrections_join(spark, els_dir, corr_dir, out, ckpt)
    got = {
        (r["doc_id"], r["offset"]): r["corrected_text"]
        for r in spark.read.parquet(out).collect()
    }
    assert got == {("a", 0): "fixed-a0"}

    # wave 2: correction for an element seen in wave 1 (cross-wave
    # match through checkpointed join state) + a fresh matched pair
    spark.createDataFrame(
        [el("c", 0, "orig-c0")], schema=FLAT_SCHEMA
    ).coalesce(1).write.mode("append").parquet(els_dir)
    spark.createDataFrame(
        [("a", 1, "fixed-a1"), ("c", 0, "fixed-c0")], schema=CORR_SCHEMA
    ).coalesce(1).write.mode("append").parquet(corr_dir)
    stream_corrections_join(spark, els_dir, corr_dir, out, ckpt)
    got = {
        (r["doc_id"], r["offset"]): r["corrected_text"]
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        ("a", 0): "fixed-a0",
        ("a", 1): "fixed-a1",
        ("c", 0): "fixed-c0",
    }
    for r in spark.read.parquet(out).collect():
        assert r["text"].startswith("orig-")  # original rides along
