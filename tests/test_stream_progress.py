"""Conversion progress events — the /stream/convert SSE stand-in
(api.py:459-499): start → per-doc cumulative progress → complete per
wave, exactly-once under checkpoint replay."""

import os

SF = "/root/testdata/sf0.001"


def _inbox_docs(spark, lo, hi):
    from pyspark.sql import functions as F

    from pdf_extractor_spark.corpus import corpus_df

    return corpus_df(spark, hi, partitions=4).filter(
        F.regexp_replace("doc_id", "doc-", "").cast("long") >= lo
    )


def test_progress_event_sequence(spark, tmp_path):
    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators.extract import extract_elements
    from pdf_extractor_spark.streaming import (
        read_progress_events,
        stream_convert_progress,
    )

    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "flat")
    events = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    docs = _inbox_docs(spark, 0, 12)
    docs.write.mode("overwrite").parquet(inbox)

    stream_convert_progress(spark, inbox, out, events, ckpt)
    ev = read_progress_events(spark, events).collect()

    # one wave: start, one progress per doc, complete — in seq order
    assert [r["event"] for r in ev] == (
        ["start"] + ["progress"] * 12 + ["complete"]
    )
    assert ev[0]["message"].startswith("Starting conversion wave b0 (12 docs)")
    # cumulative counts reproduce the batch extraction exactly
    expect = {
        r["doc_id"]: r["n"]
        for r in extract_elements(docs.select("doc_id", "spans"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    total = sum(expect.values())
    running = 0
    for r in ev[1:-1]:
        running += expect[r["doc_id"]]
        assert r["elements_extracted"] == running
        assert r["total_elements"] == total
    assert ev[-1]["elements_extracted"] == total
    assert ev[-1]["message"] == "Conversion complete"
    # the elements themselves landed in the epoch-keyed sink
    n_flat = spark.read.parquet(f"{out}/batch=b0").count()
    assert n_flat == total


def test_progress_replay_idempotent(spark, tmp_path):
    """A re-run with an intact checkpoint drains nothing and changes
    no event; a second wave appends its own epoch dir only."""
    from pdf_extractor_spark.streaming import (
        read_progress_events,
        stream_convert_progress,
    )

    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "flat")
    events = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    _inbox_docs(spark, 0, 6).write.mode("overwrite").parquet(inbox)

    stream_convert_progress(spark, inbox, out, events, ckpt)
    first = [tuple(r) for r in read_progress_events(spark, events).collect()]

    # replay with nothing new: no event changes, no new epoch dirs
    stream_convert_progress(spark, inbox, out, events, ckpt)
    again = [tuple(r) for r in read_progress_events(spark, events).collect()]
    assert again == first
    assert sorted(os.listdir(events)) == ["batch=b0"]

    # second wave: its own epoch dir, earlier events untouched
    _inbox_docs(spark, 6, 9).write.mode("append").parquet(inbox)
    stream_convert_progress(spark, inbox, out, events, ckpt)
    ev = read_progress_events(spark, events).collect()
    assert sorted(os.listdir(events)) == ["batch=b0", "batch=b1"]
    assert [tuple(r) for r in ev[: len(first)]] == first
    wave2 = [r for r in ev if r["epoch_id"] == 1]
    assert [r["event"] for r in wave2] == (
        ["start"] + ["progress"] * 3 + ["complete"]
    )


def test_progress_write_failure_leaves_error_event(spark, tmp_path):
    """A wave whose flat-element write fails records an ``error`` event
    before the query fails, as a failing extraction does."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from pdf_extractor_spark.streaming import (
        read_progress_events,
        stream_convert_progress,
    )

    inbox = str(tmp_path / "inbox")
    events = str(tmp_path / "events")
    _inbox_docs(spark, 0, 4).write.mode("overwrite").parquet(inbox)
    # the output path is a regular file, so no batch dir can be made in it
    out = tmp_path / "flat"
    out.write_text("not a directory")

    with pytest.raises(StreamingQueryException):
        stream_convert_progress(spark, inbox, str(out), events, str(tmp_path / "ckpt"))
    ev = read_progress_events(spark, events).collect()
    assert [(r["epoch_id"], r["event"]) for r in ev] == [(0, "error")]
    assert ev[0]["message"].startswith("Error during conversion: ")


def test_progress_events_before_first_wave(spark, tmp_path):
    """A subscriber that reads before any wave has created the events
    dir gets the empty event frame, not FileNotFoundError."""
    from pdf_extractor_spark.streaming import (
        PROGRESS_EVENTS_SCHEMA,
        read_progress_events,
    )

    ev = read_progress_events(spark, str(tmp_path / "events"))
    assert ev.collect() == []
    assert ev.schema == spark.createDataFrame([], PROGRESS_EVENTS_SCHEMA).schema
