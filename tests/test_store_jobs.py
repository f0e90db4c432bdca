"""Spark jobs per keyed-store operation.

The manifest records the store schema and every bucket's row count and
bytes, so a store operation runs only the jobs its data needs: no
schema inference from parquet footers, no read-back count after a
write, and no probe job for a point lookup's handful of keys. Jobs are
counted by the ``count_jobs`` fixture (conftest.py).
"""

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.corpus import corpus_rows, make_doc_spans
from pdf_extractor_spark.docmodel import extract_document
from pdf_extractor_spark.lineage import (
    compact_store,
    init_store,
    point_lookup,
    read_lineage,
    read_output,
    rebucket_store,
    run_with_lineage,
)
from pdf_extractor_spark.schema import DOCS_SCHEMA
from pdf_extractor_spark.streaming import stream_extract_merge

N_DOCS = 16
N_BUCKETS = 4


def _docs(spark, rows):
    return spark.createDataFrame(rows, schema=DOCS_SCHEMA)


def _store(spark, tmp_path):
    out = str(tmp_path / "store")
    run_with_lineage(spark, _docs(spark, corpus_rows(N_DOCS)), out, n_buckets=N_BUCKETS)
    return out


def _numeric_store(spark, tmp_path):
    out = str(tmp_path / "numstore")
    rows = spark.range(0, 60).select(
        F.col("id").alias("doc_id"),
        F.lit(0).cast("long").alias("offset"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
    )
    init_store(spark, out, rows, n_buckets=N_BUCKETS)
    return out


def _lookup(spark, out, keys, n_rows):
    got = []

    def check():
        assert sorted({r["doc_id"] for r in got}) == sorted(set(keys))
        assert len(got) == n_rows
    return lambda: got.extend(point_lookup(spark, out, keys).collect()), check


def setup_point_lookup(spark, tmp_path):
    out = _store(spark, tmp_path)
    keys = ["doc-0000003", "doc-0000007"]
    n = read_output(spark, out).where(F.col("doc_id").isin(keys)).count()
    return _lookup(spark, out, keys, n)


def setup_point_lookup_no_keys(spark, tmp_path):
    return _lookup(spark, _store(spark, tmp_path), [], 0)


def setup_point_lookup_numeric_keys(spark, tmp_path):
    return _lookup(spark, _numeric_store(spark, tmp_path), [5, 17], 2)


def _keeps_rows(spark, out, n_rows):
    def check():
        assert read_output(spark, out).count() == n_rows
    return check


def setup_init_store(spark, tmp_path):
    rows = spark.createDataFrame(
        [(f"d{i}", i % 3, "t") for i in range(40)],
        "doc_id string, offset int, text string",
    )
    out = str(tmp_path / "init")
    op = lambda: init_store(spark, out, rows, n_buckets=N_BUCKETS)  # noqa: E731
    return op, _keeps_rows(spark, out, 40)


def setup_compact_store(spark, tmp_path):
    out = _store(spark, tmp_path)
    n = read_output(spark, out).count()
    return lambda: compact_store(spark, out), _keeps_rows(spark, out, n)


def setup_rebucket_store(spark, tmp_path):
    out = _store(spark, tmp_path)
    n = read_output(spark, out).count()
    op = lambda: rebucket_store(spark, out, 2 * N_BUCKETS)  # noqa: E731
    return op, _keeps_rows(spark, out, n)


def _lineage_run(spark, out):
    docs = _docs(spark, corpus_rows(N_DOCS))
    n = sum(len(extract_document(r["spans"])) for r in corpus_rows(N_DOCS))
    op = lambda: run_with_lineage(spark, docs, out, n_buckets=N_BUCKETS)  # noqa: E731
    return op, _keeps_rows(spark, out, n)


def setup_run_with_lineage(spark, tmp_path):
    return _lineage_run(spark, str(tmp_path / "store"))


def setup_run_with_lineage_resume(spark, tmp_path):
    """Every bucket is already done: nothing pending, no job."""
    return _lineage_run(spark, _store(spark, tmp_path))


def setup_stream_wave(spark, tmp_path):
    """One CDC wave of 8 docs: 4 edited, 4 new."""
    out = _store(spark, tmp_path)
    inbox = str(tmp_path / "inbox")
    wave = [
        {"doc_id": f"doc-{i:07d}", "spans": make_doc_spans(1000 + i)}
        for i in list(range(0, N_DOCS, 4)) + list(range(N_DOCS, N_DOCS + 4))
    ]
    _docs(spark, wave).write.parquet(inbox)
    op = lambda: stream_extract_merge(spark, inbox, out, str(tmp_path / "ckpt"))  # noqa: E731

    def check():
        got = {r["doc_id"] for r in read_output(spark, out).select("doc_id").collect()}
        assert got == {f"doc-{i:07d}" for i in range(N_DOCS + 4)}
        assert read_lineage(out)["__meta__"]["manifest_version"] == N_BUCKETS + 1
    return op, check


# (operation, jobs it may run, whether that count is exact or a ceiling)
CASES = [
    (setup_point_lookup, 1, True),
    (setup_point_lookup_no_keys, 1, False),
    (setup_point_lookup_numeric_keys, 1, True),
    (setup_init_store, 1, True),
    (setup_compact_store, 2, True),
    (setup_rebucket_store, 1, True),
    (setup_run_with_lineage, N_BUCKETS, True),  # one write per pending bucket
    (setup_run_with_lineage_resume, 0, True),
    (setup_stream_wave, 15, False),
]


@pytest.mark.parametrize(
    "setup, limit, exact", CASES, ids=[c[0].__name__[6:] for c in CASES]
)
def test_store_operation_job_count(spark, tmp_path, count_jobs, setup, limit, exact):
    op, check = setup(spark, tmp_path)
    n = count_jobs(op)
    check()
    if exact:
        assert n == limit, f"{n} Spark jobs, expected {limit}"
    else:
        assert n <= limit, f"{n} Spark jobs, ceiling {limit}"
