"""Checkpoint/lineage resume: crash-injection + idempotency."""

import pytest

from pdf_extractor_spark.corpus import corpus_rows
from pdf_extractor_spark.docmodel import extract_document
from pdf_extractor_spark.lineage import (
    META_KEY,
    read_lineage,
    read_output,
    run_with_lineage,
)


def buckets(lineage):
    return {b: e for b, e in lineage.items() if b != META_KEY}
from pdf_extractor_spark.schema import DOCS_SCHEMA

N_DOCS = 16
N_BUCKETS = 4


@pytest.fixture()
def docs_df(spark):
    return spark.createDataFrame(corpus_rows(N_DOCS), schema=DOCS_SCHEMA)


def expected_total_rows():
    return sum(len(extract_document(r["spans"])) for r in corpus_rows(N_DOCS))


def dirs_on_disk_and_referenced(out):
    """(bucket data dirs on disk, dirs the manifest references); equal
    once vacuum has reclaimed every superseded or orphaned version."""
    import os

    referenced = {
        e["path"] if e.get("path") else f"bucket={b}"
        for b, e in buckets(read_lineage(out)).items()
        if e.get("row_count", 0) > 0
    }
    on_disk = set()
    for name in os.listdir(out):
        full = os.path.join(out, name)
        if not os.path.isdir(full):
            continue
        if name.startswith("merge_v"):
            on_disk.update(
                f"{name}/{s}"
                for s in os.listdir(full)
                if os.path.isdir(os.path.join(full, s))
            )
        else:
            on_disk.add(name)
    return on_disk, referenced


def test_crash_resume_produces_complete_output(
    spark, docs_df, tmp_path, monkeypatch
):
    """A crash on the third bucket's lineage commit leaves two buckets
    committed and the third written but uncommitted; the resume
    overwrites that bucket and the store holds every row exactly once."""
    import os

    from pdf_extractor_spark import lineage as L

    out = str(tmp_path / "out")
    real_commit = L._commit_lineage
    calls = {"n": 0}

    def crashing_commit(output_dir, delta, locked=False):
        # each bucket commits once, under the lock its write holds
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("injected crash before lineage commit")
        return real_commit(output_dir, delta, locked=locked)

    monkeypatch.setattr(L, "_commit_lineage", crashing_commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_with_lineage(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="r1")
    monkeypatch.setattr(L, "_commit_lineage", real_commit)
    partial = buckets(read_lineage(out))
    assert sum(e["status"] == "done" for e in partial.values()) == 2
    assert "2" not in partial
    assert os.listdir(os.path.join(out, "bucket=2"))  # written, not committed

    lineage = buckets(
        run_with_lineage(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="r2")
    )
    assert len(lineage) == N_BUCKETS
    # resumed buckets carry the resume run_id; completed ones keep r1
    assert {e["run_id"] for e in lineage.values()} == {"r1", "r2"}
    assert read_output(spark, out).count() == expected_total_rows()


def test_concurrent_vacuum_waits_for_bucket_commit(
    spark, docs_df, tmp_path, monkeypatch
):
    """A vacuum that starts while run_with_lineage has a bucket written
    but not yet committed must not reclaim that directory: each bucket's
    write, footer stat and commit hold the store lock, so the vacuum
    waits for the commit and then finds the bucket referenced."""
    import threading
    import time

    from pdf_extractor_spark import lineage as L

    out = str(tmp_path / "out")
    real_commit = L._commit_lineage
    vacuums = []

    def commit_beside_vacuum(output_dir, delta, locked=False):
        vacuums.append(threading.Thread(target=L.vacuum_store, args=(out,)))
        vacuums[-1].start()
        time.sleep(1.0)
        return real_commit(output_dir, delta, locked=locked)

    monkeypatch.setattr(L, "_commit_lineage", commit_beside_vacuum)
    run_with_lineage(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="r1")
    for t in vacuums:
        t.join()
    monkeypatch.setattr(L, "_commit_lineage", real_commit)
    assert read_output(spark, out).count() == expected_total_rows()
    on_disk, referenced = dirs_on_disk_and_referenced(out)
    assert on_disk == referenced


def test_second_run_is_noop(spark, docs_df, tmp_path):
    out = str(tmp_path / "out")
    first = buckets(
        run_with_lineage(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="r1")
    )
    again = buckets(
        run_with_lineage(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="r3")
    )
    assert first == again  # nothing re-done, run_ids unchanged
    assert all(e["run_id"] == "r1" for e in again.values())


def test_metrics_recorded(spark, docs_df, tmp_path):
    out = str(tmp_path / "out")
    lineage = buckets(run_with_lineage(spark, docs_df, out, n_buckets=N_BUCKETS))
    assert sum(e["row_count"] for e in lineage.values()) == expected_total_rows()
    assert all(
        e["wall_ms"] >= 0 and (e["bytes"] > 0 or e["row_count"] == 0)
        for e in lineage.values()
    )


def test_empty_buckets_and_nbucket_guard(spark, tmp_path):
    """Empty buckets are committed with row_count 0 (not crashed on);
    resuming with a different n_buckets raises instead of silently
    dropping documents."""
    few = spark.createDataFrame(corpus_rows(3), schema=DOCS_SCHEMA)
    out = str(tmp_path / "few")
    lineage = buckets(run_with_lineage(spark, few, out, n_buckets=8, run_id="r1"))
    assert len(lineage) == 8
    assert sum(e["row_count"] == 0 for e in lineage.values()) > 0
    total = sum(len(extract_document(r["spans"])) for r in corpus_rows(3))
    assert read_output(spark, out).count() == total
    with pytest.raises(ValueError, match="n_buckets"):
        run_with_lineage(spark, few, out, n_buckets=4)


# ---------------------------------------------------------------------------
# S16 — keyed MERGE (upsert/delete) on the extracted store
# (reference arangodb/crud.py update/replace/delete; copy-on-write
#  versioned bucket rewrite + manifest commit)
# ---------------------------------------------------------------------------


def test_upsert_replaces_exactly_once(spark, docs_df, tmp_path):
    from pyspark.sql import functions as F

    from pdf_extractor_spark.lineage import upsert_elements

    out = str(tmp_path / "out")
    run_with_lineage(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="r1")
    before = read_output(spark, out)
    # materialize pre-merge facts: after the merge commits, vacuum
    # reclaims the superseded version dirs, so pre-merge DataFrame
    # handles must not be re-executed (readers re-resolve per query)
    n_before = before.count()
    target = before.orderBy("doc_id", "offset").limit(1).collect()[0]
    n_others_before = before.filter(F.col("doc_id") != target["doc_id"]).count()

    updates = before.filter(
        (F.col("doc_id") == target["doc_id"]) & (F.col("offset") == target["offset"])
    ).withColumn("text", F.lit("CORRECTED TEXT"))
    upsert_elements(spark, out, updates)

    after = read_output(spark, out)
    assert after.count() == n_before  # replace, not append
    hits = after.filter(
        (F.col("doc_id") == target["doc_id"]) & (F.col("offset") == target["offset"])
    ).collect()
    assert len(hits) == 1  # exactly once
    assert hits[0]["text"] == "CORRECTED TEXT"
    # untouched rows unchanged
    others = after.filter(F.col("doc_id") != target["doc_id"]).count()
    assert others == n_others_before


def test_upsert_inserts_new_key_and_versions_bucket(spark, docs_df, tmp_path):
    from pyspark.sql import functions as F

    from pdf_extractor_spark.lineage import read_lineage, upsert_elements

    out = str(tmp_path / "out")
    run_with_lineage(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="r1")
    before = read_output(spark, out)
    n_before = before.count()
    # materialized donor row: post-merge vacuum reclaims the dirs a
    # lazy pre-merge handle would re-scan
    donor = spark.createDataFrame(
        before.orderBy("doc_id", "offset").limit(1).collect(), before.schema
    )
    new_row = donor.withColumn("offset", F.lit(999_999))
    upsert_elements(spark, out, new_row)
    after = read_output(spark, out)
    assert after.count() == n_before + 1
    assert after.filter(F.col("offset") == 999_999).count() == 1
    # the affected bucket advanced to v1 and points at the rewrite dir
    lineage = buckets(read_lineage(out))
    versioned = [e for e in lineage.values() if e.get("version")]
    assert len(versioned) == 1 and "v1" in versioned[0]["path"]

    # second merge on the same bucket advances the version again
    upsert_elements(spark, out, donor.withColumn("offset", F.lit(999_998)))
    lineage2 = buckets(read_lineage(out))
    assert max(e.get("version", 0) for e in lineage2.values()) == 2
    assert read_output(spark, out).count() == n_before + 2


def test_delete_removes_key_and_resume_stays_noop(spark, docs_df, tmp_path):
    from pyspark.sql import functions as F

    from pdf_extractor_spark.lineage import delete_elements

    out = str(tmp_path / "out")
    first = buckets(
        run_with_lineage(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="r1")
    )
    before = read_output(spark, out)
    n_before = before.count()
    t = before.orderBy("doc_id", "offset").limit(1).collect()[0]
    delete_elements(
        spark, out,
        spark.createDataFrame([{"doc_id": t["doc_id"], "offset": t["offset"]}]),
    )
    after = read_output(spark, out)
    assert after.count() == n_before - 1
    assert (
        after.filter(
            (F.col("doc_id") == t["doc_id"]) & (F.col("offset") == t["offset"])
        ).count()
        == 0
    )
    # a re-run after the merge must NOT re-extract (all buckets done)
    again = buckets(
        run_with_lineage(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="r9")
    )
    assert all(e["run_id"] != "r9" for e in again.values())
    assert read_output(spark, out).count() == n_before - 1


def test_merge_algebra_roundtrip(spark, docs_df, tmp_path):
    r"""MERGE invariants over a randomized batch of updates: after
    upsert, store = (old \ matched-keys) ∪ updates; deleting the
    inserted new keys restores exactly old-with-replacements."""
    import random

    from pdf_extractor_spark.lineage import delete_elements, upsert_elements

    rng = random.Random(7)
    out = str(tmp_path / "out")
    run_with_lineage(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="r1")
    old = {(r["doc_id"], r["offset"]): r["text"] for r in read_output(spark, out).collect()}

    keys = sorted(old)
    matched = rng.sample(keys, 5)
    donor = read_output(spark, out).limit(1).collect()[0]

    def mk(doc_id, offset, text):
        d = donor.asDict()
        d.update(doc_id=doc_id, offset=offset, text=text)
        return d

    new_keys = [(k[0], 10_000 + i) for i, k in enumerate(matched)]
    updates = [mk(d, o, f"UPD-{d}-{o}") for d, o in matched] + [
        mk(d, o, f"NEW-{d}-{o}") for d, o in new_keys
    ]
    upsert_elements(
        spark, out,
        spark.createDataFrame(updates, read_output(spark, out).schema),
    )

    got = {(r["doc_id"], r["offset"]): r["text"] for r in read_output(spark, out).collect()}
    want = dict(old)
    for d, o in matched:
        want[(d, o)] = f"UPD-{d}-{o}"
    for d, o in new_keys:
        want[(d, o)] = f"NEW-{d}-{o}"
    assert got == want

    # delete the inserted keys -> old with replacements only
    delete_elements(
        spark, out,
        spark.createDataFrame([{"doc_id": d, "offset": o} for d, o in new_keys]),
    )
    got2 = {(r["doc_id"], r["offset"]): r["text"] for r in read_output(spark, out).collect()}
    for d, o in new_keys:
        del want[(d, o)]
    assert got2 == want


def test_merge_crash_between_write_and_commit_is_idempotent(
    spark, docs_df, tmp_path, monkeypatch
):
    """Copy-on-write protocol: a crash AFTER the new version dir is
    written but BEFORE the manifest commit leaves the old version
    served; retrying the merge converges to exactly-once effect."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark import lineage as L

    out = str(tmp_path / "out")
    run_with_lineage(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="r1")
    before = read_output(spark, out)
    n_before = before.count()
    target = before.orderBy("doc_id", "offset").limit(1)
    t = target.collect()[0]
    updates = spark.createDataFrame([t], before.schema).withColumn(
        "text", F.lit("CRASHED-EDIT")
    )

    real_commit = L._commit_lineage
    calls = {"n": 0}

    def exploding_commit(output_dir, entries, locked=False):
        calls["n"] += 1
        raise RuntimeError("injected crash before manifest commit")

    monkeypatch.setattr(L, "_commit_lineage", exploding_commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        L.upsert_elements(spark, out, updates)
    assert calls["n"] == 1
    monkeypatch.setattr(L, "_commit_lineage", real_commit)

    # old version still served — the write happened but was never committed
    mid = read_output(spark, out)
    assert mid.count() == n_before
    assert (
        mid.filter(
            (F.col("doc_id") == t["doc_id"]) & (F.col("offset") == t["offset"])
        ).collect()[0]["text"]
        == t["text"]
    )

    # retry converges: edit lands exactly once, version advances past the
    # orphaned (uncommitted) v1 directory
    L.upsert_elements(spark, out, updates)
    after = read_output(spark, out)
    assert after.count() == n_before
    hits = after.filter(
        (F.col("doc_id") == t["doc_id"]) & (F.col("offset") == t["offset"])
    ).collect()
    assert len(hits) == 1 and hits[0]["text"] == "CRASHED-EDIT"


@pytest.mark.parametrize("writer", ["compact", "rebucket"])
def test_generation_crash_between_write_and_commit_is_idempotent(
    spark, docs_df, tmp_path, monkeypatch, writer
):
    """compact_store and rebucket_store share MERGE's copy-on-write
    protocol: a crash after the new generation is written but before
    the manifest commit leaves manifest and content unchanged; the
    retry converges, and after vacuum the directories on disk are
    exactly the manifest's references."""
    import os

    from pdf_extractor_spark import lineage as L

    out = str(tmp_path / "out")
    run_with_lineage(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="r1")

    def content():
        return sorted(repr(r) for r in read_output(spark, out).collect())

    before_manifest = read_lineage(out)
    before_rows = content()
    run = {
        "compact": lambda: L.compact_store(spark, out),
        "rebucket": lambda: L.rebucket_store(spark, out, 2 * N_BUCKETS),
    }[writer]

    def exploding_commit(output_dir, delta, locked=False):
        raise RuntimeError("injected crash before manifest commit")

    real_commit = L._commit_lineage
    monkeypatch.setattr(L, "_commit_lineage", exploding_commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        run()
    monkeypatch.setattr(L, "_commit_lineage", real_commit)

    assert os.listdir(os.path.join(out, "merge_v1"))  # written, orphaned
    assert read_lineage(out) == before_manifest
    assert content() == before_rows

    run()
    after = read_lineage(out)
    assert (
        after[META_KEY]["manifest_version"]
        == before_manifest[META_KEY]["manifest_version"] + 1
    )
    want_n = 2 * N_BUCKETS if writer == "rebucket" else N_BUCKETS
    assert after[META_KEY]["n_buckets"] == want_n
    assert content() == before_rows
    L.vacuum_store(out)
    on_disk, referenced = dirs_on_disk_and_referenced(out)
    assert on_disk == referenced


def test_batch_merge_job_count_constant_in_bucket_count(spark, tmp_path):
    """The scale contract for MERGE: Spark job count is CONSTANT in the
    number of affected buckets (one union-read+anti-join+write wave +
    one count + bucket-list collect), never one job per bucket — 4×
    the buckets must NOT mean more jobs (AQE may split a query into a
    few jobs, but that split doesn't scale with buckets)."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.corpus import corpus_rows
    from pdf_extractor_spark.lineage import upsert_elements

    docs = spark.createDataFrame(corpus_rows(48), schema=DOCS_SCHEMA)
    sc = spark.sparkContext
    jobs = {}
    for n_buckets in (4, 16):
        out = str(tmp_path / f"out{n_buckets}")
        run_with_lineage(spark, docs, out, n_buckets=n_buckets, run_id="r1")
        n_rows = read_output(spark, out).count()
        updates = read_output(spark, out).withColumn("text", F.lit("BULK-EDIT"))
        group = f"bulk-merge-{n_buckets}"
        sc.setJobGroup(group, "batch MERGE wave")
        try:
            upsert_elements(spark, out, updates)  # touches every bucket
        finally:
            sc.setJobGroup("", "")
        jobs[n_buckets] = len(sc.statusTracker().getJobIdsForGroup(group))
        got = read_output(spark, out)
        assert got.count() == n_rows
        assert got.filter(F.col("text") != "BULK-EDIT").count() == 0
    assert jobs[16] <= jobs[4] + 1, (
        f"batch MERGE job count grew with buckets: {jobs} — per-bucket loop?"
    )


def test_merge_elements_combined_upsert_delete_single_commit(
    spark, docs_df, tmp_path
):
    """One merge_elements call applies updates AND deletes atomically:
    exactly one manifest commit, updates win on key overlap."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark import lineage as L

    out = str(tmp_path / "out")
    run_with_lineage(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="r1")
    before = read_output(spark, out)
    n_before = before.count()
    rows = before.orderBy("doc_id", "offset").limit(3).collect()
    upd, gone, both = rows
    updates = before.filter(
        ((F.col("doc_id") == upd["doc_id"]) & (F.col("offset") == upd["offset"]))
        | ((F.col("doc_id") == both["doc_id"]) & (F.col("offset") == both["offset"]))
    ).withColumn("text", F.lit("MERGED"))
    delete_keys = spark.createDataFrame(
        [
            {"doc_id": gone["doc_id"], "offset": gone["offset"]},
            {"doc_id": both["doc_id"], "offset": both["offset"]},  # overlap
        ]
    )

    commits = {"n": 0}
    real = L._commit_lineage

    def counting_commit(output_dir, delta, locked=False):
        commits["n"] += 1
        return real(output_dir, delta, locked=locked)

    import unittest.mock as mock

    with mock.patch.object(L, "_commit_lineage", counting_commit):
        L.merge_elements(spark, out, updates=updates, delete_keys=delete_keys)
    assert commits["n"] == 1

    after = read_output(spark, out)
    assert after.count() == n_before - 1  # one pure delete
    assert (
        after.filter(
            (F.col("doc_id") == gone["doc_id"]) & (F.col("offset") == gone["offset"])
        ).count()
        == 0
    )
    # overlapping key: update wins over delete
    hits = after.filter(F.col("text") == "MERGED").collect()
    assert {(r["doc_id"], r["offset"]) for r in hits} == {
        (upd["doc_id"], upd["offset"]),
        (both["doc_id"], both["offset"]),
    }


def test_vacuum_reclaims_superseded_versions(spark, docs_df, tmp_path):
    """Copy-on-write retention: after a merge commits, the superseded
    version dirs are reclaimed automatically; only manifest-referenced
    dirs remain, and the store content is unaffected."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.lineage import upsert_elements

    out = str(tmp_path / "out")
    run_with_lineage(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="r1")
    before = read_output(spark, out)
    n = before.count()
    edit = spark.createDataFrame(before.limit(1).collect(), before.schema)
    upsert_elements(spark, out, edit.withColumn("text", F.lit("E1")))
    upsert_elements(spark, out, edit.withColumn("text", F.lit("E2")))

    on_disk, referenced = dirs_on_disk_and_referenced(out)
    assert on_disk == referenced, f"unreclaimed dirs: {on_disk - referenced}"
    after = read_output(spark, out)
    assert after.count() == n
    assert after.filter(F.col("text") == "E2").count() == 1


def test_concurrent_manifest_commits_lose_no_update(tmp_path):
    """Two interleaved committers (streaming CDC + batch backfill shape):
    the locked read-merge-write commit serializes them — every delta
    lands, manifest_version counts every commit."""
    import threading

    from pdf_extractor_spark.lineage import META_KEY, _commit_lineage, read_lineage

    out = str(tmp_path / "store")
    import os

    os.makedirs(out)
    _commit_lineage(out, {META_KEY: {"n_buckets": 64}})

    n_threads, n_commits = 8, 25
    errors = []

    def committer(tid):
        try:
            for i in range(n_commits):
                _commit_lineage(
                    out,
                    {str(tid * n_commits + i): {"status": "done", "row_count": i}},
                )
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=committer, args=(t,)) for t in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    final = read_lineage(out)
    entries = {k for k in final if k != META_KEY}
    assert len(entries) == n_threads * n_commits  # zero lost updates
    assert final[META_KEY]["manifest_version"] == n_threads * n_commits + 1
    assert final[META_KEY]["n_buckets"] == 64  # meta survives merges


def test_time_travel_read_within_retention_window(spark, docs_df, tmp_path):
    """Iceberg-style snapshots: read_output(as_of=v) serves the store
    as committed at manifest_version v while the snapshot is inside the
    vacuum retention window; expiry makes it an explicit error."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.lineage import (
        list_snapshots,
        read_lineage,
        upsert_elements,
    )

    out = str(tmp_path / "out")
    run_with_lineage(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="r1")
    v0 = read_lineage(out)[META_KEY]["manifest_version"]
    before = read_output(spark, out)
    n_before = before.count()
    t = before.orderBy("doc_id", "offset").limit(1).collect()[0]
    edit = spark.createDataFrame([t], before.schema)

    upsert_elements(
        spark, out, edit.withColumn("text", F.lit("V1")), retain_snapshots=1
    )
    v1 = read_lineage(out)[META_KEY]["manifest_version"]
    # current shows the edit; as-of v0 still shows the original
    assert read_output(spark, out).filter(F.col("text") == "V1").count() == 1
    old = read_output(spark, out, as_of=v0)
    assert old.count() == n_before
    assert old.filter(F.col("text") == "V1").count() == 0
    assert (
        old.filter(
            (F.col("doc_id") == t["doc_id"]) & (F.col("offset") == t["offset"])
        ).collect()[0]["text"]
        == t["text"]
    )
    assert set(list_snapshots(out)) >= {v0, v1}

    # second merge with the same window expires v0 (data + snapshot)
    upsert_elements(
        spark, out, edit.withColumn("text", F.lit("V2")), retain_snapshots=1
    )
    with pytest.raises(FileNotFoundError, match="expired|no snapshot"):
        read_output(spark, out, as_of=v0)
    mid = read_output(spark, out, as_of=v1)
    assert mid.filter(F.col("text") == "V1").count() == 1
    assert read_output(spark, out).filter(F.col("text") == "V2").count() == 1


def test_compact_store_collapses_small_files(spark, docs_df, tmp_path):
    """After several copy-on-write merges, compaction rewrites each
    bucket to files_per_bucket parquet files with identical content and
    reclaims every superseded dir."""
    import glob as _glob
    import os

    from pyspark.sql import functions as F

    from pdf_extractor_spark.lineage import compact_store, upsert_elements

    out = str(tmp_path / "out")
    run_with_lineage(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="r1")
    base = read_output(spark, out)
    donor = spark.createDataFrame(
        base.orderBy("doc_id", "offset").limit(1).collect(), base.schema
    )
    # fragment the store: three merges, each rewrites buckets at write
    # parallelism
    for i in range(3):
        upsert_elements(
            spark, out,
            donor.withColumn("offset", F.lit(900_000 + i)).repartition(4),
        )
    before_rows = sorted(
        (r["doc_id"], r["offset"], r["text"])
        for r in read_output(spark, out).collect()
    )
    lineage = buckets(read_lineage(out))
    files_before = len(_glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True))

    compact_store(spark, out)

    after = read_output(spark, out)
    after_rows = sorted(
        (r["doc_id"], r["offset"], r["text"]) for r in after.collect()
    )
    assert after_rows == before_rows  # content-identical rewrite
    lineage2 = buckets(read_lineage(out))
    # one parquet file per non-empty bucket
    n_loaded = sum(1 for e in lineage2.values() if e.get("row_count", 0) > 0)
    files_after = len(_glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True))
    assert files_after == n_loaded
    assert files_after < files_before
    # every loaded bucket advanced to the same new generation
    gens = {e["version"] for e in lineage2.values() if e.get("row_count", 0) > 0}
    assert len(gens) == 1
    assert gens.pop() > max(e.get("version", 0) for e in lineage.values())
    # superseded dirs reclaimed: disk == manifest references
    on_disk, referenced = dirs_on_disk_and_referenced(out)
    assert on_disk == referenced


def test_point_lookup_prunes_buckets_and_files_are_clustered(
    spark, docs_df, tmp_path
):
    """Primary-key fetch (reference arangodb/crud.py:95 get_document):
    (1) the scan touches only the bucket dirs the keys hash into,
    (2) written files are clustered by (doc_id, offset) so row-group
    min/max stats are selective, (3) results equal a full-scan filter."""
    import glob as _glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from pdf_extractor_spark.lineage import bucket_of, point_lookup

    out = str(tmp_path / "out")
    run_with_lineage(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="r1")

    wanted = ["doc-0000003", "doc-0000007"]
    want_buckets = {
        r["b"]
        for r in spark.createDataFrame([(d,) for d in wanted], "doc_id string")
        .select(bucket_of(F.col("doc_id"), N_BUCKETS).alias("b"))
        .collect()
    }
    assert len(want_buckets) < N_BUCKETS  # pruning must have something to skip

    got = point_lookup(spark, out, wanted)
    # pruned scan reads only the wanted buckets' files
    touched = {
        os.path.basename(os.path.dirname(f.replace("file:", "")))
        for f in got.inputFiles()
    }
    assert touched == {f"bucket={b}" for b in want_buckets}

    # value parity with an unpruned scan
    full = read_output(spark, out).where(F.col("doc_id").isin(wanted))
    key = lambda r: (r["doc_id"], r["offset"])  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(full.collect(), key=key)

    # clustered layout: every file's rows sorted by (doc_id, offset)
    files = _glob.glob(os.path.join(out, "bucket=*", "*.parquet"))
    assert files
    for f in files:
        t = pq.read_table(f, columns=["doc_id", "offset"])
        pairs = list(zip(t.column("doc_id").to_pylist(), t.column("offset").to_pylist()))
        assert pairs == sorted(pairs)


def test_point_lookup_on_numeric_keyed_store(spark, tmp_path):
    """init_store accepts any keyed DataFrame; point_lookup must hash
    the probe keys with the store's native key type — xxhash64("5")
    lands in a different bucket than xxhash64(5L), so string-coerced
    probes would prune to the wrong buckets and silently return 0 rows."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.lineage import init_store, point_lookup, read_output

    out = str(tmp_path / "numstore")
    rows = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.lit(0).cast("int").alias("offset"),
        (F.col("id") * 2).alias("payload"),
    )
    init_store(spark, out, rows, n_buckets=8)

    for wanted in ([5], [5, 17, 130]):
        got = point_lookup(spark, out, wanted).collect()
        assert sorted(r["doc_id"] for r in got) == sorted(wanted)
        assert all(r["payload"] == r["doc_id"] * 2 for r in got)
    # pruned scan touches fewer files than the full store
    assert len(set(point_lookup(spark, out, [5]).inputFiles())) < len(
        set(read_output(spark, out).inputFiles())
    )


def test_patch_elements_partial_update_semantics(spark, tmp_path):
    r"""patch = the reference's update_document (crud.py:130-184,
    ArangoDB collection.update merge=True): touched columns change,
    untouched columns keep stored values, missing keys refuse the
    whole batch (update never inserts), keep_null=True writes explicit
    NULLs (keepNull parity)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from pdf_extractor_spark.lineage import (
        init_store,
        patch_elements,
        point_lookup,
    )

    out = str(tmp_path / "store")
    rows = spark.range(0, 60).select(
        F.col("id").alias("doc_id"),
        F.lit(0).cast("int").alias("offset"),
        F.concat(F.lit("body-"), F.col("id")).alias("body"),
        (F.col("id") % 7).cast("int").alias("score"),
    )
    init_store(spark, out, rows, n_buckets=8)

    # sparse per-row patch: NULL means keep (keep_null=False default)
    patches = spark.createDataFrame(
        [(3, 0, "patched-3", None), (14, 0, None, 99)],
        "doc_id long, offset int, body string, score int",
    )
    patch_elements(spark, out, patches)
    got = {r["doc_id"]: r for r in point_lookup(spark, out, [3, 14, 20]).collect()}
    assert got[3]["body"] == "patched-3" and got[3]["score"] == 3 % 7
    assert got[14]["body"] == "body-14" and got[14]["score"] == 99
    assert got[20]["body"] == "body-20" and got[20]["score"] == 20 % 7

    # column absent from the patch frame -> untouched for all rows
    only_score = spark.createDataFrame(
        [(3, 0, 11)], "doc_id long, offset int, score int"
    )
    patch_elements(spark, out, only_score)
    r3, = point_lookup(spark, out, [3]).collect()
    assert r3["body"] == "patched-3" and r3["score"] == 11

    # keep_null=True: explicit NULL is WRITTEN (ArangoDB keepNull)
    null_body = spark.createDataFrame(
        [(14, 0, None)], "doc_id long, offset int, body string"
    )
    patch_elements(spark, out, null_body, keep_null=True)
    r14, = point_lookup(spark, out, [14]).collect()
    assert r14["body"] is None and r14["score"] == 99

    # missing key -> whole batch refused, store unchanged
    bad = spark.createDataFrame(
        [(3, 0, "x"), (9999, 0, "y")], "doc_id long, offset int, body string"
    )
    with _pytest.raises(ValueError, match="not present"):
        patch_elements(spark, out, bad)
    r3b, = point_lookup(spark, out, [3]).collect()
    assert r3b["body"] == "patched-3"

    # unknown column -> refused
    with _pytest.raises(ValueError, match="not in store schema"):
        patch_elements(
            spark, out,
            spark.createDataFrame([(3, 0, 1)], "doc_id long, offset int, nope int"),
        )


def test_patch_elements_duplicate_and_mistyped_keys(spark, tmp_path):
    """(1) Duplicate MERGE keys in one patch batch are refused — each
    duplicate would survive the inner join and be written, breaking
    key uniqueness. (2) A dtype-mismatched patch batch (int keys on a
    long-keyed store) must still find its keys: the probe is cast to
    the store's manifest-recorded key type before bucket pruning."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from pdf_extractor_spark.lineage import (
        init_store,
        patch_elements,
        point_lookup,
        read_output,
    )

    out = str(tmp_path / "store")
    init_store(
        spark, out,
        spark.range(0, 40).select(
            F.col("id").alias("doc_id"),
            F.lit(0).cast("int").alias("offset"),
            F.concat(F.lit("b"), F.col("id")).alias("body"),
        ),
        n_buckets=8,
    )

    with _pytest.raises(ValueError, match="duplicate MERGE key"):
        patch_elements(
            spark, out,
            spark.createDataFrame(
                [(3, 0, "first"), (3, 0, "second")],
                "doc_id long, offset int, body string",
            ),
        )
    # store untouched, still one row per key
    assert point_lookup(spark, out, [3]).count() == 1

    # int-typed keys against the long-keyed store: prune + join both
    # coerce to the store type, so the patch lands instead of being
    # falsely refused as 'not present'
    patch_elements(
        spark, out,
        spark.createDataFrame(
            [(5, 0, "typed")], "doc_id int, offset int, body string"
        ),
    )
    r5, = point_lookup(spark, out, [5]).collect()
    assert r5["body"] == "typed"
    assert read_output(spark, out).count() == 40  # no duplicate rows


def test_delete_where_predicate_delete(spark, tmp_path):
    """DELETE WHERE (reference crud.py:474-515 delete_conversation =
    bulk delete by attribute): matching rows vanish, everything else
    survives, re-running the same predicate is an idempotent no-op."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.lineage import (
        delete_where,
        init_store,
        read_output,
    )

    out = str(tmp_path / "store")
    init_store(
        spark, out,
        spark.range(0, 50).select(
            F.col("id").alias("doc_id"),
            F.lit(0).cast("int").alias("offset"),
            (F.col("id") % 5).cast("int").alias("conversation_id"),
        ),
        n_buckets=8,
    )
    delete_where(spark, out, F.col("conversation_id") == 2)
    left = read_output(spark, out)
    assert left.count() == 40
    assert left.filter("conversation_id = 2").count() == 0
    # SQL-string predicate + idempotent re-run
    delete_where(spark, out, "conversation_id = 2")
    assert read_output(spark, out).count() == 40


def test_patch_algebra_randomized(spark, tmp_path):
    """Randomized sparse patches vs a pure-Python dict oracle: after
    any sequence of patch batches (random columns patched, random NULL
    sparsity, both keep_null modes), the store equals the oracle
    exactly and key uniqueness holds."""
    import random

    from pyspark.sql import functions as F

    from pdf_extractor_spark.lineage import (
        init_store,
        patch_elements,
        read_output,
    )

    rng = random.Random(20260817)
    out = str(tmp_path / "store")
    n = 80
    oracle = {
        (i, 0): {"body": f"b{i}", "score": i % 9, "tag": f"t{i % 4}"}
        for i in range(n)
    }
    init_store(
        spark, out,
        spark.createDataFrame(
            [(i, 0, v["body"], v["score"], v["tag"]) for (i, _), v in oracle.items()],
            "doc_id long, offset int, body string, score int, tag string",
        ),
        n_buckets=8,
    )

    for round_no in range(4):
        keys = rng.sample(range(n), rng.randint(1, 12))
        cols = rng.sample(["body", "score", "tag"], rng.randint(1, 3))
        keep_null = rng.random() < 0.5
        rows, schema_cols = [], ["doc_id long", "offset int"]
        schema_cols += [
            {"body": "body string", "score": "score int", "tag": "tag string"}[c]
            for c in cols
        ]
        for k in keys:
            row = [k, 0]
            for c in cols:
                val = None if rng.random() < 0.3 else (
                    f"p{round_no}-{k}" if c != "score" else round_no * 100 + k
                )
                row.append(val)
                # oracle applies the same rule
                if val is not None or keep_null:
                    oracle[(k, 0)][c] = val
            rows.append(tuple(row))
        patch_elements(
            spark, out,
            spark.createDataFrame(rows, ", ".join(schema_cols)),
            keep_null=keep_null,
        )

    got = {
        (r["doc_id"], r["offset"]): {
            "body": r["body"], "score": r["score"], "tag": r["tag"]
        }
        for r in read_output(spark, out).collect()
    }
    assert len(got) == n  # key uniqueness survived every batch
    assert got == oracle


def test_store_fuzz_interleaved_operations(spark, tmp_path):
    """Store fuzz: a randomized interleaving of upsert / patch /
    keyed-delete / predicate-delete / compact / vacuum, checked after
    EVERY commit against a pure-Python dict oracle, plus time-travel
    reads against recorded history for every still-retained snapshot.
    One test, the whole keyed-store surface under composition."""
    import random

    from pyspark.sql import functions as F

    from pdf_extractor_spark.lineage import (
        compact_store,
        delete_elements,
        delete_where,
        init_store,
        list_snapshots,
        patch_elements,
        read_lineage,
        read_output,
        upsert_elements,
        vacuum_store,
    )

    rng = random.Random(424242)
    out = str(tmp_path / "store")
    SCHEMA = "doc_id long, offset int, body string, grp int"

    def df_of(rows):
        return spark.createDataFrame(rows, SCHEMA)

    oracle = {(i, 0): (f"b{i}", i % 6) for i in range(70)}
    init_store(
        spark, out,
        df_of([(k[0], k[1], v[0], v[1]) for k, v in oracle.items()]),
        n_buckets=8,
    )

    def store_version():
        return read_lineage(out).get("__meta__", {}).get("manifest_version")

    def snapshot():
        return {
            (r["doc_id"], r["offset"]): (r["body"], r["grp"])
            for r in read_output(spark, out).collect()
        }

    history = {store_version(): dict(oracle)}
    next_id = 1000

    for step in range(10):
        op = rng.choice(["upsert", "patch", "delete", "delete_where",
                         "compact", "vacuum"])
        if op == "upsert":
            # mix of replacements and brand-new keys
            keys = rng.sample(sorted(oracle), min(5, len(oracle)))
            rows = []
            for k in keys:
                rows.append((k[0], k[1], f"u{step}-{k[0]}", rng.randint(0, 5)))
            for _ in range(rng.randint(1, 3)):
                rows.append((next_id, 0, f"new{step}-{next_id}", rng.randint(0, 5)))
                next_id += 1
            upsert_elements(spark, out, df_of(rows), retain_snapshots=2)
            for d, o, b, g in rows:
                oracle[(d, o)] = (b, g)
        elif op == "patch":
            keys = rng.sample(sorted(oracle), min(4, len(oracle)))
            rows = [(k[0], k[1], f"p{step}-{k[0]}") for k in keys]
            patch_elements(
                spark, out,
                spark.createDataFrame(rows, "doc_id long, offset int, body string"),
                retain_snapshots=2,
            )
            for d, o, b in rows:
                oracle[(d, o)] = (b, oracle[(d, o)][1])
        elif op == "delete":
            keys = rng.sample(sorted(oracle), min(3, len(oracle)))
            delete_elements(
                spark, out,
                spark.createDataFrame(list(keys), "doc_id long, offset int"),
                retain_snapshots=2,
            )
            for k in keys:
                oracle.pop(k)
        elif op == "delete_where":
            g = rng.randint(0, 5)
            delete_where(spark, out, F.col("grp") == g, retain_snapshots=2)
            oracle = {k: v for k, v in oracle.items() if v[1] != g}
        elif op == "compact":
            compact_store(spark, out, files_per_bucket=1, retain_snapshots=2)
        else:
            vacuum_store(out, retain_snapshots=2)
            # vacuum expires history beyond the retention window
            keep = set(list_snapshots(out))
            history = {v: s for v, s in history.items() if v in keep}
        assert snapshot() == oracle, f"divergence after step {step} ({op})"
        history[store_version()] = dict(oracle)

    # time travel: every still-listed snapshot version we recorded must
    # read back exactly as the oracle looked at that commit
    checked = 0
    for v in list_snapshots(out):
        if v in history:
            got = {
                (r["doc_id"], r["offset"]): (r["body"], r["grp"])
                for r in read_output(spark, out, as_of=v).collect()
            }
            assert got == history[v], f"time travel divergence at v{v}"
            checked += 1
    assert checked >= 2  # the walk really exercised time travel


def test_merge_write_path_key_typing(spark, tmp_path):
    """Write-side twin of the read-side key-type guard: a string-typed
    delete frame against a long-keyed store must route to the store's
    buckets (xxhash64 is dtype-sensitive) — previously the delete
    silently no-opped and upserts landed in buckets keyed reads never
    visit."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.lineage import (
        delete_elements,
        init_store,
        point_lookup,
        read_output,
        upsert_elements,
    )

    out = str(tmp_path / "store")
    init_store(
        spark, out,
        spark.range(0, 40).select(
            F.col("id").alias("doc_id"),
            F.lit(0).cast("int").alias("offset"),
            F.concat(F.lit("b"), F.col("id")).alias("body"),
        ),
        n_buckets=8,
    )
    # string-typed delete keys: must actually delete
    delete_elements(
        spark, out,
        spark.createDataFrame([("7", 0)], "doc_id string, offset int"),
    )
    assert read_output(spark, out).count() == 39
    assert point_lookup(spark, out, [7]).count() == 0
    # string-typed upsert: must be visible to typed point lookups
    upsert_elements(
        spark, out,
        spark.createDataFrame(
            [("99", 0, "typed-upsert")], "doc_id string, offset int, body string"
        ),
    )
    row, = point_lookup(spark, out, [99]).collect()
    assert row["body"] == "typed-upsert" and row["doc_id"] == 99


def test_concurrent_merges_serialize_without_data_loss(spark, docs_df, tmp_path):
    """Two writers merging CONCURRENTLY (the streaming-CDC + batch-
    backfill shape): the whole-merge store lock serializes generation
    allocation, staging writes, and commits, so both merges land and
    no committed row is lost — previously both could pick the same
    merge_v{gen} staging root and destroy each other's data."""
    import threading

    from pyspark.sql import functions as F

    from pdf_extractor_spark.lineage import read_output

    out = str(tmp_path / "out")
    run_with_lineage(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="r1")
    before = read_output(spark, out)
    n_before = before.count()
    keys = [
        (r["doc_id"], r["offset"])
        for r in before.select("doc_id", "offset").orderBy("doc_id", "offset")
        .limit(4).collect()
    ]
    schema = before.schema
    base = {
        r["doc_id"] + "|" + str(r["offset"]): r
        for r in before.filter(
            F.struct("doc_id", "offset").isin(
                [F.struct(F.lit(d), F.lit(o)) for d, o in keys]
            )
        ).collect()
    }

    def make_updates(tag, pair_slice):
        rows = []
        for d, o in pair_slice:
            r = base[d + "|" + str(o)].asDict()
            r["text"] = f"edit-{tag}"
            rows.append(tuple(r[f.name] for f in schema.fields))
        return spark.createDataFrame(rows, schema)

    errors = []

    from pdf_extractor_spark.lineage import upsert_elements

    def writer(tag, pair_slice):
        try:
            upsert_elements(spark, out, make_updates(tag, pair_slice))
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    t1 = threading.Thread(target=writer, args=("A", keys[:2]))
    t2 = threading.Thread(target=writer, args=("B", keys[2:]))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors
    after = read_output(spark, out)
    assert after.count() == n_before  # nothing lost, nothing duplicated
    got = {
        r["doc_id"] + "|" + str(r["offset"]): r["text"]
        for r in after.filter(
            F.struct("doc_id", "offset").isin(
                [F.struct(F.lit(d), F.lit(o)) for d, o in keys]
            )
        ).collect()
    }
    assert [got[d + "|" + str(o)] for d, o in keys[:2]] == ["edit-A", "edit-A"]
    assert [got[d + "|" + str(o)] for d, o in keys[2:]] == ["edit-B", "edit-B"]


def test_rebucket_store_roundtrip_time_travel_and_merge(spark, tmp_path):
    """Partition-spec evolution: expanding 4→8 buckets preserves
    content exactly, point lookups and subsequent MERGEs use the new
    bucketing, the pre-rebucket snapshot stays time-travel-readable
    (old layout) until vacuum expires it, and shrinking 8→3
    tombstones the dropped bucket ids."""
    import pyspark.sql.functions as F

    from pdf_extractor_spark.lineage import (
        bucket_of,
        init_store,
        merge_elements,
        point_lookup,
        read_lineage,
        read_output,
        rebucket_store,
        vacuum_store,
    )

    out = str(tmp_path / "store")
    rows = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).alias("offset"),
        F.concat(F.lit("payload-"), F.col("id")).alias("text"),
    )
    init_store(spark, out, rows, n_buckets=4)
    before = sorted(
        (r["doc_id"], r["offset"], r["text"])
        for r in read_output(spark, out).collect()
    )
    v_before = read_lineage(out)["__meta__"]["manifest_version"]

    manifest = rebucket_store(spark, out, 8, retain_snapshots=4)
    assert manifest["__meta__"]["n_buckets"] == 8
    after = sorted(
        (r["doc_id"], r["offset"], r["text"])
        for r in read_output(spark, out).collect()
    )
    assert after == before  # content identical under the new hash

    # data actually lives in the new layout: every row's file bucket
    # matches the NEW hash
    got = read_output(spark, out).select(
        "doc_id",
        F.input_file_name().alias("f"),
        bucket_of(F.col("doc_id"), 8).alias("want_b"),
    ).collect()
    for r in got:
        assert f"bucket={r['want_b']}/" in r["f"]

    # keyed read + merge on the evolved spec
    one = point_lookup(spark, out, [42]).collect()
    assert len(one) == 1 and one[0]["text"] == "payload-42"
    upd = spark.createDataFrame(
        [(42, 0, "payload-42-v2")], "doc_id LONG, offset LONG, text STRING"
    )
    merge_elements(spark, out, updates=upd, retain_snapshots=4)
    assert point_lookup(spark, out, [42]).collect()[0]["text"] == "payload-42-v2"

    # time travel to the pre-rebucket layout still works
    old = sorted(
        (r["doc_id"], r["offset"], r["text"])
        for r in read_output(spark, out, as_of=v_before).collect()
    )
    assert old == before

    # shrink with tombstones
    manifest = rebucket_store(spark, out, 3, retain_snapshots=4)
    assert manifest["__meta__"]["n_buckets"] == 3
    assert manifest["7"]["status"] == "superseded"
    final = sorted(
        (r["doc_id"], r["offset"], r["text"])
        for r in read_output(spark, out).collect()
    )
    assert len(final) == 200
    assert ("payload-42-v2" in {t for _, _, t in final})

    # expiry: vacuum with no retention drops snapshots; as_of now fails
    vacuum_store(out, retain_snapshots=0)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_output(spark, out, as_of=v_before).collect()


def test_rebucket_preserves_evolved_schema(spark, tmp_path):
    """Partition-spec evolution composes with schema evolution: a
    rebucket after ADD COLUMN carries the evolved manifest schema, so
    NULL-filled rows from pre-evolution files survive the re-hash and
    a patched value written before the rebucket stays readable."""
    import pyspark.sql.functions as F

    from pdf_extractor_spark.lineage import (
        evolve_store_schema,
        init_store,
        merge_elements,
        read_lineage,
        read_output,
        rebucket_store,
    )

    out = str(tmp_path / "store")
    rows = spark.range(0, 60).select(
        F.col("id").alias("doc_id"),
        F.lit(0).cast("long").alias("offset"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
    )
    init_store(spark, out, rows, n_buckets=4)
    evolve_store_schema(spark, out, {"quality": "double"})
    upd = spark.createDataFrame(
        [(7, 0, "t7", 0.93)],
        "doc_id LONG, offset LONG, text STRING, quality DOUBLE",
    )
    merge_elements(spark, out, updates=upd, retain_snapshots=2)

    rebucket_store(spark, out, 8, retain_snapshots=2)
    got = {r["doc_id"]: r for r in read_output(spark, out).collect()}
    assert len(got) == 60
    assert "quality" in read_output(spark, out).columns
    assert got[7]["quality"] == 0.93          # patched value survives
    assert got[8]["quality"] is None          # NULL-fill survives
    assert read_lineage(out)["__meta__"]["n_buckets"] == 8


def test_store_stats_report(spark, tmp_path):
    """store_stats mirrors the manifest: per-bucket rows sum to the
    committed totals, generations reflect merges, and a missing store
    raises (the reference's 'database does not exist' branch)."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from pdf_extractor_spark.lineage import (
        init_store,
        merge_elements,
        store_stats,
    )

    out = str(tmp_path / "store")
    with _pytest.raises(FileNotFoundError):
        store_stats(spark, out)
    rows = spark.range(0, 50).select(
        F.col("id").alias("doc_id"),
        F.lit(0).cast("long").alias("offset"),
        F.concat(F.lit("p"), F.col("id")).alias("text"),
    )
    init_store(spark, out, rows, n_buckets=4)
    upd = spark.createDataFrame(
        [(3, 0, "p3-v2")], "doc_id LONG, offset LONG, text STRING"
    )
    merge_elements(spark, out, updates=upd, retain_snapshots=2)
    got = {r["bucket"]: r for r in store_stats(spark, out).collect()}
    total = got.pop("__total__")
    assert total["row_count"] == 50
    assert sum(r["row_count"] for r in got.values()) == 50
    # init_store writes generation 1; the merge adds generation 2
    assert {r["version"] for r in got.values()} == {1, 2}
    assert all(r["status"] == "done" for r in got.values())
    assert "n_buckets=4" in total["status"]
