"""Store schema evolution (Iceberg ADD COLUMN analog): new nullable
columns register in the manifest with ZERO data-file rewrites; readers
NULL-fill older generations, writers may carry or omit the column, and
time travel resolves the schema from the snapshot."""

import os

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.corpus import corpus_rows
from pdf_extractor_spark.lineage import (
    META_KEY,
    evolve_store_schema,
    read_lineage,
    read_output,
    run_with_lineage,
    upsert_elements,
)
from pdf_extractor_spark.schema import DOCS_SCHEMA

N_DOCS = 16
N_BUCKETS = 4


@pytest.fixture()
def docs_df(spark):
    return spark.createDataFrame(corpus_rows(N_DOCS), schema=DOCS_SCHEMA)


@pytest.fixture()
def store(spark, docs_df, tmp_path):
    out = str(tmp_path / "out")
    run_with_lineage(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="r1")
    return out


def _data_files(out):
    files = []
    for root, _dirs, names in os.walk(out):
        files += [
            os.path.join(root, n) for n in names if n.endswith(".parquet")
        ]
    return sorted(files)


def test_evolve_adds_null_column_without_rewrite(spark, store):
    before_files = _data_files(store)
    before_rows = read_output(spark, store).count()
    pre_version = read_lineage(store)[META_KEY]["manifest_version"]

    schema = evolve_store_schema(spark, store, {"quality": "double"})
    assert schema.fields[-1].name == "quality"
    # zero data files touched — metadata-only commit
    assert _data_files(store) == before_files

    got = read_output(spark, store)
    assert "quality" in got.columns
    assert got.count() == before_rows
    assert got.filter(F.col("quality").isNotNull()).count() == 0

    # time travel to before the evolution reads the NARROW schema
    old = read_output(spark, store, as_of=pre_version)
    assert "quality" not in old.columns


def test_merge_after_evolution_mixes_generations(spark, store):
    evolve_store_schema(spark, store, {"quality": "double"})
    base = read_output(spark, store)
    base_count = base.count()  # materialize BEFORE the merge vacuums
    # update 3 rows WITH the new column populated; materialize the rows
    # too (a lazy handle over pre-merge files dies with the vacuum)
    upd_rows = base.orderBy("doc_id", "offset").limit(3).collect()
    upd = spark.createDataFrame(upd_rows, schema=base.schema).withColumn(
        "quality", F.lit(0.75)
    )
    touched = [(r["doc_id"], r["offset"]) for r in upd_rows]
    upsert_elements(spark, store, upd)

    got = read_output(spark, store)
    have = {
        (r["doc_id"], r["offset"]): r["quality"]
        for r in got.select("doc_id", "offset", "quality").collect()
    }
    for k in touched:
        assert have[k] == 0.75
    untouched_vals = {v for k, v in have.items() if k not in touched}
    assert untouched_vals == {None}
    assert len(have) == base_count


def test_compaction_keeps_evolved_columns(spark, store):
    """Compaction reads the store through the manifest schema: values
    an upsert wrote into an evolved column survive the rewrite (files
    predating the column still NULL-fill), and the store collapses to
    one file per non-empty bucket."""
    from pdf_extractor_spark.lineage import bucket_of, compact_store

    evolve_store_schema(spark, store, {"quality": "double"})
    base = read_output(spark, store)
    base_count = base.count()
    upd_rows = (
        base.filter(bucket_of(F.col("doc_id"), N_BUCKETS) == 3)
        .orderBy("doc_id", "offset")
        .limit(3)
        .collect()
    )
    assert len(upd_rows) == 3
    upsert_elements(
        spark, store,
        spark.createDataFrame(upd_rows, schema=base.schema).withColumn(
            "quality", F.lit(0.75)
        ),
    )

    compact_store(spark, store)

    have = {
        (r["doc_id"], r["offset"]): r["quality"]
        for r in read_output(spark, store)
        .select("doc_id", "offset", "quality")
        .collect()
    }
    assert len(have) == base_count
    touched = {(r["doc_id"], r["offset"]) for r in upd_rows}
    assert {have[k] for k in touched} == {0.75}
    assert {v for k, v in have.items() if k not in touched} == {None}
    n_loaded = sum(
        1
        for b, e in read_lineage(store).items()
        if b != META_KEY and e.get("row_count", 0) > 0
    )
    assert len(_data_files(store)) == n_loaded


def test_writer_omitting_evolved_column_null_fills(spark, store):
    evolve_store_schema(spark, store, {"quality": "double"})
    base = read_output(spark, store)
    upd = base.orderBy("doc_id", "offset").limit(2).drop("quality")
    keys = [(r["doc_id"], r["offset"]) for r in upd.collect()]
    upsert_elements(spark, store, upd)  # pre-evolution writer shape
    got = {
        (r["doc_id"], r["offset"]): r["quality"]
        for r in read_output(spark, store)
        .select("doc_id", "offset", "quality")
        .collect()
    }
    for k in keys:
        assert got[k] is None


def test_evolution_validation(spark, store):
    before = read_lineage(store)[META_KEY]["schema"]
    with pytest.raises(ValueError, match="empty"):
        evolve_store_schema(spark, store, {})
    with pytest.raises(ValueError, match="already exists"):
        evolve_store_schema(spark, store, {"doc_id": "long"})
    with pytest.raises(Exception):
        evolve_store_schema(spark, store, {"broken": "not_a_type!!"})
    # failed calls must not have committed anything
    assert read_lineage(store)[META_KEY]["schema"] == before

    evolve_store_schema(spark, store, {"a": "string"})
    with pytest.raises(ValueError, match="already exists"):
        evolve_store_schema(spark, store, {"A": "string"})  # case-insensitive


def test_second_evolution_stacks(spark, store):
    evolve_store_schema(spark, store, {"quality": "double"})
    evolve_store_schema(spark, store, {"tag": "string"})
    got = read_output(spark, store)
    assert {"quality", "tag"} <= set(got.columns)
    meta = read_lineage(store)[META_KEY]
    assert meta["evolved_columns"] == ["quality", "tag"]


def test_unknown_update_column_raises(spark, store):
    evolve_store_schema(spark, store, {"quality": "double"})
    base = read_output(spark, store)
    upd = spark.createDataFrame(
        base.limit(1).collect(), schema=base.schema
    ).withColumn("mystery", F.lit("x"))
    with pytest.raises(ValueError, match="mystery"):
        upsert_elements(spark, store, upd)


def test_patch_evolved_column(spark, store):
    """patch_elements sees evolved columns through read_output, so a
    sparse patch can populate a column added after the data landed."""
    from pdf_extractor_spark.lineage import patch_elements

    evolve_store_schema(spark, store, {"quality": "double"})
    base = read_output(spark, store)
    keys = base.orderBy("doc_id", "offset").limit(2).select(
        "doc_id", "offset"
    ).collect()
    patches = spark.createDataFrame(
        [(k["doc_id"], k["offset"], 0.5) for k in keys],
        schema="doc_id string, offset int, quality double",
    )
    patch_elements(spark, store, patches)
    got = {
        (r["doc_id"], r["offset"]): r["quality"]
        for r in read_output(spark, store)
        .select("doc_id", "offset", "quality")
        .collect()
    }
    for k in keys:
        assert got[(k["doc_id"], k["offset"])] == 0.5
    assert sum(1 for v in got.values() if v == 0.5) == 2


def test_schema_evolution_fuzz(spark, tmp_path):
    """Composition fuzz: evolve / upsert-with / upsert-omitting /
    patch-evolved / delete interleaved randomly, the store checked
    against a dict oracle after EVERY commit; time travel at the end
    must reproduce both the DATA and the SCHEMA of each retained
    snapshot."""
    import random

    from pdf_extractor_spark.lineage import (
        delete_elements,
        init_store,
        list_snapshots,
        patch_elements,
    )

    rng = random.Random(77)
    out = str(tmp_path / "store")
    base_cols = ["body"]  # beyond the MERGE keys
    oracle = {(i, 0): {"body": f"b{i}"} for i in range(40)}
    init_store(
        spark, out,
        spark.createDataFrame(
            [(k[0], k[1], v["body"]) for k, v in oracle.items()],
            "doc_id long, offset int, body string",
        ),
        n_buckets=4,
    )
    cols = list(base_cols)
    n_evolved = 0

    def store_version():
        return read_lineage(out)[META_KEY]["manifest_version"]

    def snapshot(as_of=None):
        df = read_output(spark, out, as_of=as_of)
        return (
            sorted(df.columns),
            {
                (r["doc_id"], r["offset"]): {
                    c: r[c] for c in df.columns if c not in ("doc_id", "offset")
                }
                for r in df.collect()
            },
        )

    def oracle_rows():
        return {
            k: {c: v.get(c) for c in cols} for k, v in oracle.items()
        }

    history = {store_version(): (list(cols), oracle_rows())}

    def df_of(rows, with_cols):
        schema = "doc_id long, offset int, " + ", ".join(
            f"{c} string" for c in with_cols
        )
        return spark.createDataFrame(rows, schema)

    for step in range(8):
        # step 0 always evolves so every later op can hit the evolved
        # schema; afterwards the walk is free-random
        op = "evolve" if step == 0 else rng.choice(
            ["evolve", "upsert_full", "upsert_omit", "patch_new", "delete"]
        )
        if op == "evolve":
            n_evolved += 1
            name = f"x{n_evolved}"
            evolve_store_schema(spark, out, {name: "string"})
            cols.append(name)
        elif op in ("upsert_full", "upsert_omit"):
            use = (
                cols
                if op == "upsert_full" or len(cols) == len(base_cols)
                else cols[:-1]
            )
            keys = rng.sample(sorted(oracle), 3)
            rows = [
                tuple([k[0], k[1]] + [f"{c}.{step}.{k[0]}" for c in use])
                for k in keys
            ]
            upsert_elements(spark, out, df_of(rows, use), retain_snapshots=3)
            for r in rows:
                k = (r[0], r[1])
                oracle[k] = dict(zip(use, r[2:]))  # omitted evolved -> absent
        elif op == "patch_new":
            if len(cols) == len(base_cols):
                continue
            target = cols[-1]
            keys = rng.sample(sorted(oracle), 2)
            rows = [(k[0], k[1], f"{target}!{step}") for k in keys]
            patch_elements(
                spark, out,
                df_of(rows, [target]),
                retain_snapshots=3,
            )
            for k in keys:
                oracle[k][target] = f"{target}!{step}"
        else:
            keys = rng.sample(sorted(oracle), 2)
            delete_elements(
                spark, out,
                spark.createDataFrame(list(keys), "doc_id long, offset int"),
                retain_snapshots=3,
            )
            for k in keys:
                oracle.pop(k)
        got_cols, got = snapshot()
        assert got_cols == sorted(["doc_id", "offset"] + cols), op
        assert got == oracle_rows(), f"divergence after step {step} ({op})"
        history[store_version()] = (list(cols), oracle_rows())

    assert n_evolved >= 1  # the walk must actually evolve
    checked = 0
    for v in list_snapshots(out):
        if v in history:
            want_cols, want = history[v]
            got_cols, got = snapshot(as_of=v)
            assert got_cols == sorted(["doc_id", "offset"] + want_cols), v
            assert got == want, f"time-travel divergence at v{v}"
            checked += 1
    assert checked >= 2
