#!/usr/bin/env python
"""10x scale stress (sf1-equivalent): ~240k interleaved docs.

The graded suites run at sf0.01/sf0.1 (500/5,000 docs). This drill
synthesizes a ~240,000-document corpus (48x the bench corpus; the
corpus generator is deterministic in doc_id so any scale can be
staged) and pushes the headline extraction path plus the heaviest
analytics family — exact dedup, MinHash/LSH survivors, connected
components, incremental near-dup ingest — through it once, recording
wall plus shuffle read/write bytes per phase into
``BENCH/SCALE_STRESS_r04.json``.

Scale assertions (failures exit non-zero):
* **no hot task**: max partition share of the dedup pool and max
  (band_id, band_hash) bucket width both ≤ 5% of rows — the
  test_dedup_skew boundedness argument, re-checked at 48x;
* **no driver-memory growth**: driver peak RSS grows < 500 MB across
  the run (everything driver-side is bounded metadata: bucket counts,
  band-hash prefixes, convergence probes).

Usage: python scripts/scale_stress.py [n_docs] (default 240000)
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DOCS_DEFAULT = 240_000
N_INJECTED = 5_000       # exact-dup copies injected into the pool
INGEST_BATCH = 20_000    # incremental-ingest second batch size
UI_PORT = 4057
MAX_TASK_SHARE = 0.05
MAX_DRIVER_GROWTH_MB = 500


def rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def rest_shuffle_totals(app_id: str) -> dict:
    url = f"http://localhost:{UI_PORT}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=10) as r:
        stages = json.loads(r.read())
    return {
        "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "input_bytes": sum(s.get("inputBytes", 0) for s in stages),
        "n_stages": len(stages),
    }


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else N_DOCS_DEFAULT

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from pdf_extractor_spark.session import ensure_pyfiles

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.appName("scale_stress")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.session.timeZone", "UTC")
        # one staged file = one read split: at toy scale the 128 staged
        # files are far below maxPartitionBytes, so the default packer
        # would merge them into arbitrary uneven splits; at real scale
        # files are ~maxPartitionBytes-sized and never packed. Pricing a
        # file open at 128 MB reproduces the at-scale split shape.
        .config("spark.sql.files.openCostInBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "true")        # REST metrics source
        .config("spark.ui.port", str(UI_PORT))
        .config("spark.locality.wait", "0")
        .getOrCreate()
    )
    ensure_pyfiles(spark)
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    from pdf_extractor_spark.analytics.dedup import (
        _band_star_edges,
        _survivors_from_pool,
        _with_bands,
        band_store_init,
        connected_components,
        neardup_ingest,
    )
    from pdf_extractor_spark.corpus import corpus_df, corpus_fingerprint
    from pdf_extractor_spark.operators.extract import extract_elements

    report: dict = {"n_docs": n_docs, "cpus": int(cpus), "phases": {}, "asserts": {}}
    failures: list[str] = []

    def phase(name: str, fn):
        before = rest_shuffle_totals(app_id)
        t0 = time.time()
        out = fn()
        wall = time.time() - t0
        after = rest_shuffle_totals(app_id)
        report["phases"][name] = {
            "wall_sec": round(wall, 2),
            "result": out,
            "shuffle_read_mb": round(
                (after["shuffle_read_bytes"] - before["shuffle_read_bytes"]) / 2**20, 1
            ),
            "shuffle_write_mb": round(
                (after["shuffle_write_bytes"] - before["shuffle_write_bytes"]) / 2**20, 1
            ),
        }
        print(f"{name}: {wall:.1f}s {report['phases'][name]}", file=sys.stderr)
        return out

    # --- stage the corpus (untimed vs the phases; cached by fingerprint)
    fp = corpus_fingerprint(n=n_docs, mega_every=50, mega_factor=20)
    corpus_path = f"/tmp/stress_corpus_{n_docs}_{fp}.parquet"
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        corpus_df(
            spark, n_docs, mega_every=50, mega_factor=20, partitions=int(cpus) * 4
        ).write.mode("overwrite").parquet(corpus_path)
    docs = spark.read.parquet(corpus_path)

    rss_start = rss_mb()

    # --- 1. headline extraction at 48x ---------------------------------
    flat = extract_elements(docs)
    flat.count()  # warm pass: python-worker spinup priced out (long-running-cluster steady state)
    n_elements = phase("extract_elements", flat.count)
    report["docs_per_sec_extract"] = round(
        n_docs / report["phases"]["extract_elements"]["wall_sec"], 1
    )

    # --- 2. the dedup pool: one text per doc + injected exact dups -----
    doc_text = docs.select(
        "doc_id",
        F.array_join(F.transform("spans", lambda s: s["text"]), " ").alias("text"),
    ).select(
        F.regexp_replace("doc_id", "doc-", "").cast("long").alias("doc_id"), "text"
    )
    dups = doc_text.filter(F.col("doc_id") < N_INJECTED).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    pool = doc_text.unionByName(dups)
    pool_path = f"/tmp/stress_pool_{n_docs}_{fp}.parquet"
    if not os.path.exists(os.path.join(pool_path, "_SUCCESS")):
        # explicit repartition: the pool is the input of every dedup
        # phase; a write-side AQE coalesce would hand one task an
        # outsized split and the partition-share probe below would
        # measure staging luck instead of operator shape
        pool.repartition(int(cpus) * 4).write.mode("overwrite").parquet(pool_path)
    pool = spark.read.parquet(pool_path)
    n_pool = pool.count()

    # hot-task probe: partition share of the pool scan
    part_max = (
        pool.groupBy(F.spark_partition_id().alias("p")).count().agg(F.max("count")).first()[0]
    )
    report["asserts"]["max_partition_share"] = round(part_max / n_pool, 4)
    if part_max / n_pool > MAX_TASK_SHARE:
        failures.append(f"hot input partition: {part_max}/{n_pool}")

    # --- 3. exact dedup --------------------------------------------------
    phase(
        "exact_dedup",
        lambda: pool.groupBy(F.md5("text").alias("fp"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .count(),
    )

    # --- 4. LSH survivors ------------------------------------------------
    n_surv = phase("lsh_survivors", lambda: _survivors_from_pool(pool).count())
    report["asserts"]["survivors"] = n_surv

    # band-bucket width bound (test_dedup_skew at 48x): width over the
    # COLLAPSED representatives, vs pool rows
    groups = pool.groupBy("text").agg(F.min("doc_id").alias("rep"))
    bands = _with_bands(groups.select(F.col("rep").alias("doc_id"), "text"))
    n_bands = bands.count()
    widest = (
        bands.groupBy("band_id", "band_hash").count().agg(F.max("count")).first()[0]
    )
    # share of the JOIN INPUT rows (LSH_BANDS rows per collapsed rep) —
    # the quantity one hash bucket actually owns in the self-join stage
    report["asserts"]["max_band_bucket_share"] = round(widest / n_bands, 6)
    if widest / n_bands > MAX_TASK_SHARE:
        failures.append(f"hot band bucket: {widest}/{n_bands}")

    # --- 5. connected components ----------------------------------------
    def run_cc():
        # the production edge generation: per-bucket spanning stars
        # (identical components to the all-pairs clique at O(width) —
        # the all-pairs form OOM'd this phase at 240k docs)
        pairs = _band_star_edges(bands)
        labels = connected_components(groups.select(F.col("rep").alias("doc_id")), pairs)
        return labels.select("survivor").distinct().count()

    phase("connected_components", run_cc)

    # --- 6. incremental near-dup ingest ----------------------------------
    store_dir = f"/tmp/stress_bandstore_{n_docs}_{fp}"
    import shutil

    shutil.rmtree(store_dir, ignore_errors=True)

    def run_ingest():
        base = pool.filter(F.col("doc_id") >= INGEST_BATCH)
        batch = pool.filter(F.col("doc_id") < INGEST_BATCH)
        band_store_init(spark, store_dir, base)
        statuses = neardup_ingest(spark, store_dir, batch, "b1")
        return {r["status"]: r["n"] for r in
                statuses.groupBy("status").agg(F.count("*").alias("n")).collect()}

    phase("incremental_ingest", run_ingest)

    # --- 7. corpus-build composition at 48x -------------------------------
    # The span corpus's texts legitimately fail the Gopher gate
    # (markdown/table tokens sink alpha_frac; no stoplist words), so
    # the composition is stressed over a documents-SHAPED corpus
    # synthesized natively: n_docs rows of 60-179 deterministic
    # xxhash-picked words from an alphabetic vocab that includes the
    # stoplist (so the gate passes the way web text does), exact-dup
    # tails injected for the dedup stage. All native expressions —
    # generation itself is map-only and never a UDF.
    from pdf_extractor_spark.analytics.corpus_build import corpus_build_from_docs
    from pdf_extractor_spark.analytics.quality_rules import GOPHER_STOPWORDS

    langs = ["en", "de", "fr", "es", "zh"]
    base_vocab = [
        f"{c1}{c2}term" for c1 in "abcdefgh" for c2 in "aeiou"
    ] + ["corpus", "signal", "window", "stream", "vector", "filter",
         "sample", "bucket"] + GOPHER_STOPWORDS
    vocab_arr = F.array(*[F.lit(w) for w in base_vocab])
    fresh = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    build_dups = fresh.filter(F.col("doc_id") < N_INJECTED).select(
        (F.col("doc_id") + 20_000_000).alias("src_id"),
        F.col("doc_id").alias("text_of"),
    )
    gen = fresh.select(
        "doc_id", F.col("doc_id").alias("text_of")
    ).unionByName(
        build_dups.select(F.col("src_id").alias("doc_id"), "text_of")
    )
    # text derives from text_of so injected ids are byte-identical dups
    docs_tbl = gen.select(
        F.col("doc_id"),
        F.element_at(
            F.array(*[F.lit(l) for l in langs]),
            (F.pmod(F.col("doc_id"), F.lit(len(langs))) + 1).cast("int"),
        ).alias("lang"),
        F.col("text_of").alias("_tid"),
    ).select(
        "doc_id", "lang",
        F.array_join(
            F.transform(
                F.sequence(
                    F.lit(1),
                    (F.pmod(F.xxhash64(F.col("_tid"), F.lit("n")), F.lit(120)) + 60)
                    .cast("int"),
                ),
                lambda i: F.element_at(
                    vocab_arr,
                    (F.pmod(F.xxhash64(F.col("_tid"), i), F.lit(len(base_vocab))) + 1)
                    .cast("int"),
                ),
            ),
            " ",
        ).alias("text"),
    )
    build_path = f"/tmp/stress_builddocs_{n_docs}_{fp}.parquet"
    if not os.path.exists(os.path.join(build_path, "_SUCCESS")):
        docs_tbl.repartition(int(cpus) * 4).write.mode("overwrite").parquet(build_path)
    docs_tbl = spark.read.parquet(build_path)

    def run_build():
        rows = corpus_build_from_docs(spark, docs_tbl).collect()  # ≤48 rows
        return {
            "manifest_rows": len(rows),
            "n_docs_sampled": sum(r.n_docs for r in rows),
            "total_tokens": sum(r.total_tokens for r in rows),
        }

    build_out = phase("corpus_build", run_build)
    if build_out["n_docs_sampled"] == 0:
        failures.append("corpus_build sampled zero docs")

    # --- driver growth ----------------------------------------------------
    growth = rss_mb() - rss_start
    report["asserts"]["driver_rss_growth_mb"] = round(growth, 1)
    if growth > MAX_DRIVER_GROWTH_MB:
        failures.append(f"driver RSS grew {growth:.0f} MB")

    report["n_elements"] = n_elements
    report["n_pool"] = n_pool
    report["failures"] = failures
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH", "SCALE_STRESS_r04.json",
    )
    with open(out_path, "w") as f:
        json.dump(report, f, indent=2)
    print(json.dumps(report))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
