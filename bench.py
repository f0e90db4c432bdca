#!/usr/bin/env python
"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR.

Prints exactly ONE JSON line on stdout:
  {"metric": ..., "value": <total_sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "docs_per_sec": ...,
   "walls": {name: [sec, ...]}, "build_s": {name: [sec, ...]},
   "run_s": {name: [sec, ...]}, "host_cores": ...}

``queries`` holds each headline's min timed wall and ``value`` their
sum. ``walls`` lists every timed wall in order. A headliner's wall is
its DataFrame build (``build_s``) plus its noop-write run (``run_s``).

The extraction headline stages its deterministic corpus to parquet
(untimed — input materialization is not extraction) and then times a
warm full-pipeline pass, so docs_per_sec is the BASELINE.json metric:
documents/sec extraction throughput. Logs go to stderr. Env:
SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from pdf_extractor_spark.analytics import QUERIES
    from pdf_extractor_spark.analytics.extraction_queries import (
        spans_corpus_from_documents,
    )
    from pdf_extractor_spark.operators.extract import extract_elements
    from pdf_extractor_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    all_walls: dict[str, list[float]] = {}
    build_s: dict[str, list[float]] = {}
    run_s: dict[str, list[float]] = {}

    # --- extraction headline: corpus staged untimed, warm, min of 2 ---
    from pdf_extractor_spark.corpus import corpus_fingerprint

    # fingerprint keys the cache on generator source + params: editing
    # make_doc_spans can't silently time a stale staged corpus
    fp = corpus_fingerprint(mega_every=50, mega_factor=20)
    corpus_path = f"/tmp/bench_corpus_sf{sf}_{fp}.parquet"
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        # spans_corpus_from_documents repartitions internally so the
        # corpus (and the timed extraction) parallelize across cores
        spans_corpus_from_documents(spark, sf_dir).write.mode("overwrite").parquet(
            corpus_path
        )
    docs = spark.read.parquet(corpus_path)
    n_docs = docs.count()
    flat = extract_elements(docs)
    # two warm passes: python workers spawn on the first, codegen/JIT
    # and executor-side caches settle on the second (measured: pass 2
    # is still ~20% slower than steady state on this host)
    flat.count()
    flat.count()
    walls = []
    for _ in range(3):
        t0 = time.time()
        flat.count()
        walls.append(time.time() - t0)
    extract_wall = min(walls)
    timings["extract_elements_flat"] = round(extract_wall, 3)
    all_walls["extract_elements_flat"] = [round(w, 3) for w in walls]
    log(f"extract: {extract_wall:.2f}s over {n_docs} docs")

    # --- analytics headliners (same protocol as extraction: warm
    # passes, then min-of-3 — this host's CPU-steal bursts make single
    # cold shots ±20-100% noisy; see BENCH/BASELINE.md variance
    # disclosure; min-of-N is the filter).
    # Terminal action is a noop-format write, NOT count(): count() lets
    # Catalyst prune pure projections (e.g. the MinHash signature
    # columns), which would time a plan the real consumer never runs.
    def run_full(df):
        df.write.format("noop").mode("overwrite").save()

    for name, spec in QUERIES.items():
        if not spec.headline or name == "extract_elements_flat":
            continue
        run_full(spec.fn(spark, sf_dir))  # warm: scan cache + codegen
        builds, runs = [], []
        for _ in range(3):
            t0 = time.time()
            df = spec.fn(spark, sf_dir)
            t1 = time.time()
            run_full(df)
            builds.append(t1 - t0)
            runs.append(time.time() - t1)
        q_walls = [b + r for b, r in zip(builds, runs)]
        wall = min(q_walls)
        timings[name] = round(wall, 3)
        all_walls[name] = [round(w, 3) for w in q_walls]
        build_s[name] = [round(b, 3) for b in builds]
        run_s[name] = [round(r, 3) for r in runs]
        log(f"{name}: {wall:.2f}s")
    spark.stop()

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline query wall time (extraction + analytics suite)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "docs_per_sec": round(n_docs / extract_wall, 2),
                "n_docs_extracted": n_docs,
                "walls": all_walls,
                "build_s": build_s,
                "run_s": run_s,
                "host_cores": len(os.sched_getaffinity(0)),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
