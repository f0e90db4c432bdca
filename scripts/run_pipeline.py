#!/usr/bin/env python
"""Production entry point — the spark-submit deployment mode.

    spark-submit --py-files /path/pdf_extractor_spark.zip \
        scripts/run_pipeline.py \
        --input  /data/docs_parquet \
        --output /data/extracted \
        --buckets 256 --merge-strategy default [--run-id r42]

Reads the interleaved docs table (doc_id, spans), runs the extraction
pipeline with per-bucket lineage commits, prints a one-line JSON
summary. Re-running with the same --output resumes: completed buckets
are skipped via the lineage manifest (north rule: idempotent
per-partition resume with recorded metrics).

Builds its own SparkSession only when spark-submit hasn't provided one
(so the same file works under spark-submit and bare python).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet dir of (doc_id, spans)")
    ap.add_argument("--output", required=True, help="output dir (bucketed parquet + lineage)")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--merge-strategy", default="default",
                    choices=["default", "conservative", "aggressive", "none"])
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pyspark.sql import SparkSession

    # Under spark-submit the master comes from the submit args: build
    # WITHOUT .master() so we never override --master. Bare `python`
    # runs have no master configured -> that getOrCreate raises -> fall
    # back to the local session factory.
    try:
        spark = (
            SparkSession.builder.appName("run_pipeline")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .getOrCreate()
        )
    except Exception:
        from pdf_extractor_spark.session import get_spark

        spark = get_spark("run_pipeline")
    from pdf_extractor_spark.lineage import run_with_lineage
    from pdf_extractor_spark.schema import DOCS_SCHEMA
    from pdf_extractor_spark.session import ensure_pyfiles

    ensure_pyfiles(spark)
    run_id = args.run_id or f"run-{int(time.time())}"
    docs = spark.read.schema(DOCS_SCHEMA).parquet(args.input)

    t0 = time.time()
    lineage = run_with_lineage(
        spark,
        docs,
        args.output,
        n_buckets=args.buckets,
        run_id=run_id,
        merge_strategy=args.merge_strategy,
    )
    wall = time.time() - t0
    from pdf_extractor_spark.lineage import META_KEY

    done = {
        b: e for b, e in lineage.items()
        if b != META_KEY and e["status"] == "done"
    }
    this_run = [e for e in done.values() if e["run_id"] == run_id]
    print(
        json.dumps(
            {
                "run_id": run_id,
                "buckets_total": len(done),
                "buckets_this_run": len(this_run),
                "rows_total": sum(e["row_count"] for e in done.values()),
                "bytes_total": sum(e["bytes"] for e in done.values()),
                "wall_s": round(wall, 2),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
