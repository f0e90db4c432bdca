#!/usr/bin/env python3
"""Closed-loop benchmark of the span-extraction engine.

    python3 perfbench/run.py --workload extract_flat --seed 1 --seconds 15 --trace 0

Run from the repository root. One process, one op in flight,
Spark ``local[nproc]`` with shuffle partitions = nproc. The last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"};
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones. Spark logs go to stderr. A run record with every op
wall, the host facts and (traced) every span is written to
``perfbench/_runs/``. See perfbench/README.md for the design.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    StealMeter,
    Tracer,
    alive,
    median,
    process_age_s,
    process_tree,
    tree_cpu_s,
    tree_peak_rss_mb,
)

STAGE_REPS = 3  # set-up repeated; the median counts in setup_s
JVM_HEAP = "2g"


def metric_units() -> tuple[dict, dict]:
    """{name: unit} of the end-to-end and per-layer metrics, from the
    BENCHMARK.json beside this directory."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(root: str, work: str, nproc: int) -> None:
    """Keep every file Spark and the package write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEM": JVM_HEAP,
        # -UsePerfData: no hsperfdata file in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    })
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, root)


def main(argv=None) -> int:
    args = parse_args(argv)
    # SIGTERM unwinds like an exception, so Spark is stopped and the
    # work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pdf_extractor_spark", "__init__.py")):
        log(f"no pdf_extractor_spark package under {root}; run from the repository root")
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    prepare_env(root, work, nproc)
    try:
        return run(args, root, work, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, root: str, work: str, nproc: int) -> int:
    import pyarrow
    import pyspark

    from workloads import WORKLOADS

    end_to_end, per_layer = metric_units()
    tracer = Tracer(bool(args.trace))
    steal = StealMeter()
    import pdf_extractor_spark
    from pdf_extractor_spark.session import get_spark

    if not os.path.abspath(pdf_extractor_spark.__file__).startswith(root + os.sep):
        log(f"imported {pdf_extractor_spark.__file__}, not the checkout's package")
        return 2

    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(f"perfbench.{args.workload}")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer, nproc)
        stage_walls = []
        for _ in range(STAGE_REPS):
            t0 = time.perf_counter()
            with tracer.span("corpus.stage"):
                wl.stage()
            stage_walls.append(time.perf_counter() - t0)

        ops: list[dict] = []

        def one_op(i: int, timed: bool, traced: bool) -> None:
            tracer.enabled, tracer.op = traced, i
            error = None
            try:
                c0, t0 = tree_cpu_s(), time.perf_counter()
                try:
                    items = wl.op(i)
                except Exception as e:  # noqa: BLE001 — a failed op is a result
                    log(f"op {i} raised {e!r}")
                    items, error = 0, repr(e)
                wall = time.perf_counter() - t0
                cpu = tree_cpu_s() - c0
            finally:
                tracer.enabled, tracer.op = bool(args.trace), None
            ops.append({"i": i, "items": items, "wall_s": wall, "cpu_s": cpu,
                        "timed": timed, "traced": traced, "error": error})

        for i in range(wl.warmup):
            one_op(i, timed=False, traced=False)
        first_op_age = process_age_s()
        setup_s = first_op_age - sum(stage_walls) + median(stage_walls)

        i, t_end = wl.warmup, time.perf_counter() + args.seconds
        while time.perf_counter() < t_end:
            # a traced run alternates untraced and traced ops
            one_op(i, timed=True, traced=bool(args.trace) and (i - wl.warmup) % 2 == 1)
            i += 1
        steal_pct = steal.pct()
        rss_mb = tree_peak_rss_mb()

        timed = [r for r in ops if r["timed"] and r["error"] is None]
        untraced = [r for r in timed if not r["traced"]]
        if not untraced:
            raise RuntimeError("no timed op completed")
        metrics = {
            "setup_s": setup_s,
            "items_per_s": median([r["items"] for r in timed]) / median([r["wall_s"] for r in untraced]),
            "cpu_ms_per_item": 1000.0 * sum(r["cpu_s"] for r in timed) / sum(r["items"] for r in timed),
            "peak_rss_mb": rss_mb,
        }
        if args.trace:
            layer = wl.layers(median([r["cpu_s"] for r in timed]),
                              median([r["items"] for r in timed]))
            layer.update({
                "session.start_s": session_s,
                "corpus.stage_s": median(stage_walls),
                "host.steal_pct": steal_pct,
                "host.cores": nproc,
                "trace.overhead_s": median([r["wall_s"] for r in timed if r["traced"]])
                - median([r["wall_s"] for r in untraced]),
            })
            out_metrics = {k: {"value": layer[k], "unit": u} for k, u in per_layer.items()}
        else:
            out_metrics = {k: {"value": metrics[k], "unit": u} for k, u in end_to_end.items()}

        for rec in ops:
            try:
                rec["correct"] = rec["error"] is None and bool(wl.check(rec["i"]))
            except Exception as e:  # noqa: BLE001 — a failed check is a result
                log(f"check of op {rec['i']} raised {e!r}")
                rec["correct"] = False
        checks = [r["correct"] for r in ops] + wl.probe_checks
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "item": wl.item,
            "host": {"nproc": nproc, "spark": pyspark.__version__,
                     "python": sys.version.split()[0], "pyarrow": pyarrow.__version__,
                     "steal_pct": steal_pct},
            "session_s": session_s, "stage_walls_s": stage_walls,
            "first_op_age_s": first_op_age, "ops": ops, "probe_checks": wl.probe_checks,
            "metrics": metrics, "spans": tracer.spans,
            "self_times_s": tracer.self_times() if args.trace else {},
        }
    finally:
        shutdown(spark)
    record["end_age_s"] = process_age_s()
    write_record(record)
    log(f"{args.workload} seed={args.seed}: {len(timed)} timed ops, "
        f"steal {steal_pct:.2f}%, {json.dumps(metrics)}")
    print(json.dumps({"correct": all(checks), "attempted": len(checks),
                      "failed": checks.count(False), "metrics": out_metrics}))
    return 0


def shutdown(spark) -> None:
    """Stop Spark and wait until the JVM and the Python workers it
    started have exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = [pid for pid, _ in process_tree(proc.pid)] if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(alive(pid) for pid in started) and time.monotonic() < deadline:
        time.sleep(0.1)


def write_record(record: dict) -> None:
    runs = os.path.join(HERE, "_runs")
    os.makedirs(runs, exist_ok=True)
    name = f"{record['workload']}-seed{record['seed']}-trace{record['trace']}-{os.getpid()}.json"
    with open(os.path.join(runs, name), "w") as f:
        json.dump(record, f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
