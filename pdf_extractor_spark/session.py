"""SparkSession factory with scale-oriented defaults.

Settings chosen for the 100 TB design point (SURVEY.md §4 "custom Spark
work"): AQE on (runtime re-plan + skew-join splitting), Arrow transfer
on with bounded batch sizes so a batch of large span arrays cannot blow
an executor's Python worker (reference analog: the 1 GiB memory guard,
table_extraction.py:59).
"""

from __future__ import annotations

import functools
import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


@functools.cache
def _build_package_zip() -> str:
    """Zip this package so executors can import it — the programmatic
    equivalent of ``spark-submit --py-files`` (north rule deployment
    mode). Without this, UDFs unpickle-fail on workers whenever the
    driver wasn't launched from the repo root.

    The zip is CONTENT-ADDRESSED (sha256 of member paths + bytes in the
    name) and built deterministically (sorted members, fixed
    timestamps): a basename match in the session's file registry then
    proves the very code being imported is what executors already hold
    — a stale zip from another checkout gets a different name and is
    shipped fresh instead of silently skipped.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    members: list[tuple[str, bytes]] = []
    h = hashlib.sha256()
    for root, dirs, files in os.walk(pkg_dir):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                with open(full, "rb") as fh:
                    data = fh.read()
                members.append((rel, data))
                h.update(rel.encode())
                h.update(b"\0")
                h.update(data)
    out = os.path.join(
        tempfile.gettempdir(),
        f"pdf_extractor_spark_pyfiles_{h.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(out):
        tmp = out + f".tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as zf:
            for rel, data in members:
                info = zipfile.ZipInfo(rel, date_time=(1980, 1, 1, 0, 0, 0))
                zf.writestr(info, data)
        os.replace(tmp, out)
    return out


def _package_zip() -> str:
    """The package zip, hashed once per process; a zip whose file has
    gone since (a cleaned temp dir) is hashed and built again."""
    out = _build_package_zip()
    if not os.path.exists(out):
        _build_package_zip.cache_clear()
        out = _build_package_zip()
    return out


def ensure_pyfiles(spark: SparkSession) -> None:
    """Ship this package to executors on an externally-created session
    (the driver contract hands us its own SparkSession). Idempotent —
    the zip name is content-addressed, so finding it among the
    session's Python includes means THIS exact code is already shipped;
    any other zip (same package, different content) falls through to
    addPyFile. PySpark records there the name of every ``addPyFile``
    and ``spark.submit.pyFiles`` archive; reading it is a driver-side
    list lookup, where walking ``sc.listFiles`` through py4j cost about
    20 ms per call."""
    zip_path = _package_zip()
    sc = spark.sparkContext
    if os.path.basename(zip_path) in sc._python_includes:
        return
    sc.addPyFile(zip_path)


def get_spark(
    app_name: str = "pdf_extractor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 1024,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # an explicit shuffle_partitions argument always wins; only the
    # fallback depends on whether SPARK_GRAFT_CPUS is numeric (it can
    # legitimately be '*' for local[*])
    if shuffle_partitions is not None:
        shuffle = shuffle_partitions
    elif str(cpus).isdigit():
        shuffle = int(cpus)
    else:
        shuffle = 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound Arrow batches by rows here (SURVEY.md §4 item 3); the
        # byte bound is Spark's arrow.maxBytesPerBatch (default 64 MiB),
        # which cuts a batch early when a few mega-doc span arrays fill
        # it — every doc, mega or not, takes the one mapInArrow pass.
        # Measured: 1024 is ~35% faster than 256 on the sf0.1 corpus
        # (less per-batch overhead); 4096 regresses.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        # single-executor local mode has no locality tiers to wait for —
        # the default 3s spark.locality.wait only delays task launch
        # (measured ~40ms/job on the extraction headline). On a real
        # cluster the default stays: HDFS/shuffle locality matters there.
        builder = builder.config("spark.locality.wait", "0")
    spark = builder.getOrCreate()
    ensure_pyfiles(spark)
    return spark
