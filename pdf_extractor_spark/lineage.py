"""Per-partition checkpoint/lineage + idempotent resume (north rule).

Reference analog: the per-file JSON table cache that lets a crashed
run skip already-extracted documents (table_extraction.py:256-283,
load_or_extract_tables short-circuit at :267-280). At 100 TB that
becomes a *lineage table*: one row per completed bucket with recorded
row-count / byte / wall-time metrics, and resume = anti-join of the
input's buckets against the completed set — exactly the shape of
SURVEY.md §4 custom-work item 4.

Bucketing is ``pmod(xxhash64(doc_id), n_buckets)`` — a pure function
of the data (NOT spark_partition_id()), so a resumed run with a
different parallelism or input split layout still agrees on what a
"partition" is. Output is laid out as one parquet subtree per bucket
(Iceberg partition stand-in); a bucket directory is only ever written
whole, then its lineage row committed after, so a crash between the
two leaves a re-doable bucket, never a half-counted one
(write-then-commit ordering = idempotent at-least-once).
"""

from __future__ import annotations

import fcntl
import json
import os
import re
import shutil
import time
from contextlib import contextmanager
from typing import Callable, Iterable, Optional

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators.extract import extract_elements

LINEAGE_FILE = "lineage.json"  # tiny driver-side manifest (Iceberg stand-in)
META_KEY = "__meta__"          # manifest metadata (n_buckets guard)
LOCK_WAIT_S = 60.0             # manifest-swap acquisition timeout
MERGE_LOCK_WAIT_S = 600.0      # whole-merge lock: writers serialize on it


def _bucket_items(lineage: dict):
    return [(b, e) for b, e in lineage.items() if b != META_KEY]


def bucket_of(doc_id_col, n_buckets: int):
    return F.pmod(F.xxhash64(doc_id_col), F.lit(n_buckets)).cast("int")


def _store_schema(lineage: dict) -> T.StructType:
    """The store's schema (every column but ``bucket``). The writer that
    creates the store records it in the manifest META and
    :func:`evolve_store_schema` widens it; every store read and MERGE
    goes through it, so no read infers a schema from the data files.
    Its ``doc_id`` type is the store's native key type, which keyed
    reads and MERGE routing hash with (``xxhash64("5") !=
    xxhash64(5L)`` — a mistyped probe prunes to buckets that cannot
    contain the key)."""
    meta = lineage.get(META_KEY)
    if not meta:
        raise FileNotFoundError("no lineage manifest: no committed store")
    return T.StructType.fromJson(meta["schema"])


def _conform_updates(
    df: DataFrame, schema: T.StructType, evolved: list[str]
) -> DataFrame:
    """Align an update batch with the store schema (every MERGE does):
    EVOLVED columns absent from the batch fill with NULL (a writer
    predating the evolution keeps working); original columns must be
    present — the projection raises on a genuinely malformed batch —
    and columns the store does not know raise instead of silently
    dropping. Output is in schema order so every generation file lays
    out identically."""
    unknown = set(df.columns) - {f.name for f in schema.fields}
    if unknown:
        raise ValueError(
            f"update columns not in store schema: {sorted(unknown)} "
            "(evolve_store_schema first)"
        )
    for f in schema.fields:
        if f.name in evolved and f.name not in df.columns:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
    return df.select(*[f.name for f in schema.fields])


def evolve_store_schema(
    spark: SparkSession, output_dir: str, add_columns: dict[str, str]
) -> T.StructType:
    """Iceberg ADD COLUMN analog: register new nullable columns on the
    keyed store WITHOUT rewriting a single data file.

    ``add_columns`` maps column name → Spark DDL type string (e.g.
    ``{"quality": "double"}``). The evolved schema is committed into
    the manifest META (one manifest swap — snapshotted, so
    ``read_output(as_of=pre_evolution_version)`` time-travels to the
    narrow schema); data files written before the evolution simply
    lack the column and read back as NULL via the manifest schema,
    exactly Iceberg's read-time reconciliation. Later MERGE writers
    may carry the new columns or omit them (omission fills NULL);
    rewrites happen only when a merge touches a bucket anyway.

    Add-only by design (drop/rename need column-id indirection parquet
    names can't give); duplicate names and unparseable types raise
    before anything commits.
    """
    if not add_columns:
        raise ValueError("add_columns is empty")
    with _manifest_lock(output_dir, wait_s=MERGE_LOCK_WAIT_S):
        lineage = read_lineage(output_dir)
        schema = _store_schema(lineage)
        meta = lineage[META_KEY]
        existing = {f.name.lower() for f in schema.fields}
        evolved = list(meta.get("evolved_columns") or [])
        fields = list(schema.fields)
        for name, ddl in add_columns.items():
            if name.lower() in existing:
                raise ValueError(
                    f"column {name!r} already exists in the store schema"
                )
            dt = T._parse_datatype_string(ddl)  # raises on junk DDL
            fields.append(T.StructField(name, dt, True))
            existing.add(name.lower())
            evolved.append(name)
        new_schema = T.StructType(fields)
        _commit_lineage(
            output_dir,
            {
                META_KEY: {
                    "schema": new_schema.jsonValue(),
                    "evolved_columns": evolved,
                }
            },
            locked=True,
        )
        return new_schema


def _lineage_path(output_dir: str) -> str:
    return os.path.join(output_dir, LINEAGE_FILE)


def _snapshot_path(output_dir: str, version: int) -> str:
    return os.path.join(output_dir, f"lineage.v{version}.json")


def _snapshot_versions(output_dir: str) -> list[int]:
    """Versions of the retained manifest snapshots, ascending."""
    names = os.listdir(output_dir)
    found = (re.fullmatch(r"lineage\.v(\d+)\.json", n) for n in names)
    return sorted(int(m.group(1)) for m in found if m)


def read_lineage(
    output_dir: str, as_of: Optional[int] = None
) -> dict[str, dict]:
    """Current manifest, or — with ``as_of`` — the snapshot committed
    at that ``manifest_version`` (time travel; raises if the snapshot
    was expired by :func:`vacuum_store`)."""
    if as_of is not None:
        current = read_lineage(output_dir)
        cur_v = current.get(META_KEY, {}).get("manifest_version", 0)
        if as_of == cur_v:
            return current
        snap = _snapshot_path(output_dir, as_of)
        if not os.path.exists(snap):
            raise FileNotFoundError(
                f"no snapshot at manifest_version={as_of} under "
                f"{output_dir} (current={cur_v}; expired snapshots are "
                "removed by vacuum_store retention)"
            )
        with open(snap) as f:
            return json.load(f)
    path = _lineage_path(output_dir)
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


@contextmanager
def flock_file(lock: str, wait_s: float = LOCK_WAIT_S):
    """Exclusive lock via ``fcntl.flock`` on a permanent lock file.
    Advisory fd locks release automatically when the holder dies,
    so there is no staleness heuristic to mis-judge and no
    check-then-steal window (the previous O_EXCL + mtime-steal protocol
    had both: a TOCTOU between the staleness check and the steal, and a
    stalled-but-alive holder that, once stolen from, would overwrite
    the stealer's commit). The lock file itself is never unlinked —
    unlinking would let a late holder delete the CURRENT holder's lock
    by name. Works across processes and across threads (each ``open``
    is its own file description). Acquisition is bounded: a wedged
    holder surfaces as a TimeoutError, never an indefinite hang.
    Shared by the lineage manifest lock and the band/vector store
    locks (analytics/dedup.py).
    """
    fd = os.open(lock, os.O_CREAT | os.O_RDWR)
    try:
        deadline = time.time() + wait_s
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except OSError:
                if time.time() > deadline:
                    raise TimeoutError(
                        f"could not acquire lock {lock} within "
                        f"{wait_s}s (another writer holds the store)"
                    )
                time.sleep(0.005)
        yield
    finally:
        try:
            fcntl.flock(fd, fcntl.LOCK_UN)
        except OSError:
            pass
        os.close(fd)


def _manifest_lock(output_dir: str, wait_s: float = LOCK_WAIT_S):
    return flock_file(_lineage_path(output_dir) + ".lock", wait_s)


def _commit_lineage(
    output_dir: str, delta: dict[str, dict], locked: bool = False
) -> dict[str, dict]:
    """Concurrency-safe manifest commit: merge ``delta`` into the
    CURRENT manifest under the exclusive store lock, then
    atomic-rename.

    Two concurrent committers (e.g. streaming CDC + a batch backfill)
    previously raced read→write and the loser's rows were silently
    dropped; the lock serializes read-merge-write so both deltas land
    (the file-system stand-in for Iceberg's optimistic manifest swap —
    ``manifest_version`` in the META row is the swap counter).
    ``locked=True`` means the caller already holds the store lock
    (e.g. ``merge_elements`` holds it across data write + commit).
    """
    if not locked:
        with _manifest_lock(output_dir):
            return _commit_lineage(output_dir, delta, locked=True)
    path = _lineage_path(output_dir)
    current = read_lineage(output_dir)
    merged = {**current, **{k: v for k, v in delta.items() if k != META_KEY}}
    meta = {**current.get(META_KEY, {}), **delta.get(META_KEY, {})}
    meta["manifest_version"] = current.get(META_KEY, {}).get(
        "manifest_version", 0
    ) + 1
    merged[META_KEY] = meta
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(merged, f, indent=1, sort_keys=True)
    # snapshot BEFORE the swap: the superseded manifest becomes the
    # numbered snapshot (Iceberg metadata-file analog) that
    # read_output(as_of=...) resolves; expired by vacuum_store per
    # its retain_snapshots policy. Written with the same tmp+rename
    # protocol as the manifest — a crash mid-write must not leave a
    # truncated snapshot that wedges every later vacuum/as_of read.
    if current:
        prev_v = current.get(META_KEY, {}).get("manifest_version", 0)
        snap = _snapshot_path(output_dir, prev_v)
        if not os.path.exists(snap):
            snap_tmp = snap + ".tmp"
            with open(snap_tmp, "w") as f:
                json.dump(current, f, indent=1, sort_keys=True)
            os.replace(snap_tmp, snap)
    os.replace(tmp, path)  # atomic rename = commit point
    return merged


def _data_stats(path: str) -> tuple[int, int]:
    """(rows, bytes) of a written data directory, read from its parquet
    footers on the driver (no Spark job); (0, 0) when it holds no rows
    or does not exist."""
    rows = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            size += os.path.getsize(full)
            if f.endswith(".parquet"):
                rows += pq.read_metadata(full).num_rows
    return (rows, size) if rows else (0, 0)


def run_with_lineage(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: str,
    n_buckets: int = 16,
    run_id: str = "run-0",
    merge_strategy: str = "default",
) -> dict[str, dict]:
    """Extract ``docs`` bucket-by-bucket with resumable lineage.

    Re-invoking with the same ``output_dir`` skips completed buckets
    (anti-join against the lineage manifest). Each bucket is one write
    (its rows and bytes then read from the written footers) followed by
    its own lineage commit, all under the store lock, so a crash loses
    at most the bucket in flight: a bucket written but not committed is
    redone (overwritten) by the next run. The first commit records the
    store schema in the manifest META.

    Returns the lineage manifest {bucket: {status, row_count, bytes,
    wall_ms, run_id}}.
    """
    os.makedirs(output_dir, exist_ok=True)
    lineage = read_lineage(output_dir)
    meta = lineage.get(META_KEY)
    if meta is not None and meta.get("n_buckets") != n_buckets:
        raise ValueError(
            f"resume with n_buckets={n_buckets} but {output_dir} was "
            f"bucketed with n_buckets={meta.get('n_buckets')} — mixing "
            "bucketings would silently drop documents"
        )
    done = {int(b) for b, e in _bucket_items(lineage) if e["status"] == "done"}
    todo = sorted(set(range(n_buckets)) - done)
    if not todo:
        return lineage

    # One pass computes every pending bucket; the persist keeps each
    # bucket's write from extracting every pending doc again. Per-bucket
    # commit happens in bucket order. (On a real cluster each bucket is
    # one Iceberg partition append + one lineage-row insert — same
    # protocol.)
    extracted = extract_elements(
        docs.filter(bucket_of(F.col("doc_id"), n_buckets).isin(todo)),
        merge_strategy=merge_strategy,
    ).withColumn("bucket", bucket_of(F.col("doc_id"), n_buckets)).persist()
    try:
        for b in todo:
            # the lock spans write → stat → commit: a concurrent vacuum
            # would otherwise reclaim the not-yet-referenced directory
            with _manifest_lock(output_dir, wait_s=MERGE_LOCK_WAIT_S):
                t0 = time.time()
                part_dir = os.path.join(output_dir, f"bucket={b}")
                part = extracted.filter(F.col("bucket") == b).drop("bucket")
                part.sortWithinPartitions(*MERGE_KEYS).write.mode(
                    "overwrite"
                ).parquet(part_dir)
                row_count, nbytes = _data_stats(part_dir)
                if not row_count:
                    shutil.rmtree(part_dir)  # holds one schema-only file
                delta = {
                    str(b): {
                        "status": "done",
                        "row_count": row_count,
                        "bytes": nbytes,
                        "wall_ms": int((time.time() - t0) * 1000),
                        "run_id": run_id,
                    }
                }
                if meta is None and b == todo[0]:
                    # the store's first commit records its schema
                    delta[META_KEY] = {
                        "n_buckets": n_buckets,
                        "schema": part.schema.jsonValue(),
                    }
                lineage = _commit_lineage(output_dir, delta, locked=True)
    finally:
        extracted.unpersist()
    return lineage


def _bucket_dir(output_dir: str, b: str | int, entry: dict) -> str:
    """Resolve a bucket's current data directory: the manifest ``path``
    when a generation writer produced it (``merge_v{gen}/bucket=N``),
    the run_with_lineage base path otherwise."""
    if entry.get("path"):
        return os.path.join(output_dir, entry["path"])
    return os.path.join(output_dir, f"bucket={b}")


def _loaded_buckets(lineage: dict) -> dict[int, dict]:
    """Committed non-empty buckets, bucket id → manifest entry, in
    bucket order: the ones whose data files a read sees."""
    return {
        int(b): e
        for b, e in sorted(_bucket_items(lineage), key=lambda kv: int(kv[0]))
        if e["status"] == "done" and e.get("row_count", 0) > 0
    }


def _read_buckets(
    spark: SparkSession,
    output_dir: str,
    lineage: dict,
    wanted: Optional[set] = None,
) -> DataFrame:
    """Scan the committed non-empty buckets of ``lineage`` (only those
    in ``wanted``, when given) through the manifest schema: files
    predating an added column fill it with NULL — the Iceberg
    read-time reconciliation — and an ``as_of`` manifest brings its own
    schema, so time travel also travels the schema."""
    parts = {
        b: _bucket_dir(output_dir, b, e)
        for b, e in _loaded_buckets(lineage).items()
    }
    if not parts:
        raise FileNotFoundError(f"no committed buckets under {output_dir}")
    reader = spark.read.schema(_store_schema(lineage))
    pruned = [p for b, p in parts.items() if wanted is None or b in wanted]
    if not pruned:
        # pruned to buckets with no committed data: empty, store schema
        return reader.parquet(*parts.values()).limit(0)
    return reader.parquet(*pruned)


def read_output(
    spark: SparkSession,
    output_dir: str,
    for_doc_ids: Optional[DataFrame] = None,
    as_of: Optional[int] = None,
) -> DataFrame:
    """Read back committed non-empty buckets, through the store schema
    the manifest records.

    ``for_doc_ids`` (a DataFrame with a doc_id column) restricts the
    scan to the buckets those documents hash into — the Iceberg-style
    partition-pruned read a keyed lookup should do instead of scanning
    the whole store. Pruning collects only the small distinct bucket-id
    list, never the doc_ids themselves.

    ``as_of`` reads the store AS OF an earlier ``manifest_version``
    (time travel) — valid while that snapshot is within the vacuum
    retention window (``vacuum_store(retain_snapshots=...)``)."""
    lineage = read_lineage(output_dir, as_of=as_of)
    wanted: Optional[set] = None
    if for_doc_ids is not None:
        # hash probe keys with the store's NATIVE key type:
        # xxhash64 is type-sensitive (xxhash64("5") != xxhash64(5L)),
        # so an int-typed probe against a long-keyed store — or any
        # dtype drift in the caller — would prune to buckets that
        # cannot contain the keys and silently return nothing
        key_t = _store_schema(lineage)["doc_id"].dataType
        probe = F.col("doc_id").cast(key_t)
        wanted = {
            r["bucket"]
            for r in for_doc_ids.select(
                bucket_of(probe, lineage[META_KEY]["n_buckets"]).alias("bucket")
            )
            .distinct()
            .collect()
        }
    return _read_buckets(spark, output_dir, lineage, wanted)


# ---------------------------------------------------------------------------
# S16 — keyed MERGE on the extracted-element store
# (reference arangodb/crud.py update/replace/delete semantics: mutate
#  documents in place by key. Re-expressed for an immutable parquet
#  store as copy-on-write: the affected buckets are REWRITTEN into a
#  new versioned directory (anti-join out the touched keys, union the
#  new rows), then the manifest row flips to the new path — exactly the
#  Iceberg copy-on-write MERGE protocol. A crash between write and
#  commit leaves the old version referenced, so the operation is
#  idempotent and the store is never half-updated.)
# ---------------------------------------------------------------------------

MERGE_KEYS = ("doc_id", "offset")


def init_store(
    spark: SparkSession,
    output_dir: str,
    rows: DataFrame,
    n_buckets: int = 16,
    run_id: str = "init",
) -> dict[str, dict]:
    """CREATE TABLE AS SELECT analog: materialize an arbitrary keyed
    DataFrame (must carry the MERGE_KEYS columns) as a new keyed store
    — bucketed, clustered, manifest-committed — so the generic store
    machinery (merge_elements, point_lookup, compact_store, vacuum,
    time travel) works over collections other than extracted elements
    (e.g. the relationship edge collection,
    reference arangodb/config.py:11 ``relationships``).

    Refuses to overwrite an existing store: mutations go through
    merge_elements, exactly as ArangoDB creation vs CRUD are distinct.
    One Spark wave: the rows are written as the store's first
    generation (:func:`_write_generation`), then one manifest commit
    that records ``rows``' schema in META. The existence check, write
    and commit hold the store lock, so two concurrent creations
    serialize and the loser raises.
    """
    for k in MERGE_KEYS:
        if k not in rows.columns:
            raise ValueError(f"init_store rows need column {k!r}")
    os.makedirs(output_dir, exist_ok=True)
    with _manifest_lock(output_dir, wait_s=MERGE_LOCK_WAIT_S):
        lineage = read_lineage(output_dir)
        if lineage.get(META_KEY):
            raise FileExistsError(
                f"{output_dir} already holds a committed store — use "
                "merge_elements to mutate it"
            )
        keyed = rows.withColumn("bucket", bucket_of(F.col("doc_id"), n_buckets))
        delta = _write_generation(
            spark, output_dir, lineage, n_buckets,
            dict.fromkeys(range(n_buckets), run_id), lambda _: keyed,
        )
        delta[META_KEY] = {
            "n_buckets": n_buckets,
            "schema": keyed.drop("bucket").schema.jsonValue(),
        }
        return _commit_lineage(output_dir, delta, locked=True)


def _clustered(df: DataFrame) -> DataFrame:
    """Cluster rows by the merge key before a partitionBy('bucket')
    write (Iceberg write sort-order analog). The leading 'bucket' key
    satisfies the writer's required partition-column ordering, so no
    extra sort is inserted and the secondary (doc_id, offset) order
    survives into the files — every parquet row group then carries
    tight doc_id min/max stats and a keyed read skips the row groups
    (and whole files) that cannot contain its keys. A task-local sort,
    no exchange."""
    return df.sortWithinPartitions("bucket", *MERGE_KEYS)


def _write_generation(
    spark: SparkSession,
    output_dir: str,
    lineage: dict,
    n_buckets: int,
    run_ids: dict[int, str],
    build: Callable[[Optional[DataFrame]], Optional[DataFrame]],
    sources: Iterable[int] = (),
) -> dict[str, dict]:
    """Write one store generation; return its manifest entries,
    uncommitted. Every generation writer (init_store, MERGE,
    compaction, rebucket) goes through here:

    1. allocate the next ``merge_v{gen}`` root, clearing the orphan a
       crashed attempt may have left there;
    2. read the committed ``sources`` buckets through the manifest
       schema, so evolved columns survive the rewrite (files predating
       them NULL-fill), with ``bucket`` recomputed at ``n_buckets``;
    3. write ``build(current)`` with one clustered
       ``partitionBy(bucket)`` dynamic-overwrite write (``current`` is
       None when no source bucket holds rows; a None result writes
       nothing);
    4. read each bucket's rows and bytes from the written parquet
       footers and build one entry per bucket in ``run_ids``
       (bucket → run_id).

    The caller commits. Until it does, the manifest still references
    the old versions, so a crash leaves only an orphan that the retry's
    allocation overwrites and vacuum reclaims.
    """
    t0 = time.time()
    # gen comes from COMMITTED versions only, so a retry after a crash
    # reuses (and overwrites) the same orphaned generation directory —
    # idempotent. The max ranges over ALL buckets, not just the ones
    # rewritten: a committed merge_v{N} directory can hold live data
    # for buckets this write does not touch, and a gen derived from a
    # subset could reuse (and rmtree) that referenced directory.
    gen = 1 + max(
        (e.get("version", 0) for _, e in _bucket_items(lineage)), default=0
    )
    rel_root = f"merge_v{gen}"
    staging = os.path.join(output_dir, rel_root)
    if os.path.isdir(staging):
        shutil.rmtree(staging)  # orphan from a crashed attempt
    wanted = set(sources) & set(_loaded_buckets(lineage))
    current = None
    if wanted:
        # bucket is a pure function of doc_id, so the partition column
        # is recomputed rather than threaded through the store files
        current = _read_buckets(spark, output_dir, lineage, wanted).withColumn(
            "bucket", bucket_of(F.col("doc_id"), n_buckets)
        )
    rows = build(current)
    if rows is not None:
        (
            _clustered(rows).write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(staging)
        )
    wall_ms = int((time.time() - t0) * 1000)  # shared wave wall
    entries: dict[str, dict] = {}
    for b, run_id in run_ids.items():
        rel_path = f"{rel_root}/bucket={b}"
        # an empty frame writes no bucket=N dir: (0, 0)
        rc, nbytes = _data_stats(os.path.join(output_dir, rel_path))
        entries[str(b)] = {
            "status": "done",
            "row_count": rc,
            "bytes": nbytes,
            "wall_ms": wall_ms,
            "run_id": run_id,
            "version": gen,
            "path": rel_path if rc > 0 else None,
        }
    return entries


def point_lookup(
    spark: SparkSession,
    output_dir: str,
    doc_ids: list,
    as_of: Optional[int] = None,
) -> DataFrame:
    """Primary-key fetch of a few documents from the keyed store.

    Reference analog: ``arangodb/crud.py:95`` ``get_document`` — an
    ArangoDB point read served by the ``_key`` primary index. A 100 TB
    parquet store has no index; the equivalent is layout: (1) the
    manifest prunes the scan to the buckets the keys hash into
    (:func:`read_output`), (2) the ``doc_id IN (...)`` predicate is
    pushed into the parquet scan, where the clustered layout
    (:func:`_clustered`) makes row-group min/max stats selective — a
    lookup reads a handful of row groups, not the bucket.

    The pruning hash MUST run on the store's native key type:
    ``xxhash64("5") != xxhash64(5L)``, so string-coercing the probe
    keys against a store bootstrapped with numeric doc_ids
    (:func:`init_store` accepts any keyed DataFrame) would prune to
    buckets that cannot contain them and silently return nothing. The
    key type is the ``doc_id`` type of the store schema in the manifest
    META, and both the pruning probe and the ``IN`` predicate use
    values coerced to it.

    The probe keys form a local relation built from pandas, so
    projecting their bucket ids and collecting them runs no Spark job:
    the lookup is one job, its scan.
    """
    import pandas as pd

    lineage = read_lineage(output_dir, as_of=as_of)
    key_type = _store_schema(lineage)["doc_id"].dataType
    if isinstance(key_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        vals = [int(d) for d in doc_ids]
    elif isinstance(key_type, T.StringType):
        vals = [str(d) for d in doc_ids]
    else:
        vals = list(doc_ids)
    wanted: set = set()
    if vals:
        ids_df = spark.createDataFrame(
            pd.DataFrame({"doc_id": vals}),
            T.StructType([T.StructField("doc_id", key_type)]),
        )
        n_buckets = lineage[META_KEY]["n_buckets"]
        wanted = {
            r[0] for r in ids_df.select(bucket_of(F.col("doc_id"), n_buckets)).collect()
        }
    scan = _read_buckets(spark, output_dir, lineage, wanted)
    return scan.where(F.col("doc_id").isin(vals))

_BUCKET_DIR_RE = re.compile(r"^bucket=\d+$")
_MERGE_ROOT_RE = re.compile(r"^merge_v\d+$")


def merge_elements(
    spark: SparkSession,
    output_dir: str,
    updates: Optional[DataFrame] = None,
    delete_keys: Optional[DataFrame] = None,
    retain_snapshots: int = 0,
) -> dict[str, dict]:
    """Keyed MERGE on the extracted store: one copy-on-write commit that
    replaces rows matching ``updates``' (doc_id, offset), inserts the
    new keys, and removes ``delete_keys``. A key appearing in both
    frames is updated (updates win — delete applies only to keys not
    re-inserted), matching delete-then-upsert CRUD order
    (reference arangodb/crud.py update/replace/delete semantics).

    ONE Spark wave for any number of affected buckets: union-read every
    affected bucket's current version, one global anti-join on the
    touched keys, one ``partitionBy(bucket)`` write into a fresh
    ``merge_v{gen}`` generation directory, per-bucket rows and bytes
    read from the written parquet footers on the driver, then a single
    manifest commit flips every affected bucket to the new generation
    atomically. No per-bucket driver loop — 10⁴ affected buckets cost
    the same number of Spark jobs as 1.

    A crash between write and manifest commit leaves the old versions
    referenced (the new generation directory is orphaned, and
    reclaimed by the post-commit vacuum of the next successful merge),
    so retries converge — the Iceberg copy-on-write MERGE protocol.
    """
    if updates is None and delete_keys is None:
        raise ValueError("merge_elements needs updates and/or delete_keys")
    # The ENTIRE merge — generation allocation, staging write, manifest
    # swap, vacuum — runs under the store lock, so concurrent writers
    # (streaming CDC + a batch backfill) serialize instead of picking
    # the same merge_v{gen} staging root and destroying each other's
    # in-flight data (the manifest-swap lock alone protected only the
    # final rename, not the directories it points at). Iceberg writers
    # retry on optimistic-commit conflict; the local stand-in
    # serializes, which is the same end state.
    with _manifest_lock(output_dir, wait_s=MERGE_LOCK_WAIT_S):
        return _merge_elements_locked(
            spark, output_dir, updates, delete_keys, retain_snapshots
        )


def _merge_elements_locked(
    spark: SparkSession,
    output_dir: str,
    updates: Optional[DataFrame],
    delete_keys: Optional[DataFrame],
    retain_snapshots: int,
) -> dict[str, dict]:
    lineage = read_lineage(output_dir)
    meta = lineage.get(META_KEY)
    if meta is None:
        raise FileNotFoundError(f"no lineage manifest under {output_dir}")
    n_buckets = meta["n_buckets"]
    # bucket-route with the store's NATIVE key type (same hazard the
    # read side guards: xxhash64 is dtype-sensitive, so a mistyped
    # update/delete frame would rewrite the wrong buckets — deletes
    # silently no-op, upserts land in buckets keyed reads never visit)
    schema = _store_schema(lineage)
    key_t = schema["doc_id"].dataType
    if updates is not None:
        updates = _conform_updates(
            updates.withColumn("doc_id", F.col("doc_id").cast(key_t)),
            schema, meta.get("evolved_columns") or [],
        )
    if delete_keys is not None:
        delete_keys = delete_keys.withColumn(
            "doc_id", F.col("doc_id").cast(key_t)
        )

    def keyed_of(df: Optional[DataFrame]) -> Optional[DataFrame]:
        if df is None:
            return None
        return df.withColumn("bucket", bucket_of(F.col("doc_id"), n_buckets))

    # persist: each frame is consumed for the affected-bucket list and
    # again by the rewrite — without a cache a full upstream pipeline
    # (e.g. a streaming extraction batch) would recompute per use
    ups = keyed_of(updates)
    dels = keyed_of(delete_keys.select(*MERGE_KEYS) if delete_keys is not None else None)
    for df in (ups, dels):
        if df is not None:
            df.persist()
    try:
        all_keys = None
        for df in (ups, dels):
            if df is not None:
                k = df.select(*MERGE_KEYS, "bucket")
                all_keys = k if all_keys is None else all_keys.unionByName(k)
        affected = sorted(
            r["bucket"] for r in all_keys.select("bucket").distinct().collect()
        )
        if not affected:
            return lineage
        for b in affected:
            entry = lineage.get(str(b))
            if entry is None or entry.get("status") != "done":
                raise ValueError(
                    f"bucket {b} has no committed data — MERGE targets an "
                    "extracted store, run the pipeline first"
                )
        touched = all_keys.select(*MERGE_KEYS).distinct()

        def rewrite(current: Optional[DataFrame]) -> Optional[DataFrame]:
            if current is None:
                return ups
            kept = current.join(touched, list(MERGE_KEYS), "left_anti")
            return kept.unionByName(ups) if ups is not None else kept

        delta = _write_generation(
            spark, output_dir, lineage, n_buckets,
            {b: lineage[str(b)].get("run_id", "merge") for b in affected},
            rewrite, sources=affected,
        )
        _commit_lineage(output_dir, delta, locked=True)
        lineage.update(delta)
    finally:
        for df in (ups, dels):
            if df is not None:
                df.unpersist()
    vacuum_store(output_dir, retain_snapshots=retain_snapshots, locked=True)
    return lineage


def list_snapshots(output_dir: str) -> list[int]:
    """Manifest versions readable via ``as_of`` (retained snapshots +
    the current manifest), ascending."""
    versions = _snapshot_versions(output_dir)
    cur = read_lineage(output_dir).get(META_KEY, {}).get("manifest_version")
    if cur is not None:
        versions.append(cur)
    return sorted(set(versions))


def vacuum_store(
    output_dir: str, retain_snapshots: int = 0, locked: bool = False
) -> list[str]:
    """Reclaim version directories superseded by the committed manifest.

    Copy-on-write MERGE leaves the previous version of every rewritten
    bucket on disk (that is what makes the commit crash-safe); without
    retention, frequent CDC merges grow the store without bound. After
    a successful commit, every ``bucket=N`` dir and ``merge_vG``
    generation member NOT referenced by the manifest — nor by one of
    the ``retain_snapshots`` newest manifest snapshots (the Iceberg
    expire-snapshots window; those stay time-travel-readable via
    ``read_output(as_of=...)``) — is superseded or orphaned — delete
    it. Snapshot files older than the window are expired with their
    data. Called automatically post-commit by :func:`merge_elements`;
    safe to invoke any time — a standalone call takes the store lock
    so it can never reclaim a concurrent writer's in-flight staging
    (readers re-resolve paths from the manifest per query).
    """
    if not locked:
        if not read_lineage(output_dir):
            return []
        with _manifest_lock(output_dir):
            return vacuum_store(output_dir, retain_snapshots, locked=True)
    lineage = read_lineage(output_dir)
    if not lineage:
        return []

    def refs_of(manifest: dict) -> set:
        return {
            e["path"] if e.get("path") else f"bucket={b}"
            for b, e in _bucket_items(manifest)
            if e.get("row_count", 0) > 0
        }

    referenced = refs_of(lineage)
    snap_versions = _snapshot_versions(output_dir)
    keep = set(snap_versions[len(snap_versions) - retain_snapshots:]) if retain_snapshots else set()
    removed: list[str] = []
    for v in snap_versions:
        snap = _snapshot_path(output_dir, v)
        if v in keep:
            with open(snap) as f:
                referenced |= refs_of(json.load(f))
        else:
            os.unlink(snap)  # expired snapshot
            removed.append(os.path.basename(snap))
    for name in sorted(os.listdir(output_dir)):
        full = os.path.join(output_dir, name)
        if not os.path.isdir(full):
            continue
        if _BUCKET_DIR_RE.match(name):
            if name not in referenced:
                shutil.rmtree(full)
                removed.append(name)
        elif _MERGE_ROOT_RE.match(name):
            for sub in sorted(os.listdir(full)):
                rel = f"{name}/{sub}"
                subfull = os.path.join(full, sub)
                if os.path.isdir(subfull) and rel not in referenced:
                    shutil.rmtree(subfull)
                    removed.append(rel)
            if not any(r.startswith(name + "/") for r in referenced):
                shutil.rmtree(full)  # only _SUCCESS left
    return removed


def upsert_elements(
    spark: SparkSession,
    output_dir: str,
    updates: DataFrame,
    retain_snapshots: int = 0,
) -> dict[str, dict]:
    """MERGE: rows matching (doc_id, offset) are replaced, new keys are
    inserted. ``updates`` must carry the extracted-element schema."""
    return merge_elements(
        spark, output_dir, updates=updates, retain_snapshots=retain_snapshots
    )


def delete_elements(
    spark: SparkSession,
    output_dir: str,
    keys: DataFrame,
    retain_snapshots: int = 0,
) -> dict[str, dict]:
    """Keyed delete: rows matching (doc_id, offset) are removed."""
    return merge_elements(
        spark, output_dir, delete_keys=keys, retain_snapshots=retain_snapshots
    )


def delete_where(
    spark: SparkSession,
    output_dir: str,
    condition,
    retain_snapshots: int = 0,
) -> dict[str, dict]:
    """Predicate-driven delete — the Iceberg ``DELETE WHERE`` analog
    and the reference's bulk-delete flows (``crud.py:474-515``
    ``delete_conversation`` removes every message matching a
    conversation_id). One scan resolves the matching keys (predicates
    push into the parquet scan; ``merge_elements`` persists the key
    frame so the resolve runs once), then the ordinary single-commit
    keyed-delete MERGE rewrites only the affected buckets.

    ``condition`` is a Column predicate or SQL string over the store's
    columns, e.g. ``F.col("kind") == "code"`` or ``"page > 40"``.
    """
    keys = read_output(spark, output_dir).filter(condition).select(*MERGE_KEYS)
    return merge_elements(
        spark, output_dir, delete_keys=keys, retain_snapshots=retain_snapshots
    )


def patch_elements(
    spark: SparkSession,
    output_dir: str,
    patches: DataFrame,
    keep_null: bool = False,
    retain_snapshots: int = 0,
) -> dict[str, dict]:
    """Partial-field UPDATE by key — the reference's
    ``crud.py:130-184 update_document`` (ArangoDB ``collection.update``
    with ``merge=True``), as opposed to :func:`upsert_elements`'s
    whole-row REPLACE semantics.

    ``patches`` carries the MERGE_KEYS plus any subset of the store's
    columns; columns absent from ``patches`` keep their stored values.
    For columns present: with ``keep_null=False`` (default) a NULL
    patch value means "keep the stored value" (per-row sparse patches);
    with ``keep_null=True`` the patch value is written as-is, NULLs
    included (ArangoDB ``keepNull=True`` parity — explicitly nulling a
    field).

    ArangoDB ``update`` does NOT insert missing keys (it raises
    DocumentUpdateError); a batch engine fails the whole batch
    atomically, so keys absent from the store raise ValueError before
    anything commits.

    Shape: ONE bucket-pruned read of the affected keys (the same
    pruning as :func:`point_lookup`), one join to materialize the
    patched rows, then the ordinary single-commit MERGE — patch cost
    scales with the touched buckets, never the store.
    """
    for k in MERGE_KEYS:
        if k not in patches.columns:
            raise ValueError(f"patch rows need column {k!r}")
    # duplicate keys would each survive the inner join and ALL be
    # written, breaking the store's key-uniqueness invariant — refuse
    # the batch (same atomic-refusal convention as missing keys)
    dup = (
        patches.groupBy(*MERGE_KEYS)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"duplicate MERGE key in patch batch (e.g. "
            f"{tuple(dup[0][k] for k in MERGE_KEYS)}) — one patch row "
            "per key"
        )
    # align the patch key dtype with the store's native key type (the
    # bucket pruning inside read_output hashes with it; the joins below
    # then compare like against like instead of relying on implicit
    # widening, which cannot bridge e.g. string vs long)
    key_t = _store_schema(read_lineage(output_dir))["doc_id"].dataType
    patches = patches.withColumn("doc_id", F.col("doc_id").cast(key_t))
    key_df = patches.select(*MERGE_KEYS)
    current = (
        read_output(spark, output_dir, for_doc_ids=key_df)
        .join(key_df, on=list(MERGE_KEYS), how="left_semi")
        .persist()  # validated once, then fed to the MERGE write
    )
    try:
        missing = key_df.join(
            current, on=list(MERGE_KEYS), how="left_anti"
        ).count()
        if missing:
            raise ValueError(
                f"{missing} patch key(s) not present in the store "
                "(ArangoDB update does not insert; use upsert_elements)"
            )
        extra = set(patches.columns) - set(current.columns)
        if extra:
            raise ValueError(
                f"patch columns not in store schema: {sorted(extra)}"
            )
        p = patches.alias("p")
        c = current.alias("c")
        patched_cols = []
        for col in current.columns:
            if col in MERGE_KEYS or col not in patches.columns:
                patched_cols.append(F.col(f"c.{col}").alias(col))
            elif keep_null:
                patched_cols.append(F.col(f"p.{col}").alias(col))
            else:
                patched_cols.append(
                    F.coalesce(F.col(f"p.{col}"), F.col(f"c.{col}")).alias(col)
                )
        merged = c.join(p, on=list(MERGE_KEYS), how="inner").select(*patched_cols)
        return merge_elements(
            spark, output_dir, updates=merged, retain_snapshots=retain_snapshots
        )
    finally:
        current.unpersist()


def compact_store(
    spark: SparkSession,
    output_dir: str,
    files_per_bucket: int = 1,
    retain_snapshots: int = 0,
) -> dict[str, dict]:
    """Small-file compaction (Iceberg ``rewrite_data_files`` analog).

    Every copy-on-write MERGE rewrites affected buckets at the write
    parallelism of the moment, so a store that has absorbed many CDC
    batches accumulates shards of small parquet files per bucket — the
    classic small-file problem that throttles scan throughput at scale
    (file-open overhead, tiny row groups, starved vectorized readers).

    Compaction is a content-identical rewrite: union-read every
    non-empty bucket, ``repartition(n, bucket)`` so each bucket's rows
    land in ``files_per_bucket`` task(s), write one new generation via
    dynamic partition overwrite, commit ONE manifest swap, vacuum the
    superseded dirs. Same crash protocol as MERGE: the new generation
    is orphaned (and later reclaimed) unless the commit lands.

    Returns the committed manifest.
    """
    with _manifest_lock(output_dir, wait_s=MERGE_LOCK_WAIT_S):
        return _compact_store_locked(
            spark, output_dir, files_per_bucket, retain_snapshots
        )


def _compact_store_locked(
    spark: SparkSession,
    output_dir: str,
    files_per_bucket: int,
    retain_snapshots: int,
) -> dict[str, dict]:
    lineage = read_lineage(output_dir)
    meta = lineage.get(META_KEY)
    if meta is None:
        raise FileNotFoundError(f"no lineage manifest under {output_dir}")
    loaded = {
        b: e.get("run_id", "compact")
        for b, e in _loaded_buckets(lineage).items()
    }
    if not loaded:
        return lineage
    n_tasks = max(1, len(loaded) * files_per_bucket)
    delta = _write_generation(
        spark, output_dir, lineage, meta["n_buckets"], loaded,
        lambda current: current.repartition(n_tasks, "bucket"),
        sources=loaded,
    )
    for b, entry in delta.items():
        if entry["row_count"] != lineage[b]["row_count"]:
            raise RuntimeError(
                f"compaction row-count drift in bucket {b}: "
                f"{lineage[b]['row_count']} -> {entry['row_count']} — "
                "staging left for inspection, manifest NOT committed"
            )
    _commit_lineage(output_dir, delta, locked=True)
    lineage.update(delta)
    vacuum_store(output_dir, retain_snapshots=retain_snapshots, locked=True)
    return lineage


def rebucket_store(
    spark: SparkSession,
    output_dir: str,
    new_n_buckets: int,
    run_id: str = "rebucket",
    retain_snapshots: int = 0,
) -> dict[str, dict]:
    """Partition-spec evolution (Iceberg ``REPLACE PARTITION FIELD``
    analog): re-hash the whole store into a different bucket count in
    ONE Spark wave + ONE manifest swap.

    Why it exists: the bucket count is a capacity decision (buckets ≈
    cluster write parallelism ≈ per-partition file sizes); a store that
    grew 100× needs more buckets, and "mixing bucketings would
    silently drop documents" (the resume guard above) means the count
    can only change through a full, committed re-hash. Protocol is
    every generation writer's (:func:`_write_generation`): write every
    row re-hashed into the next ``merge_v{gen}`` generation root, then
    swap the manifest — new META ``n_buckets``, every new bucket entry
    pointing into the generation, and (on shrink) tombstones for the
    dropped bucket ids.
    The pre-swap snapshot keeps the old layout time-travel-readable
    (``read_output(as_of=...)``) until ``vacuum_store`` expires it;
    a crash before the swap leaves an orphaned generation dir that the
    next writer's idempotent re-allocation overwrites.

    Runs entirely under the store lock (same reasoning as
    ``merge_elements``: the lock protects the staging directories, not
    just the manifest rename).
    """
    if new_n_buckets < 1:
        raise ValueError("new_n_buckets must be >= 1")
    with _manifest_lock(output_dir, wait_s=MERGE_LOCK_WAIT_S):
        lineage = read_lineage(output_dir)
        meta = lineage.get(META_KEY)
        if not meta:
            raise FileNotFoundError(f"no committed store under {output_dir}")
        old_n = int(meta["n_buckets"])
        if new_n_buckets == old_n:
            raise ValueError(
                f"store already uses n_buckets={old_n}; rebucket is a "
                "full re-hash — refuse the no-op rather than burn a wave"
            )
        delta = _write_generation(
            spark, output_dir, lineage, new_n_buckets,
            dict.fromkeys(range(new_n_buckets), run_id),
            lambda current: current,
            sources=[int(b) for b, _e in _bucket_items(lineage)],
        )
        for b, _e in _bucket_items(lineage):
            if int(b) >= new_n_buckets:
                # shrink: tombstone dropped ids (rc=0 keeps them out of
                # reads and out of vacuum's reference set; the pre-swap
                # snapshot still resolves their old dirs for as_of)
                delta[b] = {
                    **delta["0"],
                    "status": "superseded",
                    "row_count": 0,
                    "bytes": 0,
                    "path": None,
                }
        delta[META_KEY] = {**meta, "n_buckets": new_n_buckets}
        _commit_lineage(output_dir, delta, locked=True)
        vacuum_store(output_dir, retain_snapshots, locked=True)
        return read_lineage(output_dir)


def store_stats(spark: SparkSession, output_dir: str) -> DataFrame:
    """Store health report (reference ``check_pdf_extractor_db.py:26``
    ``check_database`` — the "does the database exist, what do its
    collections hold" check, re-expressed over the manifest): one row
    per bucket with status / row_count / bytes / generation / path,
    plus a ``__total__`` summary row. Driver-side metadata only — the
    manifest is bounded by n_buckets, no data files are touched (the
    point of keeping counts in the manifest at 100 TB).

    Raises FileNotFoundError when no committed store exists — the
    reference's "database does not exist" branch.
    """
    lineage = read_lineage(output_dir)
    meta = lineage.get(META_KEY)
    if not meta:
        raise FileNotFoundError(f"no committed store under {output_dir}")
    rows = []
    tot_rows = tot_bytes = 0
    for b, e in sorted(_bucket_items(lineage), key=lambda kv: int(kv[0])):
        rows.append(
            (
                str(b),
                e.get("status"),
                int(e.get("row_count", 0)),
                int(e.get("bytes", 0)),
                int(e.get("version", 0)),
                e.get("path") or f"bucket={b}",
            )
        )
        if e.get("status") == "done":
            tot_rows += int(e.get("row_count", 0))
            tot_bytes += int(e.get("bytes", 0))
    rows.append(
        (
            "__total__",
            f"n_buckets={meta['n_buckets']},"
            f"manifest_version={meta.get('manifest_version', 0)}",
            tot_rows,
            tot_bytes,
            max((r[4] for r in rows), default=0),
            output_dir,
        )
    )
    return spark.createDataFrame(
        rows,
        "bucket STRING, status STRING, row_count LONG, bytes LONG, "
        "version LONG, path STRING",
    )
