"""Incremental ingestion via Structured Streaming.

The reference is strictly batch (SURVEY.md §2.9) — its only
"incremental" machinery is the cache-based resume we re-express in
lineage.py. This module adds the Spark-native continuous counterpart:
new document files landing in a directory are extracted exactly once,
with the stream checkpoint providing the resume guarantee (the
streaming analog of the lineage table's anti-join).

Map-only streaming: the extraction kernel is the batch
:func:`operators.extract.extract_elements` itself — one ``mapInArrow``
pass, fully streaming-compatible (no stateful operator, no watermark
needed), for every document whatever its span count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from .operators.extract import extract_elements
from .schema import DOCS_SCHEMA, FLAT_SCHEMA


def _drain(
    writer: DataStreamWriter, checkpoint_dir: str, output_dir: str | None = None
) -> StreamingQuery:
    """Run ``writer`` under ``trigger(availableNow=True)``: process
    everything new since ``checkpoint_dir``'s last commit, then stop.
    With ``output_dir`` the sink is an append-only parquet directory.
    Returns the finished StreamingQuery."""
    if output_dir is not None:
        writer = (
            writer.format("parquet")
            .option("path", output_dir)
            .outputMode("append")
        )
    query = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    merge_strategy: str = "default",
    max_files_per_trigger: int | None = None,
):
    """Watch ``input_dir`` for parquet docs, extract, append parquet.

    Runs with ``trigger(availableNow=True)`` — drain everything new,
    then stop — so callers (and tests) invoke it per micro-batch wave;
    a long-running deployment would use a processingTime trigger
    instead. Returns the finished StreamingQuery.
    """
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    flat = extract_elements(reader.parquet(input_dir), merge_strategy)
    return _drain(flat.writeStream, checkpoint_dir, output_dir)


def read_stream_output(spark: SparkSession, output_dir: str) -> DataFrame:
    """Batch view of :func:`stream_extract`'s sink (the reader follows
    the sink's _spark_metadata log, so only committed files show)."""
    return spark.read.schema(FLAT_SCHEMA).parquet(output_dir)


def stream_windowed_event_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
):
    """Event-time tumbling-window aggregation with a watermark.

    The engine's streaming-analytics face (the reference has none —
    SURVEY.md §2.9): counts + value sums per (event_type, window) with
    late data bounded by the watermark, so state is evicted and the
    job runs forever at constant memory. Append output mode: windows
    emit once finalized (watermark passed), exactly-once via the
    checkpoint.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    events_schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    ev = spark.readStream.schema(events_schema).parquet(input_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return _drain(agg.writeStream, checkpoint_dir, output_dir)


def stream_sessionize_stateful(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    gap_s: int = 1800,
):
    """Custom stateful streaming operator: per-user sessionization via
    ``applyInPandasWithState`` (the arbitrary-state API the batch
    window version W5 cannot express incrementally).

    State per user = (last_ts, session_start, n_events). A gap larger
    than ``gap_s`` closes the running session and emits it; the open
    session survives in the state store across micro-batches and
    restarts (checkpointed). Emits only CLOSED sessions.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", LongType()),  # epoch seconds
            StructField("session_end", LongType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_ts", LongType()),
            StructField("start_ts", LongType()),
            StructField("n", LongType()),
        ]
    )
    events_schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
        ]
    )

    def fn(key, pdfs, state):
        (user_id,) = key
        last_ts, start_ts, n = state.get if state.exists else (None, None, 0)
        closed = []
        batch = pd.concat(list(pdfs))
        for ts in sorted(int(t.timestamp()) for t in batch["ts"]):
            if last_ts is not None and ts < last_ts:
                # cross-batch late arrival: drop (the stateful analog
                # of a watermark) — last_ts must stay monotone or a
                # session could close with end < start
                continue
            if last_ts is not None and ts - last_ts > gap_s:
                closed.append((user_id, start_ts, last_ts, n))
                start_ts, n = None, 0
            if start_ts is None:
                start_ts = ts
            last_ts = ts
            n += 1
        state.update((last_ts, start_ts, n))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "session_start", "session_end", "n_events"],
            )

    ev = spark.readStream.schema(events_schema).parquet(input_dir)
    sessions = ev.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    return _drain(sessions.writeStream, checkpoint_dir, output_dir)


def _merge_flat_into_store(
    sess: SparkSession,
    store_dir: str,
    delivered: DataFrame,
    flat: DataFrame,
) -> None:
    """Land one deduped wave into the keyed store as ONE atomic MERGE
    commit: upsert the extracted ``flat`` elements AND delete each
    re-delivered doc's stale tail (offsets past its new maximum) in the
    same manifest swap.

    Stale keys are derived from EVERY ``delivered`` doc, not just docs
    that extracted rows — a doc re-delivered empty must still have its
    old elements removed (mx = -1 → all stale). The store scan is
    restricted to the buckets the delivered docs hash into
    (read_output pruning).
    """
    from pyspark.sql import functions as F

    from .lineage import merge_elements, read_output

    new_max = (
        delivered.select("doc_id")
        .join(
            flat.groupBy("doc_id").agg(F.max("offset").alias("_mx")),
            "doc_id",
            "left",
        )
        .select("doc_id", F.coalesce("_mx", F.lit(-1)).alias("mx"))
    )
    stale = (
        read_output(sess, store_dir, for_doc_ids=new_max.select("doc_id"))
        .join(new_max, "doc_id")
        .filter(F.col("offset") > F.col("mx"))
        .select("doc_id", "offset")
    )
    merge_elements(sess, store_dir, updates=flat, delete_keys=stale)


def stream_extract_merge(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    merge_strategy: str = "default",
):
    """CDC-style incremental extraction: new/updated document files are
    extracted and MERGED into an existing lineage store by
    (doc_id, offset) — re-delivered documents REPLACE their previous
    elements instead of appending duplicates.

    ``foreachBatch`` + :func:`lineage.merge_elements` composes the
    exactly-once stream checkpoint (which micro-batches were consumed)
    with the store's copy-on-write MERGE commit (how a batch lands).
    Each micro-batch is ONE atomic merge commit — the new elements
    upsert and the stale tails (offsets past each re-delivered doc's
    new maximum) delete in the same manifest swap, so the store is
    never observable mid-update. A crash before the commit replays the
    micro-batch; replaying the same merge is idempotent, so the
    composition stays exactly-once in effect. This is the streaming
    face of the reference's update CRUD surface (arangodb/crud.py) —
    batch face: lineage.merge_elements.

    A document delivered TWICE within one micro-batch (rapid edits)
    must not upsert both versions — mixed-version elements would leak
    into the store. The batch therefore dedups per doc_id BEFORE
    extraction, keeping the newest source file (modification time,
    path as tie-break); extraction runs on the deduped batch inside
    ``foreachBatch`` as a plain batch job. A file-source
    ``availableNow`` stream hands ``foreachBatch`` no empty batches, so
    the batch is not probed for rows first.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = (
        spark.readStream.schema(DOCS_SCHEMA)
        .parquet(input_dir)
        .select(
            "*",
            F.col("_metadata.file_modification_time").alias("_mtime"),
            F.col("_metadata.file_path").alias("_fpath"),
        )
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        w = Window.partitionBy("doc_id").orderBy(
            F.desc("_mtime"), F.desc("_fpath")
        )
        # persist the deduped batch: extraction reads it and
        # _merge_flat_into_store pulls it again for the stale keys —
        # without the cache the row_number shuffle re-runs per use
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("doc_id", "spans")
        ).persist()
        try:
            flat = extract_elements(latest, merge_strategy).persist()
            try:
                _merge_flat_into_store(sess, store_dir, latest, flat)
            finally:
                flat.unpersist()
        finally:
            latest.unpersist()

    return _drain(docs.writeStream.foreachBatch(merge_batch), checkpoint_dir)


def stream_dedup_exact(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
):
    """Streaming exact dedup: only the FIRST arrival of each document
    content passes; re-deliveries of identical content within the
    watermark window are dropped (the streaming face of the batch
    exact-dedup operator — a crawler re-fetching unchanged pages must
    not re-emit them into the corpus).

    Key = md5 of the canonical JSON of the spans array (content, not
    doc_id — two ids carrying identical content are duplicates).
    ``dropDuplicatesWithinWatermark`` keyed on that fingerprint keeps
    state only within the watermark (event time = source-file
    modification time), so state is EVICTED as the watermark advances
    and the job runs forever at bounded memory — the unbounded-state
    footgun of plain ``dropDuplicates`` on a stream is the reason this
    operator exists.
    """
    from pyspark.sql import functions as F

    docs = (
        spark.readStream.schema(DOCS_SCHEMA)
        .parquet(input_dir)
        .select(
            "*", F.col("_metadata.file_modification_time").alias("ts")
        )
        .withColumn("fp", F.md5(F.to_json(F.struct("spans"))))
    )
    deduped = (
        docs.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["fp"])
        .select("doc_id", "spans")
    )
    return _drain(deduped.writeStream, checkpoint_dir, output_dir)


def stream_neardup_ingest(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    statuses_dir: str | None = None,
):
    """Streaming incremental near-dup ingest: each micro-batch of
    (doc_id, text) documents is deduped against the persistent band
    store (everything ingested by ANY earlier batch — the streaming
    face of ``analytics.dedup.neardup_ingest``), survivors' bands fold
    into the store, and per-doc statuses optionally land in an audit
    table.

    Exactly-once store state under replay: ``foreachBatch`` hands us a
    stable epoch id, ``neardup_ingest`` keys its store commit on it
    (per-batch dir overwrite, own dir excluded from the decision), and
    the status audit writes to a per-batch dir the same way — a
    re-delivered epoch rewrites exactly its own output. State is the
    store itself (disk), not executor memory: unlike the watermarked
    exact-dedup operator this matches against the WHOLE corpus history
    at bounded memory, because the comparison is a band-store scan
    (prefix-pruned, broadcast-probed), not a streaming state lookup.
    """
    from .analytics.dedup import neardup_ingest

    docs = spark.readStream.schema("doc_id long, text string").parquet(input_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        statuses = neardup_ingest(spark, store_dir, batch_df, epoch_id)
        if statuses_dir is not None:
            statuses.write.mode("overwrite").parquet(
                f"{statuses_dir}/batch=b{epoch_id}"
            )
        # else: the store commit inside neardup_ingest already executed

    return _drain(docs.writeStream.foreachBatch(sink), checkpoint_dir)


def stream_vector_ingest(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    statuses_dir: str | None = None,
):
    """Streaming incremental EMBEDDING near-dup ingest — the vector
    twin of :func:`stream_neardup_ingest`: each micro-batch of
    (vec_id, embedding) rows is deduped against the persistent
    hyperplane-LSH vector store, survivors fold in, statuses
    optionally land in a per-batch audit dir. Same exactly-once
    replay contract (epoch-keyed per-batch dirs)."""
    from .analytics.similarity import vector_neardup_ingest

    vecs = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).parquet(input_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        statuses = vector_neardup_ingest(spark, store_dir, batch_df, epoch_id)
        if statuses_dir is not None:
            statuses.write.mode("overwrite").parquet(
                f"{statuses_dir}/batch=b{epoch_id}"
            )

    return _drain(vecs.writeStream.foreachBatch(sink), checkpoint_dir)


# ---------------------------------------------------------------------------
# Streaming quality gate — Gopher verdicts + broadcast bloom
# decontamination applied AT INGESTION, routing documents by verdict
# (training pipelines gate a crawl stream before anything touches the
# corpus store; re-running the batch filters over the whole corpus per
# crawl wave is the anti-pattern this replaces).
# ---------------------------------------------------------------------------

TEXT_DOCS_SCHEMA = (
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
)


def stream_quality_gate(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    bench_bits: list | None = None,
):
    """availableNow stream of raw text docs → Gopher document rules
    (the EXACT batch kernel, analytics.quality_rules.gopher_verdicts —
    never a fork) plus optional bloom decontamination → parquet
    partitioned by ``verdict`` (pass / word_count / mean_word_length /
    alpha_ratio / stop_words / contaminated), so downstream consumers
    partition-prune straight to the slice they want.

    ``bench_bits`` is the benchmark bloom bitset from
    :func:`analytics.curation.bloom_bench_bits` — a plain list that
    folds into the streaming plan as a CONSTANT array (≤ BLOOM_M
    ints): decontamination needs no stream-side join and no state, so
    the gate runs forever at O(1) memory. All expressions are
    map-only; the stream parallelizes with the file-split count.
    Contamination loses to a harder quality failure in the verdict
    order (a too-short doc reads word_count even if also
    contaminated) — verdict is one label; the full rule metrics ride
    along as columns.
    """
    from pyspark.sql import functions as F

    from .analytics.curation import BLOOM_K, DECON_N, _bloom_pos, _grams
    from .analytics.quality_rules import gopher_verdicts
    from .analytics.base import tokens as _tokens

    docs = spark.readStream.schema(TEXT_DOCS_SCHEMA).parquet(input_dir)
    staged = gopher_verdicts(docs, "text", "lang", "source")

    if bench_bits is not None:
        bits_lit = F.array(*[F.lit(int(b)) for b in bench_bits])

        def _gram_hit(g):
            c = None
            for j in range(BLOOM_K):
                cj = F.array_contains(bits_lit, _bloom_pos(g, j))
                c = cj if c is None else (c & cj)
            return c

        # materialize tokens AND grams into real columns first
        # (HOF-capture rule part 2: an expression referenced inside a
        # HOF re-evaluates per element — _grams slices `toks` once per
        # gram window, so a raw split() input is O(len²) on megadocs)
        staged = (
            staged.withColumn("_toks", _tokens("text"))
            .withColumn("_grams", _grams(F.col("_toks"), DECON_N))
            .withColumn(
                "contaminated",
                F.coalesce(F.exists("_grams", _gram_hit), F.lit(False)),
            )
            .drop("_toks", "_grams")
        )
    else:
        staged = staged.withColumn("contaminated", F.lit(False))

    routed = staged.select(
        "doc_id",
        "lang",
        "source",
        "n_words",
        "mean_word_len",
        "alpha_frac",
        "stop_hits",
        "contaminated",
        F.when(F.col("fail_rule") != "pass", F.col("fail_rule"))
        .when(F.col("contaminated"), F.lit("contaminated"))
        .otherwise(F.lit("pass"))
        .alias("verdict"),
    )
    return _drain(
        routed.writeStream.partitionBy("verdict"), checkpoint_dir, output_dir
    )


# ---------------------------------------------------------------------------
# Stream-stream join: live extraction × live HITL corrections.
# The batch corrections overlay (operators/corrections.py, S15) assumes
# the corrections table is at rest; in a live deployment annotations
# arrive as their own feed, and matching them to in-flight extractions
# is Spark's watermarked stream-stream inner join — the one streaming
# shape the module didn't yet exercise.
# ---------------------------------------------------------------------------

CORR_SCHEMA = "doc_id STRING, offset BIGINT, corrected_text STRING"


def stream_corrections_join(
    spark: SparkSession,
    elements_dir: str,
    corrections_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    join_window_s: int = 3600,
):
    """Join the flat-element stream with a corrections stream on
    (doc_id, offset) within ± ``join_window_s`` of event time, emitting
    the corrected rows (doc_id, offset, original text, corrected text,
    both event times).

    Both sides carry watermarks (file modification time — the same
    event-time source the dedup stream uses), so the join state store
    EVICTS rows once the watermark passes them: a correction that
    arrives more than the window after its element matches nothing and
    the element's state is long gone — bounded memory forever, the
    entire point of the watermark contract. Equi-keys (doc_id, offset)
    carry the join; the time predicate rides on top (no cross-stream
    scan). availableNow trigger per wave, exactly-once via checkpoint.
    """
    from pyspark.sql import functions as F

    els = (
        spark.readStream.schema(FLAT_SCHEMA)
        .parquet(elements_dir)
        .select(
            "doc_id", "offset", "text",
            F.col("_metadata.file_modification_time").alias("el_ts"),
        )
        .withWatermark("el_ts", watermark)
    )
    corr = (
        spark.readStream.schema(CORR_SCHEMA)
        .parquet(corrections_dir)
        .select(
            F.col("doc_id").alias("c_doc_id"),
            F.col("offset").alias("c_offset"),
            "corrected_text",
            F.col("_metadata.file_modification_time").alias("corr_ts"),
        )
        .withWatermark("corr_ts", watermark)
    )
    joined = els.join(
        corr,
        (F.col("doc_id") == F.col("c_doc_id"))
        & (F.col("offset") == F.col("c_offset"))
        & (F.col("corr_ts") >= F.col("el_ts") - F.expr(f"INTERVAL {join_window_s} SECONDS"))
        & (F.col("corr_ts") <= F.col("el_ts") + F.expr(f"INTERVAL {join_window_s} SECONDS")),
        "inner",
    ).select("doc_id", "offset", "text", "corrected_text", "el_ts", "corr_ts")
    return _drain(joined.writeStream, checkpoint_dir, output_dir)


# ---------------------------------------------------------------------------
# Conversion progress events — the /stream/convert SSE stand-in
# (reference ``api.py:459-499`` conversion_progress_generator: start →
# progress(elements_extracted/total) → complete | error, per
# conversion). The HTTP layer is out of scope (docs/PARITY.md); the
# event CONTRACT is modeled as a streaming metrics query over the
# extraction pipeline itself: each micro-batch wave of documents emits
# one ``start`` event, one ``progress`` event per document with the
# CUMULATIVE elements-extracted count against the wave total (the
# reference's i/total loop, at real per-doc granularity instead of its
# simulated placeholder), and one ``complete`` event. A wave that
# raises writes a single ``error`` event instead (the reference's
# except branch) and re-raises so the checkpoint retries the batch.
# ---------------------------------------------------------------------------

PROGRESS_EVENTS_SCHEMA = (
    "epoch_id BIGINT, seq BIGINT, event STRING, doc_id STRING, "
    "elements_extracted BIGINT, total_elements BIGINT, message STRING"
)


def stream_convert_progress(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    events_dir: str,
    checkpoint_dir: str,
    merge_strategy: str = "default",
):
    """Drain a document inbox through extraction, emitting the SSE
    event sequence per wave alongside the flat elements.

    Exactly-once events under replay: both the elements and the event
    rows land in epoch-keyed dirs (``batch=b<epoch>``) overwritten
    whole — a re-delivered epoch rewrites exactly its own output, so
    a subscriber reading :func:`read_progress_events` never sees a
    duplicated or half-written wave (the stream_neardup_ingest replay
    contract). Per-doc cumulative counts ride one window over the
    wave's per-doc aggregate — partitioned work, driver holds nothing.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = spark.readStream.schema(DOCS_SCHEMA).parquet(input_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        try:
            flat = extract_elements(
                batch_df.select("doc_id", "spans"),
                merge_strategy=merge_strategy,
            ).localCheckpoint(eager=True)
            per_doc = flat.groupBy("doc_id").agg(
                F.count("*").cast("long").alias("n_elements")
            )
            wave = per_doc.agg(
                F.count("*").cast("long").alias("n_docs"),
                F.coalesce(F.sum("n_elements"), F.lit(0))
                .cast("long")
                .alias("total_elements"),
            )
            w = Window.orderBy("doc_id").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            progress = (
                per_doc.crossJoin(F.broadcast(wave))
                .select(
                    F.lit(int(epoch_id)).cast("long").alias("epoch_id"),
                    F.row_number()
                    .over(Window.orderBy("doc_id"))
                    .cast("long")
                    .alias("seq"),
                    F.lit("progress").alias("event"),
                    F.col("doc_id").cast("string").alias("doc_id"),
                    F.sum("n_elements").over(w).cast("long")
                    .alias("elements_extracted"),
                    "total_elements",
                    F.lit(None).cast("string").alias("message"),
                )
            )
            n_docs, total = (
                wave.select("n_docs", "total_elements").first()
            )
            bounds = spark.createDataFrame(
                [
                    (int(epoch_id), 0, "start", None, None, total,
                     f"Starting conversion wave b{epoch_id} "
                     f"({n_docs} docs)"),
                    (int(epoch_id), n_docs + 1, "complete", None, total,
                     total, "Conversion complete"),
                ],
                PROGRESS_EVENTS_SCHEMA,
            )
            events = bounds.unionByName(progress)
            flat.write.mode("overwrite").parquet(
                f"{output_dir}/batch=b{epoch_id}"
            )
            events.write.mode("overwrite").parquet(
                f"{events_dir}/batch=b{epoch_id}"
            )
        except Exception as e:  # the reference's error event branch
            spark.createDataFrame(
                [(int(epoch_id), 0, "error", None, None, None,
                  f"Error during conversion: {e}")],
                PROGRESS_EVENTS_SCHEMA,
            ).write.mode("overwrite").parquet(
                f"{events_dir}/batch=b{epoch_id}"
            )
            raise

    return _drain(docs.writeStream.foreachBatch(sink), checkpoint_dir)


def read_progress_events(spark: SparkSession, events_dir: str) -> DataFrame:
    """Subscriber view of the event stream: every committed wave's
    events in (epoch_id, seq) order — what the SSE client would have
    received, replayable from disk."""
    import os

    # a subscriber may arrive before the first wave creates events_dir
    names = os.listdir(events_dir) if os.path.isdir(events_dir) else []
    dirs = sorted(
        os.path.join(events_dir, d) for d in names if d.startswith("batch=")
    )
    if not dirs:
        return spark.createDataFrame([], PROGRESS_EVENTS_SCHEMA)
    return spark.read.parquet(*dirs).orderBy("epoch_id", "seq")
