"""Structured Streaming surface: continuous extraction over an arriving
document stream.

The engine's semantics are batch-shaped (per-doc span reassembly with an
offset order key), so the streaming integration is the idiomatic
`readStream -> foreachBatch(run_pipeline) -> append`: every micro-batch
runs the exact same plan as the batch job (same UDF stages, same
reassembly, same metrics/lineage), and Spark's streaming checkpoint
gives exactly-once file-source progress on top of our own per-bucket
manifest for the batch path. Late/duplicate doc_ids across micro-batches
are the caller's contract (doc_id is the natural dedup key downstream).

This intentionally does NOT re-implement the pipeline with watermarked
stateful operators: span order lives in the data (offset), and one
document's spans arrive together in a file source, so per-batch
processing preserves the span-sequence-equality invariant exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ocr_spark.spark import schemas as S
from ocr_spark.spark.pipeline import run_pipeline


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    media_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    run_id: str = "stream",
    profile: str = "default",
    max_files_per_trigger: int | None = None,
    available_now: bool = False,
    **pipeline_kw,
) -> StreamingQuery:
    """documents parquet files arriving in input_dir -> extracted parquet.

    available_now=True drains the currently-visible files and stops
    (the batch-catch-up trigger); otherwise the query runs continuously.
    """
    reader = spark.readStream.schema(S.DOCUMENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = run_pipeline(
            spark,
            batch_df,
            media_df,
            profile=profile,
            run_id=f"{run_id}-b{batch_id}",
            **pipeline_kw,
        )
        out.write.mode("append").parquet(out_dir)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_windowed_rollup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    available_now: bool = False,
) -> StreamingQuery:
    """Watermarked event-time rollup over an arriving events stream —
    the late-data path of the rollup operator (relational.q_rollup
    restated for streams): tumbling event-time windows + event_type,
    append mode, so a window emits exactly once when the watermark
    passes its end and events later than the watermark are dropped
    rather than mutating a finalized window. Sums use the same
    integer-quantum discipline as the batch rollup."""
    from pyspark.sql import functions as F

    stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(input_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 1000, 0).cast("long")).alias(
                "value_millis"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "value_millis",
        )
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


DOCS_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("text", StringType()),
    ]
)


def stream_dedup_exact(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "30 minutes",
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming twin of dedup_exact (functions/dedup.py): emit only the
    FIRST arrival of each normalized-content hash; re-arrivals within
    the watermark horizon are dropped by keyed state
    (dropDuplicatesWithinWatermark), and the watermark BOUNDS that
    state — the key store holds one entry per distinct hash seen within
    the horizon, never one per stream row, so it cannot grow with
    stream length at the 100 TB/day design point. Same normalization
    (lower, whitespace-collapse, trim, md5) as the batch operator — the
    expression is literally shared (functions.dedup.norm_hash_col) so a
    backfill batch job and the live stream agree on what is a dup."""
    from ocr_spark.functions.dedup import norm_hash_col

    stream = spark.readStream.schema(DOCS_STREAM_SCHEMA).parquet(input_dir)
    keyed = (
        stream.withWatermark("ts", watermark)
        .withColumn("norm_hash", norm_hash_col())
        .dropDuplicatesWithinWatermark(["norm_hash"])
        .select("doc_id", "ts", "norm_hash")
    )
    writer = (
        keyed.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# --------------------------------------------------------------------------
# custom stateful operator: gap sessionization with applyInPandasWithState
# --------------------------------------------------------------------------

EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)

# open-session state carried between micro-batches
_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
    ]
)


def make_sessionize_state_fn(gap_s: int = 1800):
    """applyInPandasWithState update fn: per user, emit a session row
    whenever a gap > gap_s closes one; the open session persists in the
    group state across micro-batches (the engine's custom stateful
    streaming operator — events for one user may arrive over many
    batches and the session must survive the batch boundary)."""
    import datetime as dt

    import pandas as pd

    gap_us = gap_s * 1_000_000

    def _to_us(ts) -> int:
        return int(pd.Timestamp(ts).value // 1000)

    def _to_ts(us: int):
        # naive-UTC round trip (utcfromtimestamp is deprecated in 3.12+).
        # Correct for fixed-offset session timezones; the engine pins
        # spark.sql.session.timeZone=UTC (session.py), and a DST zone
        # would make naive timestamps non-monotonic across transitions.
        return dt.datetime.fromtimestamp(us / 1e6, dt.timezone.utc).replace(
            tzinfo=None
        )

    def fn(key, pdfs, state):
        (user_id,) = key
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us = last_us = None
            n = 0
        closed = []
        # Sort across ALL Arrow chunks before the gap scan: a group whose
        # micro-batch spans multiple chunks may deliver an earlier timestamp
        # in a later chunk, which a per-chunk sort would merge into the
        # wrong session. Null/NaT timestamps carry no ordering information
        # and are skipped (pd.Timestamp(NaT).value is INT64_MIN, which
        # would otherwise poison start_us).
        for ts in sorted(
            _to_us(t) for pdf in pdfs for t in pdf["ts"] if pd.notna(t)
        ):
            if start_us is None:
                start_us, last_us, n = ts, ts, 1
            elif ts < start_us:
                # a LATER micro-batch delivered an event before the open
                # session's start (the in-batch sort can't see it)
                if start_us - ts > gap_us:
                    # its own earlier session: gap-separated on the right
                    # by construction; unbounded reordering beyond one
                    # open session needs a watermark, out of scope here
                    closed.append((user_id, _to_ts(ts), _to_ts(ts), 1))
                else:
                    start_us = ts  # extend the open session backward
                    n += 1
            elif ts - last_us > gap_us:
                closed.append((user_id, _to_ts(start_us), _to_ts(last_us), n))
                start_us, last_us, n = ts, ts, 1
            else:
                last_us = max(last_us, ts)
                n += 1
        if state.hasTimedOut:
            if start_us is not None:
                closed.append((user_id, _to_ts(start_us), _to_ts(last_us), n))
            state.remove()
        else:
            state.update((start_us, last_us, n))
            state.setTimeoutDuration(gap_s * 1000)
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "session_start", "session_end", "n_events"],
            )

    return fn


def stream_sessionize(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    gap_s: int = 1800,
    available_now: bool = False,
) -> StreamingQuery:
    """events parquet files arriving in input_dir -> closed sessions.

    Open sessions live in group state across micro-batches and close on
    a processing-time timeout of one gap.

    available_now=True drains the currently-visible files and stops. A
    processing-time timeout always asks for another (no-data) batch, so
    the drain turns no-data micro-batches off for this query: it ends
    once the input is consumed, and open sessions stay in the state for
    the next run, exactly as at a batch boundary."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(input_dir)
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        make_sessionize_state_fn(gap_s),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
    writer = (
        sessions.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if not available_now:
        return writer.start()
    writer = writer.trigger(availableNow=True)
    # the query reads its conf from a session clone taken at start()
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        return writer.start()
    finally:
        spark.conf.set(key, prev)
