"""Structured Streaming operators (§2.8).

The reference has no streaming; the crawl deliberately uses epoch-BSP for
oracle-exact ordering (SURVEY §2.8).  These operators cover the *ingest*
side a production deployment pairs with the crawl: event streams flowing
into the same windowed aggregations the batch registry exposes (q28), with
watermarks bounding late data.  Batch and streaming share one aggregation
definition, so the streaming result is verified against the batch oracle in
tests (run with ``Trigger.AvailableNow`` over a static directory).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def windowed_event_counts(events: DataFrame, window: str = "6 hours",
                          watermark: str = "1 hour") -> DataFrame:
    """Shared batch/streaming aggregation: tumbling-window counts + exact
    decimal value sums per event_type.  On a streaming input the watermark
    bounds state: windows older than (max event time - watermark) finalize
    and evict."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
            .alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def stream_events(spark: SparkSession, events_dir: str) -> DataFrame:
    """Streaming source over an events directory, via the TableFormat
    seam (the crawl's fetch_log tables stream the same way —
    append-only deltas arrive as new commits/files)."""
    from mlscraper_spark.tables import get_table_format

    return get_table_format(spark).read_stream(
        spark, events_dir, EVENTS_SCHEMA, max_files_per_trigger=4
    )


def stateful_sessionize(events: DataFrame, gap_seconds: int = 3600) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    session counting with a gap rule, state = (last_ts, n_sessions,
    n_events) carried across micro-batches.  The batch-mode oracle is the
    lag/cumsum form in queries.q13_sessionize — the test asserts equality.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        last_ts, n_sessions, n_events = (
            state.get if state.exists else (None, 0, 0)
        )
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for ts in rows["ts"]:
            epoch = int(ts.timestamp())
            if last_ts is None or epoch - last_ts > gap_seconds:
                n_sessions += 1
            last_ts = epoch
            n_events += 1
        state.update((last_ts, n_sessions, n_events))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_sessions": [n_sessions],
             "n_events": [n_events]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_sessions long, n_events long",
        stateStructType="last_ts long, n_sessions long, n_events long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def crawl_monitor(fetch_log: DataFrame, *keys: str) -> DataFrame:
    """Shared batch/stream crawl-monitoring aggregation: per-epoch (and
    per ``keys``) fetch counts, discovered links/images, and non-200
    errors.  Batch form runs over ``read_fetch_log``; streaming form tails
    the same append-only snapshot dirs live (``stream_fetch_log``) so an
    operator can watch a crawl without re-reading its history — the test
    pins stream == batch."""
    return fetch_log.groupBy("epoch", *keys).agg(
        F.count(F.lit(1)).alias("n_fetched"),
        F.sum("n_links").alias("n_links"),
        F.sum("n_images").alias("n_images"),
        F.sum(F.when(F.col("status") != 200, 1).otherwise(0)).alias("n_errors"),
    )


def stream_fetch_log(spark: SparkSession, crawl_root: str) -> DataFrame:
    """Stream over every snapshot's fetch_log via the TableFormat seam
    (append-only — new epochs appear as new commits/files and flow
    through incrementally)."""
    import os

    from mlscraper_spark.crawl.engine import FETCHLOG_SCHEMA
    from mlscraper_spark.tables import get_table_format

    return get_table_format(spark).read_stream(
        spark, os.path.join(crawl_root, "snap_*", "fetch_log"),
        FETCHLOG_SCHEMA, max_files_per_trigger=8,
    )


def run_crawl_monitor_to_memory(spark: SparkSession, crawl_root: str,
                                table_name: str) -> None:
    """Drain the currently-available fetch history through the monitor
    aggregation into an in-memory sink (AvailableNow)."""
    q = (
        crawl_monitor(stream_fetch_log(spark, crawl_root))
        .writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def dedup_events(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup — the streaming twin of the crawl's URL-seen
    set: ``dropDuplicatesWithinWatermark`` keys state by event_id and the
    watermark bounds how long each key is remembered, so state is sized
    by the dedup horizon, not the stream's full history (the batch crawl
    bounds the same memory with periodic url_seen compaction).  Batch
    inputs take the plain distinct path, so stream == batch is testable
    on replay-free input."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark) \
            .dropDuplicatesWithinWatermark(["event_id"])
    return events.dropDuplicates(["event_id"])


def run_dedup_to_memory(spark: SparkSession, events_dir: str,
                        table_name: str) -> None:
    """Drain available input through the streaming dedup into a memory
    sink (append mode — dedup emits rows, not updating aggregates)."""
    q = (
        dedup_events(stream_events(spark, events_dir))
        .writeStream.format("memory")
        .queryName(table_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_stream_to_memory(spark: SparkSession, events_dir: str,
                         table_name: str, window: str = "6 hours") -> None:
    """Drain all currently-available input through the streaming aggregation
    into an in-memory sink (AvailableNow: process everything, then stop)."""
    agg = windowed_event_counts(stream_events(spark, events_dir), window)
    q = (
        agg.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
