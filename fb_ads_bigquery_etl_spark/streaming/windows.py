"""Structured Streaming surface: watermarked window aggregations.

The reference has no stream processing — its "streaming" is BigQuery
streaming *inserts* (main.py:441-447), and late data is handled by
re-running backfill + dedup (backfill.py:177-291). Here the same
logical aggregations run incrementally: `readStream` over a landing
directory, event-time windows, watermarks bounding state. Each
streaming op has a batch twin in `__spark_entry__` so the test suite
can assert stream == batch on the same input (the exactly-once
equivalence that makes `Trigger.AvailableNow` backfills safe).

Scale notes: windowed aggs shuffle on (window, keys) like any groupBy;
the watermark is what keeps state finite at 100 TB/day — without it a
tumbling agg would retain every window forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

# events.parquet carries ns-precision INT64 timestamps; streaming file
# sources need an explicit schema. How `ts` surfaces depends on the
# Spark version (≤4.0: raw nanos LONG under nanosAsLong; 4.1+: native
# TIMESTAMP_NTZ truncated to µs), so the schema is taken from a batch
# read of the same path and schema.event_ts_to_timestamp normalizes
# either shape — identical to the batch-side `_events` reader.


def read_events_stream(
    spark: SparkSession, path: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Open a file-source stream over events parquet (file or directory).

    At scale this is the landing-zone pattern: producers drop parquet
    files, the stream discovers them incrementally with exactly-once
    tracking; `max_files_per_trigger` throttles each micro-batch.
    """
    from fb_ads_bigquery_etl_spark.schema import event_ts_to_timestamp

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(spark.read.parquet(path).schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(path)
    return event_ts_to_timestamp(raw)


def tumbling_counts(
    df: DataFrame, *, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts + exact decimal value sums.

    Batch twin: `q_tumbling_hourly` (`window.start == date_trunc('hour')`
    for aligned windows). The watermark bounds state to ~watermark/window
    windows per key group; late rows beyond it are dropped — the
    streaming replacement for the reference's re-run-backfill model.
    """
    return (
        df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_aggregate(
    df: DataFrame, *, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows (30-min inactivity gap), one row per
    session. Batch twin: `q_sessionize` (lag/cumsum formulation) — the
    number of sessions per user must match exactly.

    `session_window` is Spark's native merging-window state operator:
    state per (user, open session) only, closed by the watermark — the
    scalable form of sessionization (no per-user full history)."""
    return (
        df.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("sess"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select("user_id", "n_events", "first_ts", "last_ts")
    )


def streaming_dedup(
    df: DataFrame,
    keys: list[str] | tuple[str, ...] = ("event_id",),
    *,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup with watermark-bounded state.

    `dropDuplicatesWithinWatermark`: a key's state is retained only
    until the watermark passes its last-seen event time, so state size
    tracks the duplicate-arrival horizon instead of the full stream
    history — the 100 TB-safe form of T1/Q1's DISTINCT (plain
    `dropDuplicates` on a stream retains every key forever).

    Batch twin: `dropDuplicates(keys)` over the same input — equal
    row sets whenever duplicates arrive within the watermark horizon.
    """
    return df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(list(keys))
