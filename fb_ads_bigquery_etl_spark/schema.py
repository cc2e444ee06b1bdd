"""Schema module — seed schema, raw input schema, dedup key, evolution rule.

Mirrors the reference's fixed seed schema (schema.json:1-34), the nested
raw-record shape produced by the Graph API fetch (main.py:274-287), the
composite dedup key (main.py:506), and the STRING-else-FLOAT dynamic
schema-evolution typing rule (main.py:427-434).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T


def event_ts_to_timestamp(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize a nanosecond-parquet timestamp column to a µs TIMESTAMP.

    events.parquet stores ns-precision INT64 timestamps, which Spark
    reads differently across versions: ≤4.0 surfaces raw nanos as LONG
    (with spark.sql.legacy.parquet.nanosAsLong), 4.1+ reads them
    natively as TIMESTAMP_NTZ truncated to µs. Both normalize here to a
    session-tz TIMESTAMP truncated to µs — identical to DuckDB's read
    of the same file (session tz is pinned UTC, so ntz→ltz is an
    identity reinterpretation). Works on batch and streaming frames
    (pure schema inspection + one projection).
    """
    if isinstance(df.schema[col].dataType, T.LongType):
        return df.withColumn(col, F.expr(f"timestamp_micros({col} DIV 1000)"))
    return df.withColumn(col, F.col(col).cast("timestamp"))

# --------------------------------------------------------------------------
# Composite logical key (reference main.py:506; backfill.py:245):
# enforced by dedup / upsert, never declared in the reference.
DEDUP_KEY: tuple[str, ...] = (
    "campaign_name",
    "ad_name",
    "date_start",
    "publisher_platform",
)

# Grain-defining partition column (docs/GCP_SETUP.md:146-152: DAY partitioning)
PARTITION_COLUMN = "date_start"

# Columns the evolution rule types as STRING rather than FLOAT
# (reference hardcodes this name list, main.py:412-418).
_STRING_TYPED_COLUMNS = frozenset(
    {
        "campaign_name",
        "ad_name",
        "publisher_platform",
        "date_start",
        "date_stop",
        "account_id",
    }
)

# video_* single-element wrapper metrics (main.py:349-356 extract_metric):
# (column, is_float)
VIDEO_METRICS: tuple[tuple[str, bool], ...] = (
    ("video_continuous_2_sec_watched_actions", False),
    ("video_30_sec_watched_actions", False),
    ("video_avg_time_watched_actions", True),
    ("video_p25_watched_actions", False),
    ("video_p50_watched_actions", False),
    ("video_p75_watched_actions", False),
    ("video_p100_watched_actions", False),
)


def _value_wrapper() -> T.ArrayType:
    return T.ArrayType(T.StructType([T.StructField("value", T.StringType())]))


# Nested raw record as returned by the paginated source (FIXTURES.md §1;
# reference main.py:274-287 field list). Numerics arrive as strings.
RAW_INSIGHTS_SCHEMA = T.StructType(
    [
        T.StructField("campaign_name", T.StringType()),
        T.StructField("ad_name", T.StringType()),
        T.StructField("publisher_platform", T.StringType()),
        T.StructField("impressions", T.StringType()),
        T.StructField("clicks", T.StringType()),
        T.StructField("spend", T.StringType()),
        T.StructField("date_start", T.StringType()),
        T.StructField("date_stop", T.StringType()),
        T.StructField("video_continuous_2_sec_watched_actions", _value_wrapper()),
        T.StructField("video_30_sec_watched_actions", _value_wrapper()),
        T.StructField("video_avg_time_watched_actions", _value_wrapper()),
        T.StructField("video_p25_watched_actions", _value_wrapper()),
        T.StructField("video_p50_watched_actions", _value_wrapper()),
        T.StructField("video_p75_watched_actions", _value_wrapper()),
        T.StructField("video_p100_watched_actions", _value_wrapper()),
        T.StructField(
            "actions",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("action_type", T.StringType()),
                        T.StructField("value", T.StringType()),
                    ]
                )
            ),
        ),
        # `results` is fetched but never flattened (main.py:286; SURVEY §1.2)
        T.StructField(
            "results",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("indicator", T.StringType()),
                        T.StructField("values", _value_wrapper()),
                    ]
                )
            ),
        ),
        T.StructField("account_id", T.StringType()),
    ]
)


def evolved_type(column_name: str) -> T.DataType:
    """STRING-else-FLOAT dynamic evolution rule (main.py:427-434)."""
    if column_name in _STRING_TYPED_COLUMNS:
        return T.StringType()
    return T.DoubleType()


def sanitize_column_name(action_type: str) -> str:
    """Dot -> underscore rename (main.py:384,390; schema.json:19-20)."""
    return action_type.replace(".", "_")
