"""Analytics layer (reference Q1-Q5) — the SQL the reference delegates to
BigQuery (docs/DEPLOYMENT.md:445-474; README.md:383-385; docs/GCP_SETUP.md:360-367),
as native DataFrame helpers. Current-date is injected, never wall-clock
(testability; FIXTURES.md §5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def freshness(df: DataFrame, date_col: str = "date_start") -> DataFrame:
    """Q2: SELECT MAX(date_start) AS latest_date (docs/DEPLOYMENT.md:448-451)."""
    return df.agg(F.max(date_col).alias("latest_date"))


def daily_rollup(
    df: DataFrame,
    *,
    current_date: str,
    days: int = 7,
    date_col: str = "date_start",
    metrics: tuple[str, ...] = ("impressions", "spend"),
) -> DataFrame:
    """Q3: last-N-days rollup (docs/DEPLOYMENT.md:453-462).

    Partition-pruned scan -> partial hash aggregate -> final aggregate.
    """
    agg_cols = [F.count("*").alias("row_count")] + [
        F.sum(m).alias(f"total_{m}") for m in metrics
    ]
    return (
        df.filter(F.col(date_col) >= F.date_sub(F.lit(current_date).cast("date"), days))
        .groupBy(date_col)
        .agg(*agg_cols)
        .orderBy(F.col(date_col).desc())
    )


def freshness_status(
    df: DataFrame, *, current_date: str, date_col: str = "date_start"
) -> DataFrame:
    """Q4: OK/MISSING_DATA scalar check (docs/DEPLOYMENT.md:466-474)."""
    return df.agg(
        F.max(date_col).alias("latest_date"),
        F.when(
            F.max(date_col) == F.date_sub(F.lit(current_date).cast("date"), 1),
            F.lit("OK"),
        )
        .otherwise(F.lit("MISSING_DATA"))
        .alias("status"),
    )


def row_count(df: DataFrame) -> DataFrame:
    """Q5: SELECT COUNT(*) AS row_count (docs/GCP_SETUP.md:362-365)."""
    return df.agg(F.count("*").alias("row_count"))


def incremental_rollup(
    spark,
    fact_path: str,
    rollup_path: str,
    *,
    changed_dates: list[str],
    date_col: str = "date_start",
    metrics: tuple[str, ...] = ("impressions", "spend"),
) -> list[str]:
    """Incrementally maintain a month-grain rollup of a day-partitioned
    fact table: recompute ONLY the months containing `changed_dates` and
    surgically replace those partitions of the rollup table (dynamic
    partition overwrite — sinks.overwrite_partitions).

    The reference rebuilds its rollups with full-table CTAS on every
    load (docs/DEPLOYMENT.md:453-462); at 100 TB that is an O(table)
    scan per day. Here the fact read prunes to the affected months'
    day-partitions (the `date_col` filter is partition pruning, not a
    data filter) and the write touches only those month directories —
    I/O tracks the CHANGED fraction of the table. A re-run with the
    same dates is idempotent. Returns the affected month strings.
    """
    from fb_ads_bigquery_etl_spark.sinks import overwrite_partitions

    months = sorted(
        {d[:7] + "-01" for d in changed_dates}
    )  # first-of-month tags
    if not months:
        return []
    fact = spark.read.parquet(fact_path)
    # Partition pruning only fires on predicates over the RAW partition
    # column — a date_trunc/date_format of it scans every partition. So
    # the month filter is an OR of explicit [first, next-first) ranges
    # (ISO strings compare correctly), which prunes to the affected
    # months' day-partitions.
    def _next_month(m: str) -> str:
        y, mo = int(m[:4]), int(m[5:7])
        return f"{y + (mo == 12):04d}-{(mo % 12) + 1:02d}-01"

    pred = None
    for m in months:
        rng = (F.col(date_col) >= m) & (F.col(date_col) < _next_month(m))
        pred = rng if pred is None else (pred | rng)
    affected = fact.filter(pred)
    month_col = F.date_format(
        F.date_trunc("month", F.col(date_col).cast("date")), "yyyy-MM-dd"
    )
    agg_cols = [F.count("*").alias("row_count")] + [
        F.sum(m).alias(f"total_{m}") for m in metrics
    ]
    rolled = affected.groupBy(month_col.alias("month")).agg(*agg_cols)
    # Dynamic partition overwrite only rewrites months PRESENT in
    # `rolled`. A changed month whose fact rows are now all gone (a
    # retraction/delete backfill) produces no output row, so its stale
    # rollup partition must be deleted explicitly or the rollup would
    # disagree with the fact table forever. `rolled` is ≤ len(months)
    # rows; persist so the write and the presence probe share one scan.
    rolled = rolled.persist()
    try:
        present = {r["month"] for r in rolled.select("month").collect()}
        overwrite_partitions(rolled, rollup_path, partition_col="month")
    finally:
        rolled.unpersist()
    from fb_ads_bigquery_etl_spark import storage

    st = storage.resolve(spark, rollup_path)
    for m in sorted(set(months) - present):
        st.delete(rollup_path.rstrip("/") + f"/month={m}")
    return months
