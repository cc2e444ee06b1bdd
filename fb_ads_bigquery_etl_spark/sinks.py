"""Sinks (reference L1-L5) — partitioned parquet tables, CSV artifacts,
schema-evolving append, and idempotent key-MERGE upsert.

The reference's warehouse is a DAY-partitioned BigQuery table
(docs/GCP_SETUP.md:146-152) appended via streaming inserts
(main.py:441-447) with ALTER-based schema evolution (main.py:400-438).
Here the table is hive-partitioned parquet: partition pruning on
date_start is the same scan-cost lever BigQuery partitioning buys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from fb_ads_bigquery_etl_spark import storage
from fb_ads_bigquery_etl_spark.schema import (
    DEDUP_KEY,
    PARTITION_COLUMN,
    evolved_type,
)


def list_partition_values(
    spark: SparkSession, table_path: str, *, partition_col: str = PARTITION_COLUMN
) -> list[str]:
    """Hive-partition discovery through `storage`, not the driver's
    local disk: at 100 TB the table lives on an object store."""
    prefix = f"{partition_col}="
    pattern = f"{table_path.rstrip('/')}/{prefix}*"
    return sorted(
        p.rsplit("/", 1)[-1][len(prefix):]
        for p in storage.resolve(spark, table_path).glob(pattern)
    )


def path_exists(spark: SparkSession, path: str) -> bool:
    """Store-agnostic existence check."""
    return storage.resolve(spark, path).exists(path)


def glob_files(spark: SparkSession, pattern: str) -> list[str]:
    """Store-agnostic glob, full paths, sorted."""
    return storage.resolve(spark, pattern).glob(pattern)


def write_partitioned(
    df: DataFrame, path: str, *, mode: str = "append", partition_col: str = PARTITION_COLUMN
) -> None:
    """L5: hive-partitioned parquet append (day partitioning on date_start)."""
    df.write.mode(mode).partitionBy(partition_col).parquet(path)


def write_csv_artifact(df: DataFrame, path: str, *, single_file: bool = True) -> None:
    """L1: CSV review artifact (reference /tmp/ads_output.csv, main.py:529-535).

    coalesce(1) mirrors the reference's single review file; multi-file for
    scale is the default `single_file=False` path.
    """
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def read_csv_inferred(spark: SparkSession, path: str) -> DataFrame:
    """L2: CSV source with schema inference (reference load_csv_to_bq.py:86-91:
    autodetect=True, skip_leading_rows=1)."""
    return spark.read.option("header", True).option("inferSchema", True).csv(path)


def append_with_schema_evolution(
    spark: SparkSession, df: DataFrame, path: str
) -> None:
    """L4: schema-evolving append.

    Reference semantics (main.py:400-438): diff incoming columns vs live
    table, add missing ones as NULLABLE (STRING for the known name list,
    FLOAT otherwise), never retype or drop. Parquet + mergeSchema gives
    the union-read (`read_table`); this helper enforces the *typing
    rule* by casting new columns before the write so old and new files
    agree. A table with no partition yet (absent, or only an empty
    first append's `_SUCCESS`) has no columns to diff against.
    """
    if list_partition_values(spark, path):
        existing = set(spark.read.parquet(path).columns)
        for c in df.columns:
            if c not in existing:
                df = df.withColumn(c, F.col(c).cast(evolved_type(c)))
    df.write.mode("append").partitionBy(PARTITION_COLUMN).parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    *,
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: the co-located-join layout for 100 TB.

    Hash-bucketing on the join/dedup key at WRITE time moves the shuffle
    to ingest (paid once): every later equi-join or aggregation on the
    bucket key runs shuffle-FREE (SortMergeJoin with zero Exchange when
    both sides share bucketing; tests/test_bucketing.py pins this).
    `sortBy` additionally pre-sorts within buckets, dropping the
    per-query sort. This is Spark's answer to the reference's
    day-partitioned BigQuery table for *join* locality rather than scan
    pruning — use both (partitionBy for pruning, bucketBy for joins).
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name, format="parquet")


def delta_available(spark: SparkSession) -> bool:
    """True when the delta-spark package AND its SQL extension are live
    in this session (both are required for MERGE INTO; the pip package
    alone is not enough if the session was built without the Delta
    catalog/extension configs)."""
    try:
        from delta.tables import DeltaTable  # noqa: F401
    except ImportError:
        return False
    ext = spark.conf.get("spark.sql.extensions", "") or ""
    return "DeltaSparkSessionExtension" in ext


def merge_upsert_delta(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key: tuple[str, ...] = DEDUP_KEY,
) -> DataFrame:
    """True row-level MERGE via Delta Lake: matched keys update, new
    keys insert — transactional, no partition rewrite, concurrent-reader
    safe. Requires `delta_available`; `merge_upsert` dispatches here
    automatically when it is.

    The ON clause includes the partition column (part of DEDUP_KEY), so
    Delta's file-pruning bounds the rewrite to affected partitions —
    the same bounded-IO contract as the parquet fallback, minus the
    read-modify-write of whole partitions.
    """
    from delta.tables import DeltaTable

    if not DeltaTable.isDeltaTable(spark, path):
        updates.write.format("delta").partitionBy(PARTITION_COLUMN).save(path)
        return spark.read.format("delta").load(path)
    tgt = DeltaTable.forPath(spark, path)
    cond = " AND ".join(f"t.`{c}` <=> s.`{c}`" for c in key)
    # whenMatchedUpdateAll/whenNotMatchedInsertAll only evolve the target
    # schema when Delta's autoMerge conf is on; without it an `updates`
    # frame carrying new columns raises instead of evolving — which would
    # break the schema-evolving contract the parquet fallback (and
    # run_streaming's docstring) promise. Scope it to this merge.
    AUTOMERGE = "spark.databricks.delta.schema.autoMerge.enabled"
    prev = spark.conf.get(AUTOMERGE, None)
    spark.conf.set(AUTOMERGE, "true")
    try:
        (
            tgt.alias("t")
            .merge(updates.alias("s"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
    finally:
        if prev is None:
            spark.conf.unset(AUTOMERGE)
        else:
            spark.conf.set(AUTOMERGE, prev)
    return spark.read.format("delta").load(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Engine-aware table read: Delta when the path is a Delta table in
    a Delta-capable session (a plain parquet read there would scan
    superseded data files the _delta_log has tombstoned), parquet
    otherwise."""
    if delta_available(spark):
        from delta.tables import DeltaTable

        if DeltaTable.isDeltaTable(spark, path):
            return spark.read.format("delta").load(path)
    # mergeSchema: partition-overwrite MERGE leaves older partitions
    # with narrower files after schema evolution; a single-footer
    # inference would drop the newer columns
    return spark.read.option("mergeSchema", True).parquet(path)


def merge_upsert(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key: tuple[str, ...] = DEDUP_KEY,
    engine: str = "auto",
) -> None:
    """Idempotent key-based MERGE (fixes EP3's duplicate-on-reload gap,
    SURVEY.md §3). Returns nothing: a caller that wants the merged
    table reads it (`read_table`). An empty `updates` writes nothing,
    and creates no table at a path that has none.

    engine='auto' probes for Delta (`delta_available`) and issues a real
    row-level MERGE INTO when present; otherwise (plain parquet) it
    falls back to a partition-overwrite MERGE: only partitions present
    in `updates` are rewritten (updates win over existing rows on the
    key), through `overwrite_partitions`, whatever the session's
    partition-overwrite default. engine='delta' forces the Delta path
    and raises if the session can't do it; engine='parquet' forces the
    fallback.
    """
    if engine not in ("auto", "delta", "parquet"):
        raise ValueError(f"unknown merge engine: {engine!r}")
    if engine == "delta" and not delta_available(spark):
        raise RuntimeError(
            "merge_upsert(engine='delta') requires the delta-spark package "
            "and spark.sql.extensions=...DeltaSparkSessionExtension"
        )
    if engine == "delta" or (engine == "auto" and delta_available(spark)):
        merge_upsert_delta(spark, updates, path, key)
        return
    # Two actions consume `updates` (partition discovery + the MERGE
    # write): persist so the upstream pipeline executes once, not twice.
    updates = updates.persist()
    try:
        part_vals = [
            r[0] for r in updates.select(PARTITION_COLUMN).distinct().collect()
        ]
        if not part_vals:
            return
        tagged = updates.withColumn("_is_update", F.lit(1))
        if path_exists(spark, path):
            existing = (
                spark.read.option("mergeSchema", True)
                .parquet(path)
                .filter(F.col(PARTITION_COLUMN).isin(part_vals))
                .withColumn("_is_update", F.lit(0))
            )
            merged = tagged.unionByName(existing, allowMissingColumns=True)
        else:
            merged = tagged
        w = Window.partitionBy(*key).orderBy(F.col("_is_update").desc())
        winners = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_is_update")
        )
        # one narrow shuffle puts each date partition in exactly one
        # task -> ONE file per rewritten partition instead of one per
        # (window task, partition) pair (r14, guide §6: the window's 32
        # tasks each wrote into every touched date dir — ~30x the files,
        # which every later merge re-lists and re-reads; same
        # one-file-per-partition discipline as the pq bucket writers,
        # same documented skew valve)
        overwrite_partitions(winners.repartition(F.col(PARTITION_COLUMN)), path)
    finally:
        updates.unpersist()


def overwrite_partitions(
    df: DataFrame, path: str, *, partition_col: str = PARTITION_COLUMN
) -> None:
    """Surgical partition overwrite: replace ONLY the partitions present
    in ``df``, leave every other partition untouched.

    This is the scalable backfill primitive the reference lacks — its
    EP2/EP3 path appends and relies on a later full-table DISTINCT
    (README.md:383-385) to clean up. With dynamic partition overwrite a
    re-run of one day rewrites one directory, idempotently, with no
    full-table scan — at 100 TB the difference between O(day) and
    O(table) I/O.

    The engine's one dynamic-overwrite write. The mode is stated on the
    writer, which wins over the session's partition-overwrite conf in
    either direction, so the write never reads or changes shared session
    state: concurrent writers on one session cannot turn each other's
    write static. A `df` with no rows rewrites no partition.
    """
    writer = df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    writer.partitionBy(partition_col).parquet(path)


def compact_partition(
    spark: SparkSession,
    path: str,
    partition_value: str,
    *,
    partition_col: str = PARTITION_COLUMN,
    target_rows_per_file: int = 1_000_000,
) -> int:
    """Small-file compaction for one partition; returns files after.

    Streaming/incremental appends accumulate many small files per
    partition (each micro-batch/task writes its own); scans then pay
    per-file open cost and lose vectorized-read efficiency. Compaction
    rewrites the partition into ceil(rows/target) files via coalesce —
    a narrow (shuffle-free) rewrite. Run it on cold partitions (the
    reference's yesterday-only write pattern makes every partition cold
    after a day).
    """
    cur = spark.read.parquet(path).filter(F.col(partition_col) == partition_value)
    # Cut lineage so the write below does not read from the path it
    # overwrites (Spark rejects self-overwrite); localCheckpoint
    # materializes the one partition being rewritten, nothing more.
    snap = cur.localCheckpoint(eager=True)
    n_rows = snap.count()
    n_files = max(1, -(-n_rows // target_rows_per_file))
    # Dynamic partition overwrite replaces ONLY this partition through
    # Spark's commit protocol — no manual directory renames, no window
    # where the partition is missing, and it works on object stores.
    overwrite_partitions(
        snap.coalesce(n_files), path, partition_col=partition_col
    )
    part_dir = path.rstrip("/") + f"/{partition_col}={partition_value}"
    return len(storage.resolve(spark, part_dir).glob(f"{part_dir}/*.parquet"))


def write_jsonl(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """JSONL (newline-delimited JSON) sink — the interchange format LLM
    data pipelines ship corpora in. Spark's json writer IS jsonl (one
    object per line, one file per partition); gzip keeps the artifact
    splittable-enough in practice (per-file parallelism: repartition
    before writing to control file count)."""
    df.write.mode(mode).option("compression", "gzip").json(path)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSONL source. Pass an explicit schema at scale: schema inference
    is a full extra pass over the data, exactly the scan-twice pattern
    a 100 TB corpus cannot afford (mirrors the reference's explicit
    CSV schema choice, load_csv_to_bq.py:95-108)."""
    reader = spark.read
    if schema is not None:
        # Without a schema the JSON reader always infers (one extra pass);
        # there is no option to toggle it ("inferSchema" is CSV-only).
        reader = reader.schema(schema)
    return reader.json(path)


def write_orc(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_col: str | None = None,
) -> None:
    """ORC sink — the second columnar interchange format warehouses
    expect next to parquet (Hive/Trino ecosystems). Same layout
    contract as write_partitioned: optional directory partitioning,
    zlib-compressed stripes, predicate-pushdown-capable files."""
    writer = df.write.mode(mode).option("compression", "zlib")
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.orc(path)


def read_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC source; like read_jsonl, pass an explicit schema at scale to
    skip the footer-sampling inference pass."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def scd2_apply(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    *,
    key: tuple[str, ...],
    tracked: tuple[str, ...],
    effective_date: str,
) -> DataFrame:
    """Slowly-changing-dimension type 2: apply a snapshot of dimension
    rows effective at `effective_date`, keeping full history.

    Table layout: partitioned by (`state`, `valid_to`) — 'current' rows
    have valid_to NULL, 'closed' rows land in per-close-date partitions.
    Applying a batch:

    - new key            -> insert current row (valid_from = effective)
    - tracked attr diff  -> close the old row (valid_to = effective) and
                            insert the new current version
    - unchanged          -> untouched (original valid_from retained)

    The whole application is ONE dynamic-partition-overwrite write
    touching exactly two partitions: (current, NULL) and (closed,
    effective_date). Prior close-dates are never rewritten, so write
    I/O is bounded by dimension size — never history size — and
    re-running the same batch replaces those two partitions with
    identical contents: idempotent, including after a crashed attempt
    (no append-twice duplication and no half-applied state a retry
    can't heal). Attribute comparison is a null-safe md5 over the
    tracked columns, computed engine-side (no row-at-a-time diffing).
    Returns the new current snapshot.
    """
    data_cols = [c for c in updates.columns]
    fp = F.md5(
        F.concat_ws(
            "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in tracked]
        )
    )
    incoming = updates.select(
        *data_cols,
        F.lit(effective_date).cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        fp.alias("_fp"),
    )
    if path_exists(spark, path):
        current = (
            spark.read.parquet(path)
            .filter(F.col("state") == "current")
            .drop("state")
            .withColumn("_fp", fp)
        )
    else:
        current = incoming.limit(0)

    cur = current.alias("cur")
    inc = incoming.alias("inc")
    on = [F.col(f"cur.{k}").eqNullSafe(F.col(f"inc.{k}")) for k in key]
    joined = cur.join(inc, on, "full_outer").persist()
    try:
        changed = joined.filter(
            F.col("cur._fp").isNotNull()
            & F.col("inc._fp").isNotNull()
            & (F.col("cur._fp") != F.col("inc._fp"))
        )
        to_close = changed.select("cur.*").withColumn(
            "valid_to", F.lit(effective_date).cast("date")
        )
        new_current = (
            # incoming version wins where present (new or changed or
            # unchanged-identical); keys absent from the batch keep
            # their existing current row (a snapshot may be partial)
            joined.select(
                *[
                    F.coalesce(F.col(f"inc.{c}"), F.col(f"cur.{c}")).alias(c)
                    for c in data_cols
                ],
                # unchanged rows keep their ORIGINAL valid_from
                F.when(
                    F.col("inc._fp").isNotNull()
                    & F.col("cur._fp").isNotNull()
                    & (F.col("inc._fp") == F.col("cur._fp")),
                    F.col("cur.valid_from"),
                )
                .otherwise(
                    F.coalesce(F.col("inc.valid_from"), F.col("cur.valid_from"))
                )
                .alias("valid_from"),
                F.lit(None).cast("date").alias("valid_to"),
            )
        )
        out = to_close.drop("_fp").withColumn(
            "state", F.lit("closed")
        ).unionByName(new_current.withColumn("state", F.lit("current")))
        out.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("state", "valid_to").parquet(path)
    finally:
        joined.unpersist()
    return spark.read.parquet(path).filter(F.col("state") == "current").drop(
        "state"
    )


def write_csv_dataset(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """Multi-part CSV sink (one file per partition — the scale path,
    unlike write_csv_artifact's single-file review artifact). Header on
    every part so each file is independently consumable; gzip per part
    keeps shuffle-free parallel reads."""
    (
        df.write.mode(mode)
        .option("header", "true")
        .option("compression", "gzip")
        # RFC-4180 quoting (doubled quotes, not backslash-escaped) so any
        # standards-compliant reader — and read_csv_dataset — reassembles
        # embedded quotes/newlines losslessly.
        .option("escape", '"')
        # writer defaults trim cell-edge whitespace; keep values lossless
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path)
    )


def read_csv_dataset(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """CSV dataset source. Pass an explicit schema at scale — CSV
    inference scans the data twice (the reference makes the same
    choice: explicit schema in load_csv_to_bq.py:95-108); falls back
    to inference for ad-hoc reads.

    multiLine + escape='"' reassemble quoted text fields containing
    embedded newlines (Spark quotes them on write but splits them into
    spurious rows on read without multiLine). Trade-off: multiLine files
    are parsed whole-file-per-task rather than split by byte range, so
    at 100 TB prefer many medium part files (write_csv_dataset already
    emits one per partition) — or parquet, the default interchange."""
    reader = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)
