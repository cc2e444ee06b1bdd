"""SparkSession factory with scale-appropriate defaults.

Local testing runs on local[N]; the same config block is what we would
ship on a 1000-executor cluster (AQE on, skew-join handling on,
partition coalescing on) — only sizes change. No operator changes
session conf around an action: AQE's coalescing already runs a shuffle
under `coalescePartitions.minPartitionSize` (nlist-, vocab- or
k-sized partials) in one task.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from fb_ads_bigquery_etl_spark import storage


def local_df(spark: SparkSession, rows, schema):
    """createDataFrame for METADATA-SIZED driver-side rows (LUTs,
    query vectors, centroid/codebook/manifest sidecars, per-iteration
    weight tables): tuples or dicts under a DDL string or StructType.

    Built as an Arrow local relation: the rows go into a pyarrow Table
    on the driver and sit in the plan as a `LocalTableScan`. The
    RDD-based form (`parallelize` + `createDataFrame(rdd, schema)`)
    maps every row through a Python worker on EVERY scan, so each
    broadcast build or join of it is a Python job: a warm one over 64
    rows in 4 slices takes ~0.16 s on a 4-core box under `pydaemon`
    (~0.33 s under pyspark's own daemon); a local relation's scan runs
    in the JVM alone (15-25 ms in a warm IVF-PQ batch probe there).
    Values convert exactly as the row path converts them
    (`storage.arrow_table`).

    A local relation spreads its rows over min(n, default parallelism)
    slices, so a writer that must leave ONE file coalesces first
    (`storage.Hadoop.write_rows_atomic`)."""
    return spark.createDataFrame(
        storage.arrow_table(rows, schema), storage.spark_schema(schema)
    )


def get_spark(
    app_name: str = "fb-ads-etl-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    AQE is the core scale lever: runtime partition coalescing keeps
    small-SF tests fast while skew-join splitting protects the 100 TB
    case (skewed campaign/ad dedup keys, SURVEY.md §4).

    Deployment sizing comes from the environment (`SPARK_GRAFT_CPUS`,
    default 32, sets the master and the default shuffle partitions;
    `SPARK_GRAFT_DRIVER_MEM`, default 8g); any other setting is
    overridden through `extra_conf`.

    Python workers start under `pydaemon`, a wrapper of pyspark's
    daemon that stops each task's `importlib.invalidate_caches()` from
    re-reading the directories of `pyspark.zip` and the spark-core jar
    (0.1-0.3 s of fixed cost per Python-worker task on Python 3.11);
    an archive is re-read only when it changed. Executors start it
    with `python -m`, so the package must be importable wherever
    workers run, as it already must be for the UDF helpers and source
    classes pickled by reference.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # Commit algorithm v1 (the Spark default) — r14 reverts the
        # r13 v2 default: v2 renames task output straight into the
        # final dir at task commit, so a mid-job failure leaves partial
        # task files VISIBLE, and two writers rely on job-level
        # atomicity with no staging protocol of their own —
        # append_ivfpq_index appends into the live bucket dirs and
        # delete_from_ivfpq_index appends tombstones (a partial
        # tombstone batch silently hides live rows from every probe;
        # an orphan append file is adopted by the manifest's fallback
        # scan, so a retry duplicates rows). v2 was also never measured
        # to win (r14 A/B: see OPTIMIZATION_r14.md).
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "1")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "fb_ads_bigquery_etl_spark.pydaemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
