"""Incremental view maintenance for JOIN views.

`analytics.incremental_rollup` maintains AGGREGATE views by recomputing
only changed date partitions; this module is the JOIN-view sibling — the
materialized fact⋈dim views a warehouse serves dashboards from, kept
fresh without full recompute:

- fact APPEND: the delta joins the dim and appends — O(delta), the view
  body is never touched;
- dim UPDATE / DELETE: affected view rows are exactly those whose join
  key changed — the view is laid out bucket-partitioned on a hash of
  the join key, so the rewrite is a dynamic partition overwrite of only
  the buckets containing changed keys, O(touched buckets), not O(view).

The (key, buckets) layout parameters are persisted beside the view at
build time and validated by every maintenance entry point — a modulus
mismatch would silently leave stale rows in old-modulus partitions.

The bucket hash (xxhash64) only determines physical layout, never
gated values — the correctness contract (gated by the
`incremental_join_view` oracle) is that the maintained view equals a
from-scratch recompute of the fully-updated join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from fb_ads_bigquery_etl_spark import storage
from fb_ads_bigquery_etl_spark.sinks import overwrite_partitions

BUCKET_COL = "_kb"
META_FILE = "_ivm_meta.json"  # leading _ => invisible to parquet readers


def _by_bucket(df: DataFrame) -> DataFrame:
    """ONE task per bucket ahead of a partitionBy(BUCKET_COL) write ->
    one file per bucket dir instead of one per (task, bucket) pair
    (r14, guide §6: every maintenance verb re-lists and re-reads these
    dirs, and the default-parallelism writers were fanning each write
    into up to tasks x buckets small files). The added hash shuffle is
    bucket-count-bounded; at scale `buckets` is sized so a bucket fits
    a task — the same one-file-per-partition discipline (and the same
    documented skew valve) as sinks.merge_upsert."""
    return df.repartition(F.col(BUCKET_COL))


def _rebuild(df: DataFrame, path: str) -> None:
    """Full rebuild of a bucket-partitioned view or store: a STATIC
    overwrite, stated on the writer whatever the session default, so
    no bucket the new contents vacate survives from the old ones."""
    _by_bucket(df).write.partitionBy(BUCKET_COL).mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).parquet(path)


def _with_bucket(df: DataFrame, key: str, buckets: int) -> DataFrame:
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(F.col(key)), F.lit(buckets))
    )


def _write_meta(spark: SparkSession, path: str, key: str, buckets: int) -> None:
    # a _-prefixed FILE: invisible to spark.read.parquet(path)
    import json

    meta = json.dumps({"key": key, "buckets": buckets})
    storage.resolve(spark, path).write_text(f"{path}/{META_FILE}", meta)


def _check_meta(spark: SparkSession, path: str, key: str, buckets: int) -> None:
    """Maintenance under a different modulus than the build silently
    corrupts the view (dynamic overwrite under the new modulus leaves
    stale rows in old-modulus partitions) — validate before touching
    anything. Views built before metadata existed get a best-effort
    pass (no meta file -> no check)."""
    import json

    raw = storage.resolve(spark, path).read_text(f"{path}/{META_FILE}")
    if raw is None:
        return
    meta = json.loads(raw)
    if meta["buckets"] != buckets or meta["key"] != key:
        raise ValueError(
            f"view at {path} was built with key={meta['key']!r} "
            f"buckets={meta['buckets']}; maintenance called with "
            f"key={key!r} buckets={buckets}"
        )


def build_join_view(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    path: str,
    *,
    buckets: int = 16,
) -> None:
    """Materialize fact⋈dim bucket-partitioned on hash(join key).

    The dim side broadcasts (it is the small side by definition of this
    view shape); the bucket column rides along so later dim updates can
    rewrite only affected buckets. (key, buckets) is persisted beside
    the view and validated by every maintenance entry point."""
    view = _with_bucket(fact, key, buckets).join(F.broadcast(dim), key)
    _rebuild(view, path)
    _write_meta(fact.sparkSession, path, key, buckets)


def apply_fact_append(
    spark: SparkSession,
    delta: DataFrame,
    dim: DataFrame,
    key: str,
    path: str,
    *,
    buckets: int = 16,
) -> None:
    """view' = view ∪ (delta ⋈ dim) — O(delta), append-only."""
    _check_meta(spark, path, key, buckets)
    rows = _with_bucket(delta, key, buckets).join(F.broadcast(dim), key)
    _by_bucket(rows).write.partitionBy(BUCKET_COL).mode("append").parquet(path)


def apply_dim_update(
    spark: SparkSession,
    fact: DataFrame,
    dim_updated_rows: DataFrame,
    dim_full: DataFrame,
    key: str,
    path: str,
    *,
    buckets: int = 16,
) -> None:
    """Rewrite ONLY the view buckets containing changed dim keys.

    Handles attribute UPDATES and key DELETES uniformly: `dim_full` is
    the post-change dim (the source of truth the touched buckets are
    rebuilt against — a deleted key's fact rows simply drop out of the
    rebuild's inner join), and `dim_updated_rows` carries the changed
    OR deleted dim rows (their key values locate the buckets to touch;
    for a key CHANGE — delete+insert — include both the old and new
    rows so both buckets are touched). `dim_full` is joined when
    rebuilding because touched buckets also hold rows keyed to
    unchanged dims. The touched-bucket set is metadata-sized (<=
    `buckets` values, collected like partition values in
    sinks.merge_upsert); the rewrite reads only those fact buckets —
    bounded IO however large the view is. A touched bucket whose
    rebuild comes back EMPTY (every fact row in it keyed to a deleted
    dim) is outside dynamic partition overwrite's reach — no rows means
    no overwrite — so its partition directory is dropped explicitly."""
    _check_meta(spark, path, key, buckets)
    touched = [
        r[0]
        for r in _with_bucket(dim_updated_rows, key, buckets)
        .select(BUCKET_COL)
        .distinct()
        .collect()
    ]
    if not touched:
        return
    rebuilt = (
        _with_bucket(fact, key, buckets)
        .filter(F.col(BUCKET_COL).isin(touched))
        .join(F.broadcast(dim_full), key)
    )
    _overwrite_touched(spark, rebuilt, touched, path)


def read_join_view(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).drop(BUCKET_COL)


# --- aggregate views with NON-INVERTIBLE aggregates (MAX) -------------
#
# SUM/COUNT views absorb deletes by subtraction; MAX cannot — deleting
# the row that held a group's max forces a re-aggregation of that
# group's surviving base rows. The scalable shape: materialize the BASE
# fact bucket-partitioned on the SAME hash(key) layout as the view, so
# a delete recomputes only the buckets holding deleted keys — reading
# only those STORE buckets, overwriting only those VIEW buckets.
# O(touched buckets) however large the table, the same bounded-IO
# contract as apply_dim_update above.


def build_max_view(
    fact: DataFrame,
    key: str,
    val_col: str,
    rid_col: str,
    view_path: str,
    store_path: str,
    *,
    buckets: int = 16,
) -> None:
    """Materialize (key, max_<val>, n_rows) plus its bucket-aligned
    base store. `rid_col` is the row identity deletes are matched on
    (anti-join key)."""
    fb = _with_bucket(
        fact.select(rid_col, key, val_col), key, buckets
    )
    _rebuild(fb, store_path)
    spark = fact.sparkSession
    _write_meta(spark, store_path, key, buckets)
    view = fb.groupBy(BUCKET_COL, key).agg(
        F.max(val_col).alias(f"max_{val_col}"),
        F.count("*").alias("n_rows"),
    )
    _rebuild(view, view_path)
    _write_meta(spark, view_path, key, buckets)


def _overwrite_touched(
    spark: SparkSession, df: DataFrame, touched: list, path: str
) -> None:
    """Dynamic-partition-overwrite `df`'s buckets into `path`, dropping
    touched partition dirs whose rebuild came back empty (dynamic
    overwrite's no-rows-no-overwrite blind spot — see apply_dim_update).
    The localCheckpoint cuts lineage: `df` may read the partitions this
    overwrites."""
    out = df.localCheckpoint(eager=True)
    nonempty = {r[0] for r in out.select(BUCKET_COL).distinct().collect()}
    overwrite_partitions(_by_bucket(out), path, partition_col=BUCKET_COL)
    st = storage.resolve(spark, path)
    for b in touched:
        if b not in nonempty:
            st.delete(f"{path}/{BUCKET_COL}={b}")


def apply_max_view_append(
    spark: SparkSession,
    delta: DataFrame,
    key: str,
    val_col: str,
    rid_col: str,
    view_path: str,
    store_path: str,
    *,
    buckets: int = 16,
) -> None:
    """Append: delta lands in the store (append-only write), and the
    view merges greatest(old_max, delta_max) / n_rows sums for ONLY the
    view buckets the delta touches — MAX is merge-able on append, so no
    base re-read happens on this path."""
    _check_meta(spark, store_path, key, buckets)
    _check_meta(spark, view_path, key, buckets)
    db = _with_bucket(delta.select(rid_col, key, val_col), key, buckets)
    _by_bucket(db).write.partitionBy(BUCKET_COL).mode("append").parquet(store_path)
    touched = [
        r[0] for r in db.select(BUCKET_COL).distinct().collect()
    ]
    if not touched:
        return
    mx = f"max_{val_col}"
    old = spark.read.parquet(view_path).filter(
        F.col(BUCKET_COL).isin(touched)
    )
    dagg = db.groupBy(BUCKET_COL, key).agg(
        F.max(val_col).alias(mx), F.count("*").alias("n_rows")
    )
    merged = (
        old.unionByName(dagg)
        .groupBy(BUCKET_COL, key)
        .agg(F.max(mx).alias(mx), F.sum("n_rows").alias("n_rows"))
    )
    _overwrite_touched(spark, merged, touched, view_path)


def apply_max_view_delete(
    spark: SparkSession,
    deletes: DataFrame,
    key: str,
    val_col: str,
    rid_col: str,
    view_path: str,
    store_path: str,
    *,
    buckets: int = 16,
) -> None:
    """Delete: the non-invertible path. `deletes` carries (rid, key) —
    CDC delete events carry the full row, so the key is free — and
    deletes are addressed by the PAIR, not rid alone: every deleted
    row's key appears in `deletes`, so key-derived bucket scoping is
    provably sufficient (an rid that happens to repeat under a key
    absent from `deletes` is untouched, matching the pair semantics).
    Touched buckets = hash(deleted keys); ONLY those store buckets are
    read, anti-joined on (rid, key), rewritten; ONLY those view buckets
    re-aggregate from the rewritten store. A group whose rows are all
    deleted disappears from the view (and an emptied bucket's partition
    dir is dropped explicitly)."""
    _check_meta(spark, store_path, key, buckets)
    _check_meta(spark, view_path, key, buckets)
    touched = [
        r[0]
        for r in _with_bucket(deletes, key, buckets)
        .select(BUCKET_COL)
        .distinct()
        .collect()
    ]
    if not touched:
        return
    surviving = (
        spark.read.parquet(store_path)
        .filter(F.col(BUCKET_COL).isin(touched))
        .join(
            F.broadcast(deletes.select(rid_col, key).distinct()),
            [rid_col, key],
            "left_anti",
        )
    )
    _overwrite_touched(spark, surviving, touched, store_path)
    rebuilt = (
        spark.read.parquet(store_path)
        .filter(F.col(BUCKET_COL).isin(touched))
        .groupBy(BUCKET_COL, key)
        .agg(
            F.max(val_col).alias(f"max_{val_col}"),
            F.count("*").alias("n_rows"),
        )
    )
    _overwrite_touched(spark, rebuilt, touched, view_path)


def read_max_view(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).drop(BUCKET_COL)


def build_distinct_view(
    fact: DataFrame,
    key: str,
    val_col: str,
    rid_col: str,
    view_path: str,
    store_path: str,
    *,
    buckets: int = 16,
) -> None:
    """Materialize (key, n_distinct_<val>, n_rows) plus its
    bucket-aligned base store — the OTHER canonical non-invertible
    aggregate (COUNT(DISTINCT) absorbs neither appends nor deletes
    from the aggregate alone: an arriving value may already be
    present, a deleted one may survive in another row). Maintenance
    therefore re-distincts from the store — but ONLY the buckets a
    change touches, which bucket-aligning the store with the view
    makes O(touched), never O(view)."""
    fb = _with_bucket(fact.select(rid_col, key, val_col), key, buckets)
    _rebuild(fb, store_path)
    spark = fact.sparkSession
    _write_meta(spark, store_path, key, buckets)
    view = fb.groupBy(BUCKET_COL, key).agg(
        F.countDistinct(val_col).alias(f"n_distinct_{val_col}"),
        F.count("*").alias("n_rows"),
    )
    _rebuild(view, view_path)
    _write_meta(spark, view_path, key, buckets)


def _redistinct_touched(
    spark: SparkSession,
    key: str,
    val_col: str,
    touched: list,
    view_path: str,
    store_path: str,
) -> None:
    rebuilt = (
        spark.read.parquet(store_path)
        .filter(F.col(BUCKET_COL).isin(touched))
        .groupBy(BUCKET_COL, key)
        .agg(
            F.countDistinct(val_col).alias(f"n_distinct_{val_col}"),
            F.count("*").alias("n_rows"),
        )
    )
    _overwrite_touched(spark, rebuilt, touched, view_path)


def apply_distinct_view_append(
    spark: SparkSession,
    delta: DataFrame,
    key: str,
    val_col: str,
    rid_col: str,
    view_path: str,
    store_path: str,
    *,
    buckets: int = 16,
) -> None:
    """Append: delta lands in the store (append-only write); touched
    view buckets re-distinct from the store (an arriving value may
    already exist under its key, so no aggregate-only merge is
    possible). IO = O(delta) write + O(touched buckets) read."""
    _check_meta(spark, store_path, key, buckets)
    _check_meta(spark, view_path, key, buckets)
    db = _with_bucket(delta.select(rid_col, key, val_col), key, buckets)
    _by_bucket(db).write.partitionBy(BUCKET_COL).mode("append").parquet(store_path)
    touched = [r[0] for r in db.select(BUCKET_COL).distinct().collect()]
    if not touched:
        return
    _redistinct_touched(spark, key, val_col, touched, view_path, store_path)


def apply_distinct_view_delete(
    spark: SparkSession,
    deletes: DataFrame,
    key: str,
    val_col: str,
    rid_col: str,
    view_path: str,
    store_path: str,
    *,
    buckets: int = 16,
) -> None:
    """Delete: (rid, key) pair-addressed exactly like
    apply_max_view_delete (every deleted row's key is in `deletes`, so
    key-derived bucket scoping is provably complete); touched store
    buckets rewrite via the pair anti-join, touched view buckets
    re-distinct from the surviving rows. A fully-deleted group
    disappears (emptied bucket dirs are dropped)."""
    _check_meta(spark, store_path, key, buckets)
    _check_meta(spark, view_path, key, buckets)
    touched = [
        r[0]
        for r in _with_bucket(deletes, key, buckets)
        .select(BUCKET_COL)
        .distinct()
        .collect()
    ]
    if not touched:
        return
    surviving = (
        spark.read.parquet(store_path)
        .filter(F.col(BUCKET_COL).isin(touched))
        .join(
            F.broadcast(deletes.select(rid_col, key).distinct()),
            [rid_col, key],
            "left_anti",
        )
    )
    _overwrite_touched(spark, surviving, touched, store_path)
    _redistinct_touched(spark, key, val_col, touched, view_path, store_path)


def read_distinct_view(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).drop(BUCKET_COL)
