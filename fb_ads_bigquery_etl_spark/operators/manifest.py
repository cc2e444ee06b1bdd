"""File-manifest scan pruning (the Iceberg/Delta-manifest pattern).

Parquet footers already carry min/max per file, but the planner must
OPEN every footer to use them — at 100 TB (millions of files) footer
listing is itself the bottleneck. Table formats fix this with a
MANIFEST: a tiny table of per-file stats consulted at plan time, so a
selective query opens only the files whose [min, max] envelope
intersects its predicate. This module is that pattern over plain
parquet: build the manifest with one scan, prune reads with a
metadata-sized lookup.

Pruning is conservative (envelope overlap is a superset of true
matches) and the exact filter still applies after the read, so results
are identical to a full scan by construction — which is exactly what
the `manifest_pruned_scan` oracle gate proves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from fb_ads_bigquery_etl_spark import storage


def _stat_aggs(stat_cols: tuple[str, ...]):
    aggs = [F.count("*").alias("n_rows")]
    for c in stat_cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return aggs


def build_file_manifest(
    spark: SparkSession, path: str, stat_cols: tuple[str, ...]
) -> DataFrame:
    """Per-file stats table: (file, n_rows, min_<c>, max_<c> ...).

    One scan grouped by input_file_name — output is file-count rows
    (metadata-sized). On append, refresh with `update_file_manifest`,
    which scans ONLY the new files and unions."""
    df = spark.read.parquet(path)
    return df.groupBy(F.input_file_name().alias("file")).agg(
        *_stat_aggs(stat_cols)
    )


def _list_data_files(spark: SparkSession, path: str) -> list[str]:
    """The dataset's data files through `storage` — a metadata
    listing, never a data read."""
    return [f for f, _, _, _ in storage.resolve(spark, path).list_files(path)]


def update_file_manifest(
    spark: SparkSession,
    path: str,
    manifest: DataFrame,
    stat_cols: tuple[str, ...],
) -> DataFrame:
    """Incremental manifest refresh after an append: list the dataset
    directory (metadata-only), scan ONLY files absent from `manifest`,
    and union their stats in. Cost is O(appended data), independent of
    table size — the property that keeps the manifest pattern viable at
    100 TB, where a full rebuild would itself be a full-table scan.

    File identity is the path basename (part-XXXXX-<uuid> names are
    globally unique), which makes the match robust to URI-scheme
    differences between input_file_name() ('file:///...') and the
    FileSystem listing ('file:/...')."""
    live, new = _live_and_new(spark, path, manifest)
    if not new:
        return live
    fresh = (
        spark.read.parquet(*new)
        .groupBy(F.input_file_name().alias("file"))
        .agg(*_stat_aggs(stat_cols))
    )
    return live.unionByName(fresh)


def _live_and_new(
    spark: SparkSession, path: str, manifest: DataFrame
) -> tuple[DataFrame, list[str]]:
    """(manifest rows whose file still exists, listed files absent from
    the manifest). Dropping rows for deleted files matters as much as
    adding rows for new ones: a stale row would send a later pruned
    read to a missing path (spark.read.parquet(*files) fails on the
    first absent file). One directory listing serves both sides."""
    known = {
        r["file"].rsplit("/", 1)[-1]
        for r in manifest.select("file").collect()
    }
    listed = _list_data_files(spark, path)
    names = [f.rsplit("/", 1)[-1] for f in listed]
    live = manifest.filter(
        F.substring_index(F.col("file"), "/", -1).isin(names)
        if names
        else F.lit(False)
    )
    return live, [f for f in listed if f.rsplit("/", 1)[-1] not in known]


def pruned_files(
    manifest: DataFrame, col: str, lo, hi
) -> list[str]:
    """Files whose [min_col, max_col] envelope intersects [lo, hi].

    The manifest is metadata-sized; collecting the matching paths is a
    plan-time lookup, not a data read."""
    return [
        r["file"]
        for r in manifest.filter(
            (F.col(f"max_{col}") >= lo) & (F.col(f"min_{col}") <= hi)
        )
        .select("file")
        .collect()
    ]


def manifest_pruned_read(
    spark: SparkSession,
    manifest: DataFrame,
    col: str,
    lo,
    hi,
    *,
    path: str | None = None,
) -> DataFrame:
    """Read ONLY the manifest-selected files and re-apply the exact
    predicate (pruning is conservative).

    When no file's [min, max] envelope intersects [lo, hi]: with `path`
    given, return an empty frame with the dataset's schema (schema-only
    read — the lit(False) filter is pushed to the scan, so no data
    files are opened); without `path`, raise ValueError (the schema is
    unknowable from an empty file list)."""
    files = pruned_files(manifest, col, lo, hi)
    if not files:
        if path is None:
            raise ValueError(
                "manifest pruning selected zero files and no dataset "
                "path was provided to recover the schema; pass path="
            )
        return spark.read.parquet(path).filter(F.lit(False))
    df = spark.read.parquet(*files)
    return df.filter(F.col(col).between(lo, hi))


# --- Unified manifest: min/max envelopes AND a per-file Bloom bitmap
# in ONE stats row per file (the shape real table formats keep — one
# metadata table answering both range and point predicates, instead of
# a caller hand-composing the min/max manifest with a separate Bloom
# index). ---


def _bloom_words_per_file(
    df: DataFrame, key_col: str, *, bits: int, k: int
) -> DataFrame:
    """(file, bloom array<long>[bits/64]) — each key explodes to its k
    probe positions, ONE map-side-combined bit_or per (file, word),
    then the file-count-sized word rows fold into a dense array (absent
    words are all-zero). Metadata-sized output; the scan reads only
    `key_col` (column-pruned)."""
    from fb_ads_bigquery_etl_spark.operators.sketch import _bucket

    words = bits // 64
    key = F.col(key_col).cast("string")
    per_word = (
        df.select(
            F.input_file_name().alias("file"),
            F.explode(
                F.array(*[_bucket(key, 1000 + i, bits) for i in range(k)])
            ).alias("_pos"),
        )
        .select(
            "file",
            (F.col("_pos") / 64).cast("long").alias("word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))"
            ).alias("_mask"),
        )
        .groupBy("file", "word_idx")
        .agg(F.bit_or("_mask").alias("word"))
    )
    wmap = F.map_from_entries(
        F.collect_list(F.struct("word_idx", "word"))
    )
    return per_word.groupBy("file").agg(
        F.transform(
            F.sequence(F.lit(0), F.lit(words - 1)),
            lambda w: F.coalesce(
                F.element_at(wmap, w.cast("long")), F.lit(0).cast("long")
            ),
        ).alias("bloom")
    )


def _unified_stats(
    df: DataFrame,
    stat_cols: tuple[str, ...],
    bloom_col: str,
    *,
    bits: int,
    k: int,
) -> DataFrame:
    mm = df.groupBy(F.input_file_name().alias("file")).agg(
        *_stat_aggs(stat_cols)
    )
    bl = _bloom_words_per_file(df, bloom_col, bits=bits, k=k)
    # two column-pruned passes over the same files, joined file-keyed —
    # both sides are metadata-sized (file-count rows)
    return mm.join(bl, "file")


def build_unified_manifest(
    spark: SparkSession,
    path: str,
    stat_cols: tuple[str, ...],
    bloom_col: str,
    *,
    bits: int = 8192,
    k: int = 3,
) -> DataFrame:
    """One stats row per file: (file, n_rows, min_<c>/max_<c> per stat
    col, bloom array<long> over `bloom_col`). Range predicates prune on
    the envelopes, point predicates on the bitmap — from the SAME
    metadata table. Build cost: two narrow column-pruned scans."""
    return _unified_stats(
        spark.read.parquet(path), stat_cols, bloom_col, bits=bits, k=k
    )


def update_unified_manifest(
    spark: SparkSession,
    path: str,
    manifest: DataFrame,
    stat_cols: tuple[str, ...],
    bloom_col: str,
    *,
    bits: int = 8192,
    k: int = 3,
) -> DataFrame:
    """O(append) refresh: list the directory (one metadata RPC), stat
    ONLY files absent from `manifest` — both the envelope and bloom
    passes touch just the new files — and union. Same basename-keyed
    identity as `update_file_manifest`; rows for since-deleted files
    drop out (see `_live_and_new`)."""
    live, new = _live_and_new(spark, path, manifest)
    if not new:
        return live
    fresh = _unified_stats(
        spark.read.parquet(*new), stat_cols, bloom_col, bits=bits, k=k
    )
    return live.unionByName(fresh)


def unified_point_files(
    manifest: DataFrame, key, *, bits: int = 8192, k: int = 3
) -> list[str]:
    """Files whose Bloom bitmap passes all k probes for `key` — a
    plan-time lookup collecting (file, k words) from the metadata-sized
    manifest. Conservative: a file holding the key always passes."""
    from fb_ads_bigquery_etl_spark.operators.sketch import _py_bucket

    positions = [_py_bucket(str(key), 1000 + i, bits) for i in range(k)]
    rows = manifest.select(
        "file",
        *[
            F.element_at(F.col("bloom"), p // 64 + 1).alias(f"_w{i}")
            for i, p in enumerate(positions)
        ],
    ).collect()
    return sorted(
        r["file"]
        for r in rows
        if all(
            ((r[f"_w{i}"] or 0) >> (p % 64)) & 1 == 1
            for i, p in enumerate(positions)
        )
    )


def unified_point_read(
    spark: SparkSession,
    manifest: DataFrame,
    col: str,
    key,
    *,
    path: str | None = None,
    bits: int = 8192,
    k: int = 3,
) -> DataFrame:
    """Point lookup reading ONLY bloom-passing files, exact predicate
    re-applied. Zero-files semantics match manifest_pruned_read."""
    files = unified_point_files(manifest, key, bits=bits, k=k)
    if not files:
        if path is None:
            raise ValueError(
                "bloom pruning selected zero files and no dataset "
                "path was provided to recover the schema; pass path="
            )
        return spark.read.parquet(path).filter(F.lit(False))
    return spark.read.parquet(*files).filter(F.col(col) == key)


def read_snapshot(spark: SparkSession, manifest: DataFrame) -> DataFrame:
    """Snapshot-isolated read: scan EXACTLY the files a retained
    manifest version lists — the Iceberg/Delta time-travel discipline
    over plain parquet. A manifest IS a snapshot: writers append data
    files and publish a refreshed manifest (update_file_manifest /
    update_unified_manifest), readers pin whichever version they
    started with, so concurrent appends never change a running query's
    input set and historical versions stay queryable as long as their
    manifests (and files) are retained. The file-list collect is
    metadata-sized; at 100 TB this is the entire point — the directory
    listing is no longer the source of truth, the manifest is."""
    files = [r["file"] for r in manifest.select("file").collect()]
    if not files:
        raise ValueError("snapshot manifest lists no files")
    return spark.read.parquet(*files)


# --- Snapshot lifecycle: diff / incremental scan / compaction /
# expiration. A manifest IS a snapshot (read_snapshot); these four
# complete the Iceberg-style lifecycle over plain parquet: consumers
# process only the delta between two versions, compaction rewrites
# small files without changing content, and expiration reclaims the
# files no retained snapshot references — with newer snapshots
# provably intact. ---


def snapshot_diff(
    old: DataFrame, new: DataFrame
) -> tuple[list[str], list[str]]:
    """(added, removed): file paths present in `new` but not `old`, and
    vice versa — basename-keyed like update_file_manifest (part file
    names are globally unique; robust to URI-scheme differences). Two
    metadata-sized collects."""
    old_files = {r["file"] for r in old.select("file").collect()}
    new_files = {r["file"] for r in new.select("file").collect()}
    old_names = {f.rsplit("/", 1)[-1] for f in old_files}
    new_names = {f.rsplit("/", 1)[-1] for f in new_files}
    added = sorted(
        f for f in new_files if f.rsplit("/", 1)[-1] not in old_names
    )
    removed = sorted(
        f for f in old_files if f.rsplit("/", 1)[-1] not in new_names
    )
    return added, removed


def incremental_scan(
    spark: SparkSession,
    old: DataFrame,
    new: DataFrame,
    *,
    path: str | None = None,
) -> DataFrame:
    """Rows in files ADDED between snapshot `old` and snapshot `new` —
    the Iceberg incremental-read discipline: a downstream consumer that
    processed v1 catches up to v2 by scanning ONLY the delta files,
    never re-reading the table. Cost is O(appended data) regardless of
    table size; the file-list diff is metadata-sized. Works for
    append-only histories AND post-compaction ones (a compacted file is
    'added', its content having already been consumed via the originals
    — consumers downstream of a compaction boundary should diff across
    it with content keys, the same caveat Iceberg documents).

    Zero added files: with `path`, an empty frame with the dataset's
    schema (nothing is scanned — the lit(False) filter pushes to the
    scan); without, ValueError (schema unknowable from no files)."""
    added, _ = snapshot_diff(old, new)
    if not added:
        if path is None:
            raise ValueError(
                "incremental scan found zero added files and no dataset "
                "path was provided to recover the schema; pass path="
            )
        return spark.read.parquet(path).filter(F.lit(False))
    return spark.read.parquet(*added)


def compact_files(
    spark: SparkSession,
    path: str,
    manifest: DataFrame,
    files: list[str],
    stat_cols: tuple[str, ...],
) -> DataFrame:
    """Rewrite `files` into fewer data files (one writer partition) and
    return the refreshed manifest: prior rows minus the compacted
    files plus the replacement's stats — CONTENT-IDENTICAL by
    construction (the replacement is a plain re-write of the same
    rows), so any snapshot read through the new manifest equals one
    through the old. The original small files stay on disk until no
    retained snapshot lists them (expire_snapshot) — time travel keeps
    working through older manifests. Scan cost is O(compacted bytes).
    """
    if not files:
        return manifest
    names = {f.rsplit("/", 1)[-1] for f in files}
    before = set(_list_data_files(spark, path))
    spark.read.parquet(*files).coalesce(1).write.mode("append").parquet(
        path
    )
    new_files = [f for f in _list_data_files(spark, path) if f not in before]
    fresh = (
        spark.read.parquet(*new_files)
        .groupBy(F.input_file_name().alias("file"))
        .agg(*_stat_aggs(stat_cols))
    )
    kept = manifest.filter(
        ~F.substring_index(F.col("file"), "/", -1).isin(list(names))
    )
    return kept.unionByName(fresh)


def expire_snapshot(
    spark: SparkSession,
    expired: DataFrame,
    retained: list[DataFrame],
) -> list[str]:
    """Delete the data files EXCLUSIVE to an expired snapshot — listed
    by `expired`, referenced by NO retained manifest — and return the
    deleted paths. Every retained snapshot still reads intact
    (pytest-pinned): a file shared with any retained version survives,
    so expiring v1 after an append deletes nothing, while expiring the
    pre-compaction version reclaims the small files the compaction
    replaced. All collects are metadata-sized; deletion goes through
    `storage` (works on any supported store)."""
    keep = {
        r["file"].rsplit("/", 1)[-1]
        for m in retained
        for r in m.select("file").collect()
    }
    doomed = sorted(
        r["file"]
        for r in expired.select("file").collect()
        if r["file"].rsplit("/", 1)[-1] not in keep
    )
    for f in doomed:
        storage.resolve(spark, f).delete(f)
    return doomed
