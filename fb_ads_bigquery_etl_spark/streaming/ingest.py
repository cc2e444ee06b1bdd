"""Continuous ingest: landing-zone stream -> idempotent MERGE.

The reference ingests by scheduled batch re-runs (EP1 daily + EP2
backfill) and repairs late/duplicate data with re-run + dedup. The
streaming replacement: producers drop flattened parquet into a landing
directory; a file-source stream discovers new files exactly-once
(checkpointed), dedups within each micro-batch, and MERGEs on the
canonical key — so replayed files, overlapping backfills, and restarts
all converge to the same table state.

Scale: each micro-batch shuffles only its own rows; the MERGE rewrites
only the partitions present in the batch (sinks.merge_upsert). State on
the stream side is just the file log — no row-level state store.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from fb_ads_bigquery_etl_spark import storage
from fb_ads_bigquery_etl_spark.operators.dedup import dedup_any
from fb_ads_bigquery_etl_spark.schema import DEDUP_KEY
from fb_ads_bigquery_etl_spark.sinks import merge_upsert


def stream_merge_ingest(
    spark: SparkSession,
    landing_path: str,
    table_path: str,
    *,
    checkpoint_path: str,
    key: tuple[str, ...] = DEDUP_KEY,
    max_files_per_trigger: int | None = None,
) -> int:
    """Drain the landing zone (Trigger.AvailableNow) into the table via
    per-batch dedup + key-MERGE. Returns micro-batches processed.

    Restart-safe: the checkpoint's file log skips already-ingested
    files, and the MERGE makes re-delivery harmless anyway
    (exactly-once effect from at-least-once delivery + idempotent sink).
    """
    schema = spark.read.parquet(landing_path).schema  # driver-side peek
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(landing_path)

    batches = {"n": 0}

    def _sink(batch_df, batch_id: int) -> None:
        batches["n"] += 1
        merge_upsert(spark, dedup_any(batch_df, key), table_path, key)

    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return batches["n"]


def stream_ivf_ingest(
    spark: SparkSession,
    landing_path: str,
    index_path: str,
    *,
    checkpoint_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_files_per_trigger: int | None = None,
) -> int:
    """Drain a landing zone of NEW VECTORS into a persisted IVF index
    (Trigger.AvailableNow): each micro-batch assigns against the
    index's FROZEN centroid table and lands in its bucket partitions —
    similarity.append_ivf_index's O(batch) maintenance discipline,
    driven by a stream. Returns micro-batches processed.

    Exactly-once, without MERGE: a parquet APPEND is not idempotent,
    so each batch publishes through a stage-and-rename protocol —
    (1) a batch whose commit marker exists is skipped outright
    (post-commit replays); (2) the assigned batch writes to a staging
    dir in overwrite mode (retry-safe); (3) any previous partial
    publish of THIS batch id is removed from EVERY bucket dir (files
    carry a b<id>- prefix, so a batch can always find and clean its
    own leftovers — sweeping all buckets, not just staged ones, keeps
    a fresh-checkpoint re-drain correct even when new landing files
    shifted batch ids and rerouted this id's rows); (4) each
    staged file renames atomically into its bucket dir under a
    deterministic b<id>-<bucket>-<seq> name; (5) the marker commits
    last. A crash anywhere replays into steps that are all idempotent,
    so the drained index is file-for-file the index every successful
    history produces. (A file rename is atomic on a local FS and HDFS;
    an object store needs its committer here, same caveat as every
    rename-based Spark sink.) The ledger is keyed by the CHECKPOINT'S
    batch ids — discard them together (a fresh checkpoint restarts at
    batch 0; since names are deterministic a full re-drain then simply
    overwrites itself, pytest-pinned).

    The composition this enables at 100 TB: vectors land continuously,
    the index stays probe-ready, and NOTHING existing is rewritten —
    appends touch only the buckets the batch routes to; centroids
    retrain offline (train_centroids_exact) on their own cadence.
    """
    from fb_ads_bigquery_etl_spark.operators.pq import _centroid_df
    from fb_ads_bigquery_etl_spark.operators.similarity import (
        assign_ivf_buckets,
    )

    centroids = _centroid_df(spark, index_path)

    def _transform(batch_df):
        _, assigned = assign_ivf_buckets(
            batch_df, vec_col=vec_col, id_col=id_col, centroids=centroids
        )
        return assigned

    return _drain_bucket_stream(
        spark,
        landing_path,
        index_path,
        checkpoint_path=checkpoint_path,
        transform=_transform,
        max_files_per_trigger=max_files_per_trigger,
    )


def stream_ivfpq_ingest(
    spark: SparkSession,
    landing_path: str,
    index_path: str,
    *,
    checkpoint_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_files_per_trigger: int | None = None,
) -> int:
    """`stream_ivf_ingest` for the PERSISTED IVF-PQ index — the index a
    100 TB store actually serves (64x-narrower residual codes): each
    micro-batch assigns against the FROZEN centroid sidecar,
    residual-encodes against the FROZEN codebook sidecar
    (pq.append_ivfpq_index's O(batch) discipline, driven by a stream),
    and publishes its code rows into the bucket partitions through the
    same stage-and-rename exactly-once protocol. Returns micro-batches
    processed. Quantizers retrain offline on their own cadence
    (train_centroids_exact warm-start + codebook retrain + rebuild);
    between retrains the drained index is file-for-file the index every
    successful history produces, and probe-equal to a one-shot rebuild
    over the union with the same frozen sidecars (pytest-pinned; the
    `streaming_ivfpq_ingest` oracle gate replays the full pipeline).

    Two operational contracts with the maintenance verbs: (1) the
    landing zone must not re-add ids currently tombstoned by
    delete_from_ivfpq_index — the sequence-free sidecar would hide the
    new rows; ENFORCED per micro-batch with the same explicit error as
    pq.append_ivfpq_index (compact first); (2) the fresh-checkpoint
    re-drain recovery
    (docstrings below) relies on the published b<id>- file names, so
    it is only valid while no compact_ivfpq_index has folded those
    files into part- files — after a compaction, recover a lost
    checkpoint+ledger by rebuilding or snapshotting the index, not by
    re-draining history."""
    from fb_ads_bigquery_etl_spark.operators.pq import (
        _centroid_df,
        _refuse_tombstoned,
        _residuals,
        encode_ints,
        load_codebooks,
    )

    centroids = _centroid_df(spark, index_path)
    cb = load_codebooks(spark, index_path)

    def _transform(batch_df):
        # the re-add guard append_ivfpq_index runs, per micro-batch
        _refuse_tombstoned(spark, index_path, batch_df, id_col)
        _, resid = _residuals(
            batch_df, centroids, vec_col=vec_col, id_col=id_col
        )
        return encode_ints(
            resid, cb, int_col="_r", id_col="id", extra_cols=("bucket",)
        )

    return _drain_bucket_stream(
        spark,
        landing_path,
        index_path,
        checkpoint_path=checkpoint_path,
        transform=_transform,
        max_files_per_trigger=max_files_per_trigger,
    )


def _drain_bucket_stream(
    spark: SparkSession,
    landing_path: str,
    index_path: str,
    *,
    checkpoint_path: str,
    transform,
    max_files_per_trigger: int | None = None,
) -> int:
    """Shared drain loop of the vector-index ingest streams: a file
    stream over the landing zone (Trigger.AvailableNow), `transform`
    mapping each micro-batch to a bucket-partitioned frame (O(batch)
    work against frozen metadata sidecars), and the stage-and-rename
    exactly-once publish per batch. Returns micro-batches processed."""
    schema = spark.read.parquet(landing_path).schema  # driver-side peek
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    stream = reader.parquet(landing_path)

    ledger = f"{index_path}_ingested"
    staging = f"{index_path}_staging"
    st = storage.resolve(spark, index_path)
    batches = {"n": 0}

    def _sink(batch_df, batch_id: int) -> None:
        batches["n"] += 1
        marker = f"{ledger}/batch-{batch_id}"
        if st.exists(marker):  # replay after a successful commit
            return
        pre = _publish_bucket_batch(
            transform(batch_df), index_path, staging, batch_id
        )
        # keep the per-file stats sidecar O(batch)-current from the
        # WRITE-TIME stats the publish computed (no re-read of the
        # just-renamed files); a crash between publish and refresh (or
        # refresh and the marker) self-heals at the next refresh via
        # the diff's scan fallback — consumers also refresh before
        # reading (pq.refresh_ivfpq_manifest)
        from fb_ads_bigquery_etl_spark.operators.pq import (
            refresh_ivfpq_manifest,
        )

        refresh_ivfpq_manifest(spark, index_path, precomputed=pre)
        st.write_text(marker, "committed")

    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return batches["n"]


def _publish_bucket_batch(
    frame, index_path: str, staging: str, batch_id: int
) -> dict[int, tuple[int, int, int]]:
    """Steps 2-4 of the exactly-once protocol (see stream_ivf_ingest):
    stage the bucket-partitioned batch, sweep any previous partial
    publish of this batch id, rename staged files in under
    deterministic b<id>-<bucket-ordinal> names. The caller commits the
    marker last. Returns the batch's per-bucket (n_rows, min_id,
    max_id) — computed from the frame BEFORE the write so the caller's
    manifest refresh never re-reads the published files."""
    from fb_ads_bigquery_etl_spark.operators.pq import _bucket_stats

    stage = f"{staging}/batch={batch_id}"
    frame = frame.persist()  # two actions: stats agg + the stage write
    try:
        pre = _bucket_stats(frame)
        # one file per touched bucket per batch (see
        # pq.append_ivfpq_index); STATIC, so a retry's stage holds no
        # bucket left over from a crashed attempt
        frame.repartition("bucket").write.mode("overwrite").option(
            "partitionOverwriteMode", "static"
        ).partitionBy("bucket").parquet(stage)
    finally:
        frame.unpersist()
    st = storage.resolve(frame.sparkSession, index_path)
    prefix = f"b{batch_id}-"
    # clean any partial publish of THIS batch id across ALL bucket
    # dirs — not just the buckets this attempt stages into. Within
    # one checkpoint lifecycle assignment is deterministic, but a
    # re-drain from a FRESH checkpoint renumbers batches; a prior
    # partial publish may have landed this id's files in buckets
    # the renumbered batch no longer routes to, and sweeping only
    # staged buckets would leave those as duplicate rows.
    for old in st.glob(f"{index_path}/bucket=*/{prefix}*"):
        st.delete(old)
    seq: dict[str, int] = {}
    for full, suffix, _, _ in st.list_files(stage):
        bdir = suffix.split("/", 1)[0]
        if bdir.startswith("bucket=") and suffix.endswith(".parquet"):
            n = seq.get(bdir, 0)
            seq[bdir] = n + 1
            st.rename(full, f"{index_path}/{bdir}/{prefix}{n}.parquet")
    st.delete(stage)
    return pre
