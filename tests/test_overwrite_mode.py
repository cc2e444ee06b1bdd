"""No engine module saves, sets or restores session conf around an
action. Partition-overwrite mode is stated on each writer, never taken
from (or set on) the shared session: full rebuilds pin STATIC,
partition rewrites go through `sinks.overwrite_partitions` (DYNAMIC).
Metadata-sized reduces need no conf either: AQE already runs them in
one task."""

from __future__ import annotations

import os
import pathlib
import re
import time

import pytest
from pyspark.sql import functions as F

from fb_ads_bigquery_etl_spark.operators import ivm, pq, similarity
from fb_ads_bigquery_etl_spark.operators.pq import build_ivfpq_index
from fb_ads_bigquery_etl_spark.session import local_df

MODE = "spark.sql.sources.partitionOverwriteMode"
PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "fb_ads_bigquery_etl_spark"

# ids 0-3 sit near centroid 0 and carry key 0; ids 4-7 sit near
# centroid 1 and carry keys 1-4, so a rebuild over ids 0-3 vacates
# bucket 1 of the vector indexes and every view bucket but key 0's
_ROWS = [
    (i, [1.0, 0.1 * i, 0.05, 0.0] if i < 4 else [0.0, 1.0, 0.1 * i, 0.05],
     0 if i < 4 else i - 3, 10 * i)
    for i in range(8)
]


def _ivf(df, p, cents):
    similarity.build_ivf_index(df, p, centroids=cents)
    return [(p, "bucket")]


def _ivfpq(df, p, cents):
    build_ivfpq_index(df, p, in_dim=4, m=2, ksub=2, centroids=cents)
    return [(p, "bucket")]


def _join_view(df, p, cents):
    dim = local_df(df.sparkSession, [(k, f"d{k}") for k in range(5)], "k long, name string")
    ivm.build_join_view(df, dim, "k", p, buckets=4)
    return [(p, ivm.BUCKET_COL)]


def _max_view(df, p, cents):
    ivm.build_max_view(df, "k", "v", "vec_id", f"{p}/view", f"{p}/store", buckets=4)
    return [(f"{p}/view", ivm.BUCKET_COL), (f"{p}/store", ivm.BUCKET_COL)]


def _distinct_view(df, p, cents):
    ivm.build_distinct_view(df, "k", "v", "vec_id", f"{p}/view", f"{p}/store", buckets=4)
    return [(f"{p}/view", ivm.BUCKET_COL), (f"{p}/store", ivm.BUCKET_COL)]


def _parts(path, col):
    return sorted(d for d in os.listdir(path) if d.startswith(f"{col}="))


@pytest.mark.parametrize(
    "build",
    [_ivf, _ivfpq, _join_view, _max_view, _distinct_view],
    ids=["build_ivf_index", "build_ivfpq_index", "build_join_view",
         "build_max_view", "build_distinct_view"],
)
def test_full_rebuild_leaves_no_stale_partition_under_dynamic_default(
    spark, tmp_path, build
):
    """A full rebuild is a static overwrite even when the session's
    default is dynamic: a partition the new input leaves empty does
    not survive from the previous build."""
    df = local_df(spark, _ROWS, "vec_id long, embedding array<double>, k long, v long")
    cents = local_df(
        spark, [(0, [1.0, 0.0, 0.0, 0.0], 1.0), (1, [0.0, 1.0, 0.0, 0.0], 1.0)],
        "centroid_id long, cvec array<double>, cnorm double",
    )
    small = df.filter(F.col("vec_id") < 4)
    prev = spark.conf.get(MODE)
    spark.conf.set(MODE, "dynamic")
    try:
        p, fresh = str(tmp_path / "rebuilt"), str(tmp_path / "fresh")
        targets = build(df, p, cents)
        before = {path: _parts(path, col) for path, col in targets}
        build(small, p, cents)
        fresh_targets = build(small, fresh, cents)
    finally:
        spark.conf.set(MODE, prev)
    for (path, col), (fpath, _) in zip(targets, fresh_targets):
        expected = _parts(fpath, col)
        assert len(before[path]) > len(expected)  # the rebuild vacates one
        assert _parts(path, col) == expected, path
        assert spark.read.parquet(path).count() == spark.read.parquet(fpath).count()


def test_no_module_reads_or_sets_the_session_overwrite_mode():
    """Plain-text pin: the session conf is never read, set or restored
    around a write; each write states its mode on its own writer."""
    conf_call = re.compile(r"conf\.(get|set|unset)\(\s*[^)]*partitionOverwriteMode")
    offenders = [
        str(f.relative_to(PACKAGE))
        for f in sorted(PACKAGE.rglob("*.py"))
        if MODE in f.read_text() or conf_call.search(f.read_text())
    ]
    assert not offenders, offenders


def test_no_module_flips_aqe_coalescing_around_an_action():
    """Plain-text pin: no engine module scopes AQE partition coalescing
    by flipping `parallelismFirst` on the shared session."""
    banned = ("parallelismFirst", "coalesce_by_bytes", "coalesce_metadata_stages")
    offenders = [
        str(f.relative_to(PACKAGE))
        for f in sorted(PACKAGE.rglob("*.py"))
        if any(b in f.read_text() for b in banned)
    ]
    assert not offenders, offenders


def _completed_tasks_per_stage(sc, group):
    """{stage_id: completed tasks} of the stages that ran under `group`,
    once every job in it has finished (the status tracker trails the
    action by a listener-bus hop)."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while True:
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        if jobs and all(j is not None and j.status == "SUCCEEDED" for j in jobs):
            stages = [tracker.getStageInfo(s) for j in jobs for s in j.stageIds]
            if all(s is not None for s in stages):
                return {s.stageId: s.numCompletedTasks for s in stages
                        if s.numCompletedTasks}
        assert time.monotonic() < deadline, "jobs did not finish in the tracker"
        time.sleep(0.05)


def test_aqe_runs_a_metadata_sized_reduce_in_one_task(spark):
    """The premise that lets no operator set coalescing conf: on the
    session defaults, AQE folds a shuffle smaller than
    `coalescePartitions.minPartitionSize` (1 MB) into ONE reduce task,
    even when its map side ran as several tasks. Checked on a
    per-bucket reduce of a few hundred code rows."""
    sc = spark.sparkContext
    codes = spark.range(0, 300, 1, 4).select(
        (F.col("id") % 7).cast("int").alias("bucket"), "id"
    )
    group = "test_aqe_runs_a_metadata_sized_reduce_in_one_task"
    sc.setJobGroup(group, group)
    try:
        stats = pq._bucket_stats(codes)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert stats[0] == (43, 0, 294)
    ran = _completed_tasks_per_stage(sc, group)
    assert sorted(ran.values()) == [1, 4], ran  # 4 map tasks, 1 reduce task
    assert ran[max(ran)] == 1, ran
