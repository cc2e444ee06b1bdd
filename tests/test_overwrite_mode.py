"""Partition-overwrite mode is stated on each writer, never taken from
(or set on) the shared session: full rebuilds pin STATIC, partition
rewrites go through `sinks.overwrite_partitions` (DYNAMIC)."""

from __future__ import annotations

import os
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from fb_ads_bigquery_etl_spark.operators import ivm, similarity
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
