"""storage: which filesystem an engine file lives on, and the verbs both
backends share; session.local_df, the driver-side frames both build on."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import types as T

from fb_ads_bigquery_etl_spark import storage
from fb_ads_bigquery_etl_spark.plans import inspect as PI
from fb_ads_bigquery_etl_spark.session import local_df


def test_bare_path_takes_the_default_fs_scheme(spark, monkeypatch):
    """A scheme-less path follows the session's fs.defaultFS: on an
    HDFS-default cluster it is HDFS, not the driver's disk. file: URIs
    stay local. Resolving never opens a filesystem, so nothing here can
    reach the (nonexistent) namenode."""

    def no_fs(self, path):
        raise AssertionError(f"resolve opened a filesystem for {path}")

    monkeypatch.setattr(storage.Hadoop, "_fs", no_fs)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    prev = conf.get("fs.defaultFS")
    conf.set("fs.defaultFS", "hdfs://namenode:8020")
    try:
        assert isinstance(storage.resolve(spark, "/data/index"), storage.Hadoop)
        assert isinstance(storage.resolve(spark, "file:/x"), storage.Local)
        assert isinstance(storage.resolve(spark, "file:///x"), storage.Local)
        assert isinstance(storage.resolve(spark, "s3a://b/x"), storage.Hadoop)
    finally:
        if prev is None:
            conf.unset("fs.defaultFS")
        else:
            conf.set("fs.defaultFS", prev)
    assert isinstance(storage.resolve(spark, "/data/index"), storage.Local)


def test_backend_verbs_round_trip(spark, tmp_path, store):
    root = str(tmp_path / "d")
    st = storage.resolve(spark, root)
    assert isinstance(st, storage.Hadoop if store == "hadoop" else storage.Local)
    ddl = "k int, v array<long>, s string"
    assert not st.exists(root) and st.read_rows(root, ddl) is None
    assert st.list_files(root) == [] and st.read_text(f"{root}/m") is None

    st.write_rows_atomic(root, [(1, [2, 3], "a")], ddl, "overwrite")
    st.write_rows_atomic(root, [(4, [], None)], ddl, "append")
    got = sorted(tuple(r.values()) for r in st.read_rows(root, ddl))
    assert got == [(1, [2, 3], "a"), (4, [], None)]
    # a column the files lack reads as None (legacy sidecars)
    assert [r["x"] for r in st.read_rows(root, ddl + ", x long")] == [None] * 2
    files = st.list_files(root)
    assert len(files) == 2
    assert all(s.endswith(".parquet") and "/" not in s for _, s, _, _ in files)
    assert all(full.endswith(s) and size > 0 for full, s, size, _ in files)
    # one file read on its own
    assert len(st.read_rows(files[0][0], ddl)) == 1
    st.write_rows_atomic(root, [(5, [6], "b")], ddl, "overwrite")
    assert [r["k"] for r in st.read_rows(root, ddl)] == [5]

    st.write_text(f"{root}/sub/_marker", "committed")
    assert st.read_text(f"{root}/sub/_marker") == "committed"
    st.rename(f"{root}/sub", f"{root}/moved/sub")
    assert not st.exists(f"{root}/sub")
    assert st.exists(f"{root}/moved/sub/_marker")
    with pytest.raises(Exception):  # a failed rename never passes silently
        st.rename(f"{root}/absent", f"{root}/other")
    # hidden names (_marker, checksums, temp files) are never listed
    (name,) = [s for _, s, _, _ in st.list_files(root)]
    assert [p.rsplit("/", 1)[-1] for p in st.glob(f"{root}/*.parquet")] == [name]

    st.delete(root)
    assert not st.exists(root) and st.list_files(root) == []
    st.delete(root)  # a missing path is a no-op


_TS_STRUCT = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("ts_ntz", T.TimestampNTZType()),
    T.StructField("event_type", T.StringType()),
])

# every row shape session.local_df serves: scalar columns, the index's
# array columns, dict rows (centroid sidecar reads), tuple rows, an
# empty table, and a StructType with timestamps (the streaming
# sentinel rows, whose events schema reads `ts` as either type)
_LOCAL_DF_CASES = {
    "scalars": ([(1, 2, 3.5, "a"), (-4, None, None, None)],
                "a long, b int, c double, s string"),
    "array_long": ([(1, [2, -3]), (2, [])], "k long, v array<long>"),
    "lut": ([(0, 3, -7, [[1, 2], [3, 4]]), (1, 5, 0, [[0], []])],
            "qid long, b long, term1 long, lut array<array<long>>"),
    "array_double": ([(0, [0.1, -2.5e-300, 1e300])],
                     "query_id long, _qv array<double>"),
    "dict_rows": ([{"centroid_id": 1, "cvec": [0.5, -1.25], "cnorm": 0.5},
                   {"cnorm": None, "centroid_id": 2, "cvec": None}],
                  "centroid_id long, cvec array<double>, cnorm double"),
    "empty": ([], "bucket long, w long"),
    "timestamps": (
        [(10**9, datetime.datetime(2026, 3, 1, 12, 30, 5, 123456),
          datetime.datetime(2026, 3, 1, 12, 30, 5, 123456), "view"),
         (10**9 + 1, datetime.datetime(1969, 12, 31, 23, 59, 59, 1),
          datetime.datetime(1969, 12, 31, 23, 59, 59, 1), "purchase")],
        _TS_STRUCT,
    ),
}


@pytest.mark.parametrize("case", sorted(_LOCAL_DF_CASES))
def test_local_df_equals_the_rdd_row_path(spark, case):
    """An Arrow local relation holds exactly what the row path
    (`parallelize` + `createDataFrame(rdd, schema)`) builds — same
    schema, same values — and plans as a LocalTableScan, so no scan
    runs a Python worker."""
    rows, schema = _LOCAL_DF_CASES[case]
    got = local_df(spark, rows, schema)
    want = (
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        if rows else spark.createDataFrame([], schema)
    )
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = PI.explain_str(got)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_hadoop_write_rows_atomic_leaves_one_file(spark, tmp_path, store):
    """A local relation spreads 16 rows over several slices; the write
    still leaves exactly one data file."""
    assert spark.sparkContext.defaultParallelism > 1
    root = str(tmp_path / "d")
    st = storage.resolve(spark, root)
    ddl = "k long, v array<long>"
    rows = [(i, [i, -i]) for i in range(16)]
    st.write_rows_atomic(root, rows, ddl, "overwrite")
    assert len([n for n in os.listdir(root) if n.endswith(".parquet")]) == 1
    assert sorted(tuple(r.values()) for r in st.read_rows(root, ddl)) == rows
