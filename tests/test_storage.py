"""storage: which filesystem an engine file lives on, and the verbs both
backends share."""

from __future__ import annotations

import pytest

from fb_ads_bigquery_etl_spark import storage


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
