"""The engine's Python-worker daemon (`fb_ads_bigquery_etl_spark.pydaemon`):
a zipimporter re-reads its archive's directory only when the archive
changed, and archives added with `addPyFile` stay importable."""

from __future__ import annotations

import importlib.util
import os
import uuid
import zipfile
import zipimport

import pyarrow as pa


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)


def _count_reads(monkeypatch) -> list[str]:
    """Record every archive directory read made in this process."""
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_invalidate_rereads_an_archive_only_when_it_changed(tmp_path, monkeypatch):
    from fb_ads_bigquery_etl_spark import pydaemon

    monkeypatch.setattr(pydaemon, "_stamps", {})
    monkeypatch.setattr(zipimport, "_read_directory", pydaemon.read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches
    )
    reads = _count_reads(monkeypatch)
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"probe_mod.py": "VALUE = 1\n"})
    imp = zipimport.zipimporter(archive)  # reads the new archive
    assert reads == [archive]

    reads.clear()
    for _ in range(3):
        imp.invalidate_caches()
    assert reads == []  # unchanged archive: never re-read

    st = os.stat(archive)
    _write_zip(archive, {"probe_mod.py": "VALUE = 22\n", "extra_mod.py": ""})
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    imp.invalidate_caches()
    assert reads == [archive]
    assert imp.find_spec("extra_mod") is not None
    spec = imp.find_spec("probe_mod")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.VALUE == 22

    os.remove(archive)
    imp.invalidate_caches()  # a missing archive raises nothing
    assert imp.find_spec("probe_mod") is None


def _zip_reads_in_task():
    """mapInArrow body: directory reads made by one more
    `importlib.invalidate_caches()` inside a task, and how many
    zipimporters the worker holds. Built in a function so that it is
    pickled by value: workers cannot import this test module."""

    def body(it):
        import importlib
        import sys
        import zipimport

        for _ in it:
            pass
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        n_importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield pa.RecordBatch.from_pydict(
            {"reads": [len(reads)], "importers": [n_importers]}
        )

    return body


def test_worker_task_rereads_no_unchanged_archive(spark, tmp_path):
    archive = str(tmp_path / f"pyfile_{uuid.uuid4().hex}.zip")
    _write_zip(archive, {f"m_{uuid.uuid4().hex}.py": "VALUE = 1\n"})
    spark.sparkContext.addPyFile(archive)
    df = spark.range(0, 4, numPartitions=4)
    # the task's own setup already ran one invalidate_caches(): a
    # second one re-reads nothing, even in a freshly forked worker
    rows = df.mapInArrow(_zip_reads_in_task(), "reads long, importers long").collect()
    assert all(r["importers"] >= 1 for r in rows), rows
    assert [r["reads"] for r in rows] == [0, 0, 0, 0], rows


def test_pyfile_added_to_warm_workers_is_importable(spark, tmp_path):
    df = spark.range(0, 4, numPartitions=4)
    df.mapInArrow(_zip_reads_in_task(), "reads long, importers long").collect()
    mod = f"late_{uuid.uuid4().hex}"
    archive = str(tmp_path / f"{mod}.zip")
    _write_zip(archive, {f"{mod}.py": "VALUE = 7\n"})
    spark.sparkContext.addPyFile(archive)

    def use(it):
        import importlib

        value = importlib.import_module(mod).VALUE
        for b in it:
            yield pa.RecordBatch.from_pydict({"v": [value] * b.num_rows})

    assert [r["v"] for r in df.mapInArrow(use, "v long").collect()] == [7] * 4
