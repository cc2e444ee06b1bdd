"""Storage for the engine's own files: which filesystem a path lives
on, and how to list, read, write, rename or delete there.

The files routed through here are the ones the engine keeps ABOUT its
data — index sidecars (centroids, codebooks, manifest segments, split
commit plans, tombstone presence), view metadata, ingest ledger
markers, partition and file listings. They are METADATA-SIZED BY
CONSTRUCTION (nlist buckets, m*ksub codebook rows, one row per data
file), so the rule is stated once, here:

- on a local store the driver does the I/O itself with `os` and
  pyarrow — zero Spark jobs, zero JVM round trips;
- on any other store it goes through Hadoop FileSystem calls, Spark
  reads + collects, and `session.local_df` writes coalesced to one
  file.

`resolve` picks the store once per path: a URI's scheme is used as
given, and a scheme-less path takes the scheme of the session's
`fs.defaultFS` — on an HDFS-default cluster a bare path is HDFS, never
the driver's disk. Data-sized reads and writes (code tables, fact
tables, tombstone frames) stay Spark reads and writes in the
operators; they never pass through this module.
"""

from __future__ import annotations

import functools
import glob as _glob
import os
import shutil
import uuid
from urllib.parse import urlparse


def resolve(spark, path: str) -> "Local | Hadoop":
    """The backend for `path`. Reads one conf value for a scheme-less
    path; never opens a filesystem or contacts a store."""
    scheme = urlparse(path).scheme
    if not scheme:
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        scheme = urlparse(conf.get("fs.defaultFS", "file:///")).scheme
    return Local() if scheme == "file" else Hadoop(spark)


def _hidden(name: str) -> bool:
    # the names Spark's file index skips (_SUCCESS, _temporary, .crc,
    # in-flight .tmp files); partition dirs such as _kb=3 stay visible
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


@functools.lru_cache(maxsize=32)
def spark_schema(schema):
    """The StructType of a DDL string (a StructType passes through).
    Memoized: the DDL parse is a JVM round trip (measured 6.5 ms per
    call on a 4-core box, several calls per index verb), and callers
    pass a handful of module-constant schemas. Every caller shares the
    returned object, so none may mutate it."""
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(schema) if isinstance(schema, str) else schema


@functools.lru_cache(maxsize=32)
def _arrow_schema(schema):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(spark_schema(schema))


def arrow_table(rows: list, schema):
    """Driver-side `rows` (tuples or dicts) as a pyarrow Table under
    `schema` (DDL string or StructType). Each row goes through
    StructType.toInternal first, the conversion Spark's own row path
    applies, so every value lands exactly as `createDataFrame(rows,
    schema)` would store it (a naive datetime in a timestamp column is
    read in the process's local time zone)."""
    import pyarrow as pa

    struct = spark_schema(schema)
    arrow = _arrow_schema(schema)
    cols = (
        list(zip(*(struct.toInternal(r) for r in rows))) if rows
        else [()] * len(arrow)
    )
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )


class Local:
    """Driver-side `os` + pyarrow I/O for bare paths and file: URIs."""

    @staticmethod
    def _p(path: str) -> str:
        return urlparse(path).path if path.startswith("file:") else path

    def exists(self, path: str) -> bool:
        return os.path.exists(self._p(path))

    def list_files(self, path: str) -> list[tuple[str, str, int, int]]:
        """(full path, path relative to `path`, size, mtime ms) of every
        visible file under `path`, sorted by the relative path; [] when
        `path` does not exist."""
        root = self._p(path)
        out = []
        for d, dirs, files in os.walk(root):
            dirs[:] = [x for x in dirs if not _hidden(x)]
            for name in files:
                if _hidden(name):
                    continue
                full = os.path.join(d, name)
                st = os.stat(full)
                # Hadoop's LocalFileStatus mtime is
                # java.io.File.lastModified() — whole milliseconds;
                # integer ns floor-div reproduces it exactly
                out.append((full, os.path.relpath(full, root),
                            st.st_size, st.st_mtime_ns // 1_000_000))
        return sorted(out, key=lambda t: t[1])

    def glob(self, pattern: str) -> list[str]:
        return sorted(_glob.glob(self._p(pattern)))

    def delete(self, path: str) -> None:
        """Recursive; a missing path is a no-op."""
        p = self._p(path)
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.lexists(p):
            os.remove(p)

    def rename(self, src: str, dst: str) -> None:
        """Move `src` to a `dst` that does not exist yet, creating its
        parent dir; raises on failure."""
        d = self._p(dst)
        os.makedirs(os.path.dirname(d) or ".", exist_ok=True)
        os.rename(self._p(src), d)

    def read_rows(self, path: str, ddl: str) -> list[dict] | None:
        """Rows of a parquet file or dir as dicts keyed by the DDL's
        columns (a column a file lacks reads as None), or None when
        `path` does not exist."""
        import pyarrow.parquet as papq

        p = self._p(path)
        if os.path.isfile(p):
            files = [p]
        elif os.path.isdir(p):
            files = [
                os.path.join(p, n) for n in sorted(os.listdir(p))
                if n.endswith(".parquet") and not _hidden(n)
            ]
        else:
            return None
        names = _arrow_schema(ddl).names
        rows: list[dict] = []
        for f in files:
            pf = papq.ParquetFile(f)
            have = [n for n in names if n in pf.schema_arrow.names]
            for r in pf.read(columns=have).to_pylist():
                rows.append({n: r.get(n) for n in names})
        return rows

    def write_rows_atomic(self, path: str, rows: list, ddl: str,
                          mode: str) -> None:
        """Write tuple `rows` as ONE parquet file into dir `path`
        ('overwrite' first clears the dir, 'append' adds beside what is
        there). The file is written under a hidden temp name and
        renamed in, so a crash never leaves a torn file a reader would
        trip on."""
        import pyarrow.parquet as papq

        table = arrow_table(rows, ddl)
        d = self._p(path)
        if mode == "overwrite":
            self.delete(d)
        os.makedirs(d, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(d, f".{name}.tmp")
        papq.write_table(table, tmp)
        os.rename(tmp, os.path.join(d, name))

    def read_text(self, path: str) -> str | None:
        p = self._p(path)
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return fh.read()

    def write_text(self, path: str, text: str) -> None:
        p = self._p(path)
        os.makedirs(os.path.dirname(p) or ".", exist_ok=True)
        with open(p, "w") as fh:
            fh.write(text)


class Hadoop:
    """Hadoop FileSystem calls, Spark reads + collects and `local_df`
    writes coalesced to one file: the backend of every non-local
    store. Same verbs and return shapes as `Local`."""

    def __init__(self, spark):
        self.spark = spark

    def _fs(self, path: str):
        sc = self.spark.sparkContext
        jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
        return jpath.getFileSystem(sc._jsc.hadoopConfiguration()), jpath

    def exists(self, path: str) -> bool:
        fs, p = self._fs(path)
        return bool(fs.exists(p))

    def list_files(self, path: str) -> list[tuple[str, str, int, int]]:
        """The listing runs JVM-side through the binaryFile source with
        only the metadata columns selected (content is never read): one
        small job + a file-count collect instead of ~8 py4j round trips
        per file (measured 2.9 s -> ~0.2 s at 473 files)."""
        from pyspark.errors import AnalysisException

        try:
            rows = (
                self.spark.read.format("binaryFile")
                .option("recursiveFileLookup", "true")
                .load(path)
                .select("path", "length", "modificationTime")
                .collect()
            )
        except AnalysisException:  # path does not exist
            return []
        fs, p = self._fs(path)
        root = fs.makeQualified(p).toString().rstrip("/") + "/"
        out = [
            (r["path"], r["path"][len(root):], int(r["length"]),
             round(r["modificationTime"].timestamp() * 1000))
            for r in rows
        ]
        return sorted(out, key=lambda t: t[1])

    def glob(self, pattern: str) -> list[str]:
        fs, p = self._fs(pattern)
        statuses = fs.globStatus(p)
        if statuses is None:
            return []
        return sorted(st.getPath().toString() for st in statuses)

    def delete(self, path: str) -> None:
        fs, p = self._fs(path)
        fs.delete(p, True)

    def rename(self, src: str, dst: str) -> None:
        """FileSystem.rename signals failure by RETURNING FALSE (dst
        exists, missing parent, cross-FS move), not by raising — an
        unchecked call would let a publish report success with nothing
        moved."""
        fs, s = self._fs(src)
        _, d = self._fs(dst)
        fs.mkdirs(d.getParent())
        if not fs.rename(s, d):
            raise IOError(f"filesystem rename failed: {src} -> {dst}")

    def read_rows(self, path: str, ddl: str) -> list[dict] | None:
        if not self.exists(path):
            return None
        return [
            r.asDict()
            for r in self.spark.read.schema(ddl).parquet(path).collect()
        ]

    def write_rows_atomic(self, path: str, rows: list, ddl: str,
                          mode: str) -> None:
        """One file per write through Spark's commit protocol: the
        local relation spreads its rows over up to default-parallelism
        slices, so the write coalesces them into one task."""
        from fb_ads_bigquery_etl_spark.session import local_df

        local_df(self.spark, rows, ddl).coalesce(1).write.mode(
            mode
        ).parquet(path)

    def read_text(self, path: str) -> str | None:
        fs, p = self._fs(path)
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            jvm = self.spark.sparkContext._jvm
            return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()

    def write_text(self, path: str, text: str) -> None:
        fs, p = self._fs(path)
        out = fs.create(p, True)
        try:
            out.write(bytearray(text.encode()))
        finally:
            out.close()
