"""Row-streaming insert sink (reference L3) as a Spark 4 Python
DataSink.

The reference loads via BigQuery's `insert_rows_json`, which applies
rows one micro-batch at a time and RAISES when the service reports
per-row errors (main.py:441-447). This mirrors that contract as a
custom `DataSource` writer so `df.write.format("row_insert")` drives
it natively:

- each task streams its partition's rows to the (pluggable) insert
  client and returns a commit message with its row count;
- per-row rejections surface as task failures (the reference's raise),
  so Spark's task retry / job abort semantics apply;
- `commit()` on the driver sees every task's message — the natural
  place for an ingest audit record (total rows, partitions).

The default client is filesystem-backed (one JSONL shard per task,
atomic rename on commit) — a stand-in with the same interface a real
HTTP client would implement. Its shards are written by executor tasks
with plain `os` calls, so it stays local-only; `storage` (driver-side
I/O of the engine's own files) does not cover it. The DataSink API is
the write-side sibling of fb_source's
DataSourceReader/SimpleDataSourceStreamReader:
together they close the loop on a fully custom Python-DataSource
pipeline (API read → transform → API write).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceWriter,
    WriterCommitMessage,
)


class RowInsertCommit(WriterCommitMessage):
    def __init__(self, shard: str, n_rows: int):
        self.shard = shard
        self.n_rows = n_rows


class RowInsertWriter(DataSourceWriter):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("row_insert sink requires a 'path' option")
        # reference main.py:444: error rows fail the load
        self.reject_null_cols = [
            c for c in options.get("reject_null_in", "").split(",") if c
        ]

    def write(self, iterator) -> RowInsertCommit:
        os.makedirs(self.path, exist_ok=True)
        name = uuid.uuid4().hex
        shard = os.path.join(self.path, f"_tmp_{name}.jsonl")
        n = 0
        try:
            with open(shard, "w") as f:
                for row in iterator:
                    d = row.asDict(recursive=True)
                    bad = [
                        c for c in self.reject_null_cols if d.get(c) is None
                    ]
                    if bad:
                        raise ValueError(
                            f"insert rejected row with NULL {bad}: the "
                            "service reported per-row errors (reference "
                            "main.py:444-447)"
                        )
                    f.write(json.dumps(d, default=str, sort_keys=True) + "\n")
                    n += 1
        except BaseException:
            # a failed task returns no commit message, so abort() can
            # never see this shard — remove the partial file here
            try:
                os.remove(shard)
            except OSError:
                pass
            raise
        return RowInsertCommit(shard, n)

    def commit(self, messages) -> None:
        # materialize once: if Spark ever hands a one-shot iterator, the
        # second traversal below would see it exhausted (audit shards=0)
        messages = list(messages)
        total = 0
        published = set()
        for m in messages:
            # rename on the BASENAME only — the directory path itself
            # may legitimately contain "_tmp_"
            d, base = os.path.split(m.shard)
            os.rename(
                m.shard, os.path.join(d, "part_" + base[len("_tmp_"):])
            )  # publish atomically per shard
            published.add(m.shard)
            total += m.n_rows
        # a killed/speculative losing attempt never returns, so write()'s
        # except-handler can't clean its partial shard; any _tmp_ file not
        # in a commit message is by construction uncommitted — sweep it
        for name in os.listdir(self.path):
            if name.startswith("_tmp_") and (
                os.path.join(self.path, name) not in published
            ):
                try:
                    os.remove(os.path.join(self.path, name))
                except OSError:
                    pass
        with open(os.path.join(self.path, "_AUDIT.json"), "w") as f:
            json.dump({"rows": total, "shards": len(messages)}, f)

    def abort(self, messages) -> None:
        for m in messages:
            try:
                os.remove(m.shard)
            except OSError:
                pass


class RowInsertDataSource(DataSource):
    """`df.write.format("row_insert").option("path", ...)` after
    `register_sink(spark)`."""

    @classmethod
    def name(cls) -> str:
        return "row_insert"

    def writer(self, schema, overwrite: bool) -> RowInsertWriter:
        if overwrite:
            # streaming inserts are append-only in the reference too
            # (insert_rows_json); silently treating overwrite as append
            # would leave old shards beside new ones with a lying audit
            raise ValueError(
                "row_insert is append-only (streaming-insert semantics); "
                "use mode('append')"
            )
        return RowInsertWriter(self.options)


def register_sink(spark) -> None:
    spark.dataSource.register(RowInsertDataSource)
