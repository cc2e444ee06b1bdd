"""The benchmark's closed-loop workloads.

Each workload makes its inputs from the seed, builds its initial state,
warms the process up, and then hands the client loop in `run.py` one
cycle of ops at a time. Every op carries the check of its own output;
`final_check` verifies the state all the ops left behind. See README.md
for why each workload exists and which layers it stresses.
"""

from __future__ import annotations

import datetime
import os
import random
import threading
from dataclasses import dataclass
from typing import Any, Callable

import spans as tr


@dataclass
class Op:
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], bool]


def dir_usage(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under `path`, counting only names ending in
    `suffix`; hidden checksum sidecars count as bytes on disk too."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class EtlDaily:
    """One op = one `pipelines.run_daily` for the next calendar day over
    ACCOUNTS accounts x ROWS_PER_DAY rows/day from the fake Graph-API
    transport, appending to one growing day-partitioned table. The last
    account always fails, so error isolation runs every day."""

    name = "etl_daily"
    ACCOUNTS = 8
    ROWS_PER_DAY = 100
    # Warm-up: WARM_THREADS clients each run WARM_CALLS days into their
    # own side table at once (more calls per second of set-up than one
    # client), then WARM_MAIN days go into the measured table.
    WARM_THREADS = 3
    WARM_CALLS = 3
    WARM_MAIN = 2
    TINY = {"ACCOUNTS": 3, "ROWS_PER_DAY": 10, "WARM_THREADS": 1, "WARM_CALLS": 1,
            "WARM_MAIN": 1}

    def __init__(self, spark, work: str, seed: int, tracer: tr.Tracer, trace: bool):
        from fb_ads_bigquery_etl_spark import pipelines
        from fb_ads_bigquery_etl_spark.sources import fb_source

        self.spark, self.work, self.tracer, self.trace = spark, work, tracer, trace
        self.pipelines, self.fb_source = pipelines, fb_source
        rng = random.Random(seed)
        self.accounts = [f"act_{rng.randrange(10**9)}" for _ in range(self.ACCOUNTS)]
        self.fail_account = self.accounts[-1]
        self.day0 = datetime.date(2024, 1, 1) + datetime.timedelta(rng.randrange(365))
        self.table = os.path.join(work, "table")
        self.fetch_log = os.path.join(work, "fetch.log")
        self.next_day = 0
        self.loaded_rows = 0
        self.last_date: str | None = None
        self.layer: dict[str, list[float]] = {}

    def _day(self, i: int) -> str:
        return (self.day0 + datetime.timedelta(i)).isoformat()

    def _run_daily(self, day: str, table: str):
        opts = {"fetch_log": self.fetch_log} if self.trace else {}
        return self.pipelines.run_daily(
            self.spark,
            accounts=self.accounts,
            run_date=day,
            table_path=table,
            fail_accounts=self.fail_account,
            rows_per_day=self.ROWS_PER_DAY,
            **opts,
        )

    def expected_rows(self, day: str) -> int:
        """Distinct dedup keys the live accounts serve for `day`, read
        straight from the transport in Python: the row count keep-first
        dedup must produce."""
        from fb_ads_bigquery_etl_spark.schema import DEDUP_KEY

        t = self.fb_source.FakeGraphTransport(rows_per_day=self.ROWS_PER_DAY)
        keys = set()
        for acct in self.accounts[:-1]:
            cursor = None
            while True:
                page = t.fetch_page("TEST_TOKEN", acct, day, [], cursor)
                keys.update(tuple(r[k] for k in DEDUP_KEY) for r in page.data)
                if page.next_cursor is None:
                    break
                cursor = page.next_cursor
        return len(keys)

    def setup(self) -> None:
        if self.trace:
            self._instrument()

        errors: list[BaseException] = []

        def side(k: int) -> None:
            try:
                for i in range(self.WARM_CALLS):
                    self._run_daily(self._day(i), os.path.join(self.work, f"warm{k}"))
            except Exception as exc:  # re-raised on the main thread below
                errors.append(exc)

        threads = [
            threading.Thread(target=side, args=(k,)) for k in range(self.WARM_THREADS)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        for _ in range(self.WARM_MAIN):
            self._append_next()
        if self.trace:
            os.remove(self.fetch_log)

    def _append_next(self):
        day = self._day(self.next_day)
        self.next_day += 1
        rep = self._run_daily(day, self.table)
        self.loaded_rows += rep.rows_processed
        self.last_date = day
        return day, rep

    def _instrument(self) -> None:
        tracer = self.tracer
        tr.wrap(tracer, self.pipelines, "flatten_insights", "normalize.flatten")
        tr.wrap(tracer, self.pipelines, "dedup_keep_first", "dedup.keep_first")
        tr.wrap(tracer, self.pipelines, "append_with_schema_evolution", "sinks.append")

    def cycle(self) -> list[Op]:
        before = dir_usage(self.table, ".parquet") if self.trace else None

        def check(res) -> bool:
            day, rep = res
            ok = rep.status == "success" and rep.rows_processed == self.expected_rows(day)
            if self.trace:
                self._layer_after_op(before, rep)
            return ok

        return [Op("pipelines.run_daily", self._append_next, check)]

    def _layer_after_op(self, before, rep) -> None:
        files, size = dir_usage(self.table, ".parquet")
        add = lambda k, v: self.layer.setdefault(k, []).append(v)  # noqa: E731
        add("sinks.files_written_per_op", files - before[0])
        add("sinks.bytes_written_per_op", size - before[1])
        with open(self.fetch_log) as fh:
            lines = fh.read().splitlines()
        os.remove(self.fetch_log)
        add("sources.pages_per_op", len(lines))
        add("sources.fetch_amplification", len(lines) / max(1, len(set(lines))))
        add(
            "sources.failed_partitions_per_op",
            len({ln.rsplit("|", 1)[0] for ln in lines if ln.startswith(self.fail_account + "|")}),
        )
        rows_in = (self.ACCOUNTS - 1) * self.ROWS_PER_DAY
        add("dedup.rows_out_per_in", rep.rows_processed / rows_in)

    def final_check(self) -> bool:
        from pyspark.sql import functions as F

        from fb_ads_bigquery_etl_spark import analytics, sinks
        from fb_ads_bigquery_etl_spark.operators.quality import duplicate_key_count
        from fb_ads_bigquery_etl_spark.schema import DEDUP_KEY

        with self.tracer.span("sinks.read_table"):
            df = sinks.read_table(self.spark, self.table)
        with self.tracer.span("quality.duplicate_key_count"):
            dup = duplicate_key_count(df, list(DEDUP_KEY)).collect()[0]
        with self.tracer.span("analytics.row_count"):
            n = analytics.row_count(df).collect()[0]["row_count"]
        with self.tracer.span("analytics.freshness"):
            latest = analytics.freshness(df).collect()[0]["latest_date"]
        failed_rows = df.filter(F.col("account_id") == self.fail_account).count()
        return (
            dup["n_dup_keys"] == 0
            and n == self.loaded_rows
            and str(latest) == self.last_date
            and failed_rows == 0
        )

    def stored_bytes_per_row(self) -> float:
        return dir_usage(self.table)[1] / self.loaded_rows

    def layer_end(self) -> dict[str, float]:
        out = {k: tr.p50(v) for k, v in self.layer.items()}
        out["sinks.table_files"] = dir_usage(self.table, ".parquet")[0]
        return out


class IndexMaintain:
    """IVF-PQ index over seeded 64-dimensional vectors. One cycle is one
    append of BATCH vectors, one delete of BATCH/5 live ids, four batch
    queries of QUERIES live vectors each, and one `compact_ivfpq_index`.
    One op is faster than the queries and two are slower, so the median
    op is a query."""

    name = "index_maintain"
    DIM = 64
    BASE = 2000
    BATCH = 200
    QUERIES = 4
    MAX_CYCLES = 24
    NLIST = 16
    # k * expand candidates cover the probed buckets, so a live vector
    # always reaches the exact rerank and comes back at rank 1.
    K, EXPAND, NPROBE = 10, 50, 2
    WARM_CYCLES = 1
    TINY = {"BASE": 300, "BATCH": 50, "NLIST": 4, "MAX_CYCLES": 8, "WARM_CYCLES": 0}

    def __init__(self, spark, work: str, seed: int, tracer: tr.Tracer, trace: bool):
        from fb_ads_bigquery_etl_spark.operators import pq

        self.spark, self.work, self.tracer, self.trace = spark, work, tracer, trace
        self.pq = pq
        self.seed = seed
        self.rng = random.Random(seed)
        self.index_dir = os.path.join(work, "index")
        self.path = os.path.join(self.index_dir, "ivfpq")
        self.live: set[int] = set()
        self.deleted: set[int] = set()
        self.next_id = self.BASE

    def _write_pool(self, path: str) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        total = self.BASE + self.BATCH * self.MAX_CYCLES
        vecs = np.random.default_rng(self.seed).normal(size=(total, self.DIM))
        pq.write_table(
            pa.table({
                "vec_id": pa.array(range(total), type=pa.int64()),
                "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
            }),
            path,
        )

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from fb_ads_bigquery_etl_spark.operators import similarity

        pool_path = os.path.join(self.work, "pool.parquet")
        self._write_pool(pool_path)
        self.pool = self.spark.read.parquet(pool_path)
        base = self.pool.filter(F.col("vec_id") < self.BASE)
        with self.tracer.span("similarity.train_centroids"):
            cents = similarity.train_centroids_exact(base, k=self.NLIST, iters=2)
            cents = cents.localCheckpoint(eager=True)
        with self.tracer.span("pq.build"):
            self.pq.build_ivfpq_index(
                base, self.path, in_dim=self.DIM, m=4, ksub=8, centroids=cents
            )
        self.live = set(range(self.BASE))
        for _ in range(self.WARM_CYCLES):
            for op in self.cycle():
                if not op.check(op.run()):
                    raise RuntimeError(f"warm-up {op.kind} returned a wrong result")

    def _append(self):
        from pyspark.sql import functions as F

        lo, hi = self.next_id, self.next_id + self.BATCH
        if hi > self.BASE + self.BATCH * self.MAX_CYCLES:
            raise RuntimeError("vector pool exhausted; raise MAX_CYCLES")
        self.pq.append_ivfpq_index(
            self.spark, self.pool.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), self.path
        )
        self.next_id = hi
        self.live.update(range(lo, hi))

    def _delete(self):
        ids = sorted(self.rng.sample(sorted(self.live), self.BATCH // 5))
        frame = self.spark.createDataFrame([(i,) for i in ids], "vec_id long")
        self.pq.delete_from_ivfpq_index(self.spark, frame, self.path)
        self.live.difference_update(ids)
        self.deleted.update(ids)

    def _query(self):
        from pyspark.sql import functions as F

        qids = self.rng.sample(sorted(self.live), self.QUERIES)
        rows = self.pq.query_ivfpq_index_batch(
            self.spark, self.path, self.pool.filter(F.col("vec_id").isin(qids)),
            k=self.K, nprobe=self.NPROBE, expand=self.EXPAND, rerank_src=self.pool,
        ).collect()
        return qids, rows

    def _check_query(self, res) -> bool:
        qids, rows = res
        first: dict[int, int] = {}
        for qid, vid, _score in rows:
            first.setdefault(qid, vid)
        return all(first.get(q) == q for q in qids) and not any(
            r[1] in self.deleted for r in rows
        )

    def cycle(self) -> list[Op]:
        ok = lambda _res: True  # noqa: E731  (verified by queries and final_check)
        ops = [Op("pq.append", self._append, ok), Op("pq.delete", self._delete, ok)]
        ops += [Op("pq.query_batch", self._query, self._check_query)] * 4
        ops.append(Op(
            "pq.compact",
            lambda: self.pq.compact_ivfpq_index(self.spark, self.path),
            lambda res: isinstance(res, list),
        ))
        return ops

    def final_check(self) -> bool:
        """The maintenance poll: live codes per `ivfpq_index_stats` must
        equal appended minus deleted."""
        with self.tracer.span("pq.stats"):
            rows = self.pq.ivfpq_index_stats(self.spark, self.path).collect()
        return sum(r["n_live"] for r in rows) == len(self.live)

    def stored_bytes_per_row(self) -> float:
        return dir_usage(self.index_dir)[1] / len(self.live)

    def layer_end(self) -> dict[str, float]:
        code_files, _ = dir_usage(self.path, ".parquet")
        tomb_files, _ = dir_usage(self.path + "_tombstones", ".parquet")
        return {
            "pq.code_files": code_files,
            "pq.tombstone_files": tomb_files,
            "pq.sidecar_bytes": dir_usage(self.index_dir)[1] - dir_usage(self.path)[1],
        }


WORKLOADS = {w.name: w for w in (EtlDaily, IndexMaintain)}


def make(name: str, tiny: bool, *args):
    """Instantiate workload `name`; `tiny` applies its TINY sizes (the
    benchmark's own smoke tests), which are never used for measuring."""
    cls = WORKLOADS[name]
    if tiny:
        cls = type(cls.__name__, (cls,), dict(cls.TINY))
    return cls(*args)
