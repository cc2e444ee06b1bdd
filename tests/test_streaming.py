"""Streaming == batch equivalence on the same input.

Each streaming operator is drained with Trigger.AvailableNow (multi
micro-batch via maxFilesPerTrigger) and compared against its batch twin
— the exactly-once equivalence that makes streaming backfills safe.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from fb_ads_bigquery_etl_spark.streaming import state as st, windows as sw
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def landing_dir(spark, tmp_path_factory):
    """Split events into several files so AvailableNow runs multiple
    micro-batches (real incremental state, not a single-batch no-op)."""
    d = str(tmp_path_factory.mktemp("landing") / "events")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    raw.repartition(4).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _drain(stream_df, name, mode="complete"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def test_tumbling_stream_matches_batch(spark, landing_dir):
    stream = sw.tumbling_counts(sw.read_events_stream(spark, landing_dir))
    got = {
        (r["hour"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in _drain(stream, "t_tumbling").collect()
    }
    want = {
        (r["hour"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in entry_mod.q_tumbling_hourly(spark, SF_DIR).collect()
    }
    assert got == want


def test_session_stream_matches_batch(spark, landing_dir):
    stream = sw.session_aggregate(sw.read_events_stream(spark, landing_dir))
    sessions = _drain(stream, "t_sessions")
    got = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in sessions.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .collect()
    }
    want = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in entry_mod.q_sessionize(spark, SF_DIR).collect()
    }
    assert got == want


def test_stream_stream_interval_join_matches_batch(spark, landing_dir):
    """Stream-stream interval join == the same join on static frames."""
    from fb_ads_bigquery_etl_spark.streaming.joins import purchases_with_recent_views

    def split(df):
        return (
            df.filter(F.col("event_type") == "purchase"),
            df.filter(F.col("event_type") == "view"),
        )

    sp, sv = split(sw.read_events_stream(spark, landing_dir))
    joined = purchases_with_recent_views(sp, sv)
    got = {
        (r["p_event_id"], r["v_event_id"])
        for r in _drain(joined, "t_ssj", mode="append").collect()
    }

    from fb_ads_bigquery_etl_spark.schema import event_ts_to_timestamp

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = event_ts_to_timestamp(
        spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    )
    bp, bv = split(batch)
    want = {
        (r["p_event_id"], r["v_event_id"])
        for r in purchases_with_recent_views(bp, bv).collect()
    }
    assert got == want and len(got) > 0


def test_stream_merge_ingest_exactly_once(spark, tmp_path):
    """Landing-zone ingest: duplicates across files converge via MERGE;
    a re-run on the same checkpoint is a no-op; new files incrementally
    merge. (At-least-once delivery + idempotent sink == exactly-once.)"""
    from fb_ads_bigquery_etl_spark import pipelines
    from fb_ads_bigquery_etl_spark.streaming.ingest import stream_merge_ingest

    landing = str(tmp_path / "landing")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    # produce flattened rows into the landing zone, duplicated across files
    src = str(tmp_path / "src")
    pipelines.run_daily(
        spark, accounts=["a", "b"], run_date="2026-01-15", table_path=src
    )
    flat = spark.read.parquet(src)
    n_unique = flat.count()
    flat.repartition(2).write.mode("overwrite").parquet(landing)
    flat.limit(10).write.mode("append").parquet(landing)  # replayed subset

    n_batches = stream_merge_ingest(
        spark, landing, table, checkpoint_path=ckpt, max_files_per_trigger=1
    )
    assert n_batches >= 2
    assert spark.read.parquet(table).count() == n_unique

    # restart on same checkpoint: nothing new to ingest, table unchanged
    stream_merge_ingest(spark, landing, table, checkpoint_path=ckpt)
    assert spark.read.parquet(table).count() == n_unique

    # late file with a NEW day lands incrementally
    pipelines.run_daily(
        spark, accounts=["a"], run_date="2026-01-16", table_path=src
    )
    late = spark.read.parquet(src).where("date_start = '2026-01-16'")
    n_late = late.count()
    late.write.mode("append").parquet(landing)
    stream_merge_ingest(spark, landing, table, checkpoint_path=ckpt)
    assert spark.read.parquet(table).count() == n_unique + n_late


def test_stateful_running_totals(spark, landing_dir):
    stream = st.running_user_totals(
        sw.read_events_stream(spark, landing_dir, max_files_per_trigger=1)
    )
    drained = _drain(stream, "t_state", mode="update")
    # update mode emits one row per (user, batch); the final state is the
    # row with the largest n_events per user.
    final = (
        drained.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_events", "total_value_micros"), F.col("n_events")
            ).alias("r")
        )
        .select("user_id", "r.*")
        .collect()
    )
    got = {r["user_id"]: (r["n_events"], r["total_value_micros"]) for r in final}
    want = {
        r["user_id"]: (r["n"], r["t"])
        for r in spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 1_000_000)).alias("t"),
        )
        .collect()
    }
    assert got == want  # exact across batch splits: integer-micros state


def test_streaming_dedup_within_watermark_matches_batch(spark, tmp_path):
    """Duplicated landing files -> streaming dedup == batch DISTINCT."""
    d = str(tmp_path / "dup_landing")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    # two copies in separate files: duplicates arrive across micro-batches
    raw.repartition(3).write.mode("overwrite").parquet(d)
    raw.repartition(2).write.mode("append").parquet(d)

    stream = sw.streaming_dedup(
        sw.read_events_stream(spark, d, max_files_per_trigger=2)
    )
    got = _drain(stream, "t_dedup", mode="append")
    assert got.count() == raw.count()
    assert got.select("event_id").distinct().count() == raw.count()
    # value-level spot check: per-type counts equal the batch dedup
    want = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got_counts = {
        r["event_type"]: r["n"]
        for r in got.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert got_counts == want


def test_timeout_sessions_across_batches(spark, tmp_path):
    """timeout_sessions' carried-state path: sessions SPANNING a
    micro-batch boundary must merge (open state + marker row), a
    cross-batch gap must split, and a key silent after batch 1 must be
    flushed by the event-time TIMEOUT, not by new data. Files are
    mtime-ordered with maxFilesPerTrigger=1 so each is its own batch."""
    import datetime
    import os

    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.streaming.state import timeout_sessions

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    import shutil

    schema = "event_id long, ts timestamp, user_id long"
    batch1 = [(1, ts(0), 1), (2, ts(10), 1), (3, ts(5), 2), (4, ts(0), 3)]
    batch2 = [(5, ts(50), 1), (6, ts(20), 2)]
    # TWO sentinel batches (like the registry staging): timeouts fire in
    # a batch whose watermark ALREADY passed the deadline, so the first
    # sentinel advances the watermark and the second flushes
    sentinels = ([(98, ts(600), -1)], [(99, ts(1200), -1)])
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    for i, rows in enumerate((batch1, batch2, *sentinels)):
        # stage each batch as a single parquet FILE (the write makes a
        # directory; FileStreamSource wants plain files)
        d = str(tmp_path / f"w{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        p = os.path.join(landing, f"b{i}.parquet")
        shutil.copyfile(os.path.join(d, part), p)
        base = os.path.getmtime(os.path.join(landing, "b0.parquet"))
        os.utime(p, (base + 10 * i,) * 2)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .withWatermark("ts", "2 hours")
    )
    q = (
        timeout_sessions(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("sto_batches")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["sess_start"], r["n_events"])
        for r in spark.table("sto_batches").collect()
        if r["user_id"] >= 0
    }
    spark.catalog.dropTempView("sto_batches")
    assert got == {
        # user 1: [0m, 10m] closed by the 50m event arriving NEXT batch
        # (gap 40m >= 30m), then [50m] flushed by timeout
        (1, ts(0), 2),
        (1, ts(50), 1),
        # user 2: 5m (batch 1) and 20m (batch 2) MERGE across the
        # boundary — gap 15m < 30m
        (2, ts(5), 2),
        # user 3: silent after batch 1 — flushed purely by timeout
        (3, ts(0), 1),
    }


def test_timeout_sessions_out_of_order_across_batches(spark, tmp_path):
    """Events legal under the watermark but EARLIER than the carried
    last_us (out-of-order across batches) must merge against the
    compressed open-session state like the batch lag() oracle: an event
    inside the open span is absorbed, one chaining backwards (< gap to
    sess_start) moves the start earlier, and one cut off by a >= gap
    break closes as its own earlier session (round-5 ADVICE)."""
    import datetime
    import os
    import shutil

    from fb_ads_bigquery_etl_spark.streaming.state import timeout_sessions

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    schema = "event_id long, ts timestamp, user_id long"
    batch1 = [(1, ts(60), 7), (2, ts(70), 7)]
    # all three are >= watermark (70m - 2h) yet earlier than last_us=70m:
    #   40m chains backwards (60-40=20 < 30) -> extends start to 40m
    #   65m falls inside [60, 70] -> absorbed, no boundary moves
    #   0m is cut off (40-0=40 >= 30) -> closes as its own session
    batch2 = [(3, ts(40), 7), (4, ts(65), 7), (5, ts(0), 7)]
    sentinels = ([(98, ts(600), -1)], [(99, ts(1200), -1)])
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    for i, rows in enumerate((batch1, batch2, *sentinels)):
        d = str(tmp_path / f"w{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        p = os.path.join(landing, f"b{i}.parquet")
        shutil.copyfile(os.path.join(d, part), p)
        base = os.path.getmtime(os.path.join(landing, "b0.parquet"))
        os.utime(p, (base + 10 * i,) * 2)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .withWatermark("ts", "2 hours")
    )
    q = (
        timeout_sessions(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("sto_ooo")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["sess_start"], r["n_events"])
        for r in spark.table("sto_ooo").collect()
        if r["user_id"] >= 0
    }
    spark.catalog.dropTempView("sto_ooo")
    assert got == {
        (7, ts(0), 1),    # closed in batch 2: detached late event
        (7, ts(40), 4),   # timeout flush: events at 40, 60, 65, 70
    }


def test_timeout_sessions_random_cross_batch(spark, tmp_path):
    """Randomized cross-batch ordering property (round-6 verdict #8):
    arrivals generated WITHIN the documented contract — a session's
    events may arrive out of order across batches as long as none
    lands after a later session of the same key has started arriving
    (which closes it) — must always reproduce the batch gap-split
    oracle. Three seeded trials, one streaming query each."""
    import datetime
    import os
    import random
    import shutil

    from fb_ads_bigquery_etl_spark.streaming.state import timeout_sessions

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    gap_min = 30
    n_batches = 3

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=float(minutes))

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        rows_by_batch = [[] for _ in range(n_batches)]
        expected = set()
        eid = 0
        for user in range(1, 5):
            # distinct minute offsets within 110m (watermark delay 2h
            # keeps every arrival legal regardless of batch order)
            times = sorted(rng.sample(range(0, 110), rng.randint(3, 10)))
            # oracle: gap-split sessions over the full event set
            sessions = [[times[0]]]
            for t in times[1:]:
                if t - sessions[-1][-1] >= gap_min:
                    sessions.append([])
                sessions[-1].append(t)
            for s in sessions:
                expected.add((user, ts(s[0]), len(s)))
            # contract-respecting batch assignment, two rules:
            # (1) session i's events land in batches [c_i, c_{i+1}]
            #     with c non-decreasing — no event arrives after a
            #     later session of the same key closed it;
            # (2) WITHIN a session, the arrival order is a random
            #     permutation whose every prefix is gap-connected
            #     (each next event lands within gap of the arrived
            #     envelope) — a bridge event arriving after both
            #     sides were seen split is outside the documented
            #     merge contract.
            cuts = sorted(
                rng.randint(0, n_batches - 1) for _ in range(len(sessions))
            )
            cuts.append(n_batches - 1)
            for i, s in enumerate(sessions):
                remaining = list(s)
                arrived: list[int] = []
                order: list[int] = []
                while remaining:
                    lo, hi = (
                        (min(arrived), max(arrived)) if arrived else (None, None)
                    )
                    cands = [
                        t
                        for t in remaining
                        if not arrived
                        or (lo - gap_min < t < hi + gap_min)
                    ]
                    t = rng.choice(cands)
                    remaining.remove(t)
                    arrived.append(t)
                    order.append(t)
                # non-decreasing batch index along the arrival order
                # keeps every batch-boundary prefix gap-connected
                b = cuts[i]
                for t in order:
                    b = min(max(b, rng.randint(cuts[i], cuts[i + 1])), cuts[i + 1])
                    eid += 1
                    rows_by_batch[b].append((eid, ts(t), user))
        for b in rows_by_batch:
            rng.shuffle(b)

        sentinels = (
            [(9998, ts(600), -1)],
            [(9999, ts(1200), -1)],
        )
        landing = str(tmp_path / f"landing{seed}")
        os.makedirs(landing)
        batches = [b for b in rows_by_batch if b] + list(sentinels)
        schema = "event_id long, ts timestamp, user_id long"
        for i, rows in enumerate(batches):
            d = str(tmp_path / f"w{seed}_{i}")
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
            part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
            p = os.path.join(landing, f"b{i}.parquet")
            shutil.copyfile(os.path.join(d, part), p)
            base = os.path.getmtime(os.path.join(landing, "b0.parquet"))
            os.utime(p, (base + 10 * i,) * 2)

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
            .withWatermark("ts", "2 hours")
        )
        q = (
            timeout_sessions(stream, gap_minutes=gap_min)
            .writeStream.format("memory")
            .queryName(f"sto_rand{seed}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r["user_id"], r["sess_start"], r["n_events"])
            for r in spark.table(f"sto_rand{seed}").collect()
            if r["user_id"] >= 0
        }
        spark.catalog.dropTempView(f"sto_rand{seed}")
        assert got == expected, f"seed={seed}"


def test_restart_recovery_checkpoint_carries_the_state(spark):
    """Positive: the registry query (same checkpoint across restart,
    phase-1 file deleted) equals the batch aggregate — recovery, not
    reprocessing. Negative control: the same two-phase run with a FRESH
    checkpoint for query #2 must see ONLY phase-2 rows — proving the
    checkpoint, not the landing zone, is what carries phase-1 state."""
    import os
    import shutil
    import tempfile

    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F
    from tests.conftest import SF_DIR

    from fb_ads_bigquery_etl_spark.schema import event_ts_to_timestamp

    got = {
        r["user_id"]: (r["n_events"], r["total_value_micros"])
        for r in entry_mod.queries()["streaming_restart_recovery"](
            spark, SF_DIR
        ).collect()
    }
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ev = event_ts_to_timestamp(raw)
    want = {
        r["user_id"]: (r["n"], r["tv"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 1000000).cast("long")).alias("tv"),
        )
        .collect()
    }
    assert got == want

    # negative control: fresh checkpoint -> phase-1 contributions LOST
    landing = tempfile.mkdtemp(prefix="_restart_neg_landing_")
    stage = tempfile.mkdtemp(prefix="_restart_neg_stage_")
    ck1 = tempfile.mkdtemp(prefix="_restart_neg_ck1_")
    ck2 = tempfile.mkdtemp(prefix="_restart_neg_ck2_")
    schema = raw.schema

    def land(df, name):
        tmp = os.path.join(stage, name)
        df.coalesce(1).write.parquet(tmp)
        part = next(
            f for f in os.listdir(tmp)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        os.replace(os.path.join(tmp, part), os.path.join(landing, name))

    def drain(name, ckpt):
        s = event_ts_to_timestamp(
            spark.readStream.schema(schema).parquet(landing)
        )
        q = (
            s.groupBy("user_id")
            .agg(F.count("*").cast("long").alias("n"))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        land(raw.filter(F.col("event_id") % 2 == 0), "p0.parquet")
        drain("_neg_p1", ck1)
        os.remove(os.path.join(landing, "p0.parquet"))
        land(raw.filter(F.col("event_id") % 2 == 1), "p1.parquet")
        drain("_neg_p2", ck2)  # FRESH checkpoint: no recovered state
        phase2_only = {
            r["user_id"]: r["n"] for r in spark.table("_neg_p2").collect()
        }
        spark.catalog.dropTempView("_neg_p1")
        spark.catalog.dropTempView("_neg_p2")
    finally:
        for d in (landing, stage, ck1, ck2):
            shutil.rmtree(d, ignore_errors=True)
    total_phase2 = raw.filter(F.col("event_id") % 2 == 1).count()
    assert sum(phase2_only.values()) == total_phase2
    assert sum(n for n, _ in want.values()) > total_phase2


def test_stream_ivf_ingest_exactly_once_and_probe_equal(spark, tmp_path):
    """stream_ivf_ingest must (a) leave the drained index row-equal to
    a one-shot rebuild over the union (same frozen centroids) with
    every pre-existing file untouched, (b) be a no-op on restart with
    the same checkpoint (commit markers + file log), and (c) converge
    to the IDENTICAL file set on a full re-drain with fresh
    checkpoint+ledger — the stage-and-rename protocol republishes
    deterministic b<id>- names, so re-delivery overwrites itself."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators import similarity
    from fb_ads_bigquery_etl_spark.streaming.ingest import stream_ivf_ingest
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    path = str(tmp_path / "index")
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    similarity.build_ivf_index(base, path, centroid_mod=50)

    # two landing files -> two micro-batches at maxFilesPerTrigger=1
    for i, p in enumerate(
        (delta.filter(F.col("vec_id") % 2 == 0),
         delta.filter(F.col("vec_id") % 2 == 1))
    ):
        d = str(tmp_path / f"w{i}")
        p.coalesce(1).write.parquet(d)
        f = next(x for x in os.listdir(d) if x.endswith(".parquet"))
        shutil.copyfile(os.path.join(d, f),
                        os.path.join(landing, f"b{i}.parquet"))

    def files_of(p):
        out = set()
        for root, _, fs in os.walk(p):
            for f in fs:
                if f.endswith(".parquet"):
                    out.add(os.path.relpath(os.path.join(root, f), p))
        return out

    before = files_of(path)
    ckpt = str(tmp_path / "ckpt")
    n = stream_ivf_ingest(spark, landing, path,
                          checkpoint_path=ckpt, max_files_per_trigger=1)
    assert n >= 2
    after = files_of(path)
    assert before <= after  # nothing pre-existing touched
    assert spark.read.parquet(path).count() == emb.count()

    # (b) restart with the same checkpoint: no new files, index unchanged
    stream_ivf_ingest(spark, landing, path,
                      checkpoint_path=ckpt, max_files_per_trigger=1)
    assert files_of(path) == after

    # probe equality vs one-shot rebuild over the union (same centroids)
    qvec = list(
        emb.filter(F.col("vec_id") == 2).select("embedding").head()[0]
    )
    cents = spark.read.parquet(f"{path}_centroids")
    rebuilt = str(tmp_path / "rebuilt")
    similarity.build_ivf_index(emb, rebuilt, centroids=cents)
    got = similarity.query_ivf_index(spark, path, qvec, k=10, nprobe=2)
    want = similarity.query_ivf_index(spark, rebuilt, qvec, k=10, nprobe=2)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]

    # (c) full re-drain with fresh checkpoint + ledger: deterministic
    # names make the republish overwrite itself — identical file set
    shutil.rmtree(ckpt)
    shutil.rmtree(f"{path}_ingested")
    stream_ivf_ingest(spark, landing, path,
                      checkpoint_path=str(tmp_path / "ckpt2"),
                      max_files_per_trigger=1)
    assert files_of(path) == after
    assert spark.read.parquet(path).count() == emb.count()


def test_stream_ivfpq_ingest_exactly_once_and_probe_equal(spark, tmp_path, store):
    """stream_ivfpq_ingest must (a) drain the landing zone into the
    persisted PQ index with every pre-existing code file untouched and
    the probe equal to a one-shot rebuild over the union with the SAME
    frozen sidecars, (b) be a no-op on restart with the same
    checkpoint, (c) converge to the identical file set on a fresh-
    checkpoint re-drain, and (d) sweep stale b<id>- partials from
    EVERY bucket dir — including buckets the renumbered batch no
    longer stages into (the round-9 advisory fix)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators import similarity
    from fb_ads_bigquery_etl_spark.operators.pq import (
        build_ivfpq_index,
        load_codebooks,
        query_ivfpq_index,
    )
    from fb_ads_bigquery_etl_spark.streaming.ingest import (
        stream_ivfpq_ingest,
    )
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    path = str(tmp_path / "index")
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    cents = similarity.train_centroids_exact(base, k=16, iters=2)
    cents = cents.localCheckpoint(eager=True)
    build_ivfpq_index(base, path, in_dim=64, m=4, ksub=8, centroids=cents)
    cb = load_codebooks(spark, path)

    for i, p in enumerate(
        (delta.filter(F.col("vec_id") % 2 == 0),
         delta.filter(F.col("vec_id") % 2 == 1))
    ):
        d = str(tmp_path / f"w{i}")
        p.coalesce(1).write.parquet(d)
        f = next(x for x in os.listdir(d) if x.endswith(".parquet"))
        shutil.copyfile(os.path.join(d, f),
                        os.path.join(landing, f"b{i}.parquet"))

    def files_of(p):
        out = set()
        for root, _, fs in os.walk(p):
            for f in fs:
                if f.endswith(".parquet"):
                    out.add(os.path.relpath(os.path.join(root, f), p))
        return out

    before = files_of(path)
    ckpt = str(tmp_path / "ckpt")
    n = stream_ivfpq_ingest(spark, landing, path,
                            checkpoint_path=ckpt, max_files_per_trigger=1)
    assert n >= 2
    after = files_of(path)
    assert before <= after  # nothing pre-existing touched
    assert spark.read.parquet(path).count() == emb.count()

    # (b) restart with the same checkpoint: no new files
    stream_ivfpq_ingest(spark, landing, path,
                        checkpoint_path=ckpt, max_files_per_trigger=1)
    assert files_of(path) == after

    # (a) probe equality vs one-shot rebuild, same frozen sidecars
    qvec = list(
        emb.filter(F.col("vec_id") == 7).select("embedding").head()[0]
    )
    rebuilt = str(tmp_path / "rebuilt")
    build_ivfpq_index(
        emb, rebuilt, in_dim=64, m=4, ksub=8, centroids=cents, codebooks=cb
    )
    got = query_ivfpq_index(
        spark, path, qvec, k=10, nprobe=2, expand=10, rerank_src=emb
    )
    want = query_ivfpq_index(
        spark, rebuilt, qvec, k=10, nprobe=2, expand=10, rerank_src=emb
    )
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]

    # (d) plant a stale b0- partial in a bucket dir, then (c) re-drain
    # with fresh checkpoint + ledger: the all-bucket sweep removes it
    # and the deterministic republish converges to the same file set
    some_bucket = next(
        d for d in sorted(os.listdir(path)) if d.startswith("bucket=")
    )
    stale = os.path.join(path, some_bucket, "b0-stale.parquet")
    with open(stale, "wb") as fh:
        fh.write(b"not a real parquet partial")
    shutil.rmtree(ckpt)
    shutil.rmtree(f"{path}_ingested")
    stream_ivfpq_ingest(spark, landing, path,
                        checkpoint_path=str(tmp_path / "ckpt2"),
                        max_files_per_trigger=1)
    assert not os.path.exists(stale)
    assert files_of(path) == after
    assert spark.read.parquet(path).count() == emb.count()


def test_stream_ivfpq_ingest_refuses_tombstoned_ids(spark, tmp_path):
    """The streaming path enforces the same re-add guard as the batch
    append: a landing file carrying a currently-tombstoned id must
    fail the drain with the explicit compact-first error instead of
    silently publishing rows the probes would hide."""
    import os
    import shutil

    import pytest as _pytest
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators import similarity
    from fb_ads_bigquery_etl_spark.operators.pq import (
        build_ivfpq_index,
        delete_from_ivfpq_index,
    )
    from fb_ads_bigquery_etl_spark.streaming.ingest import (
        stream_ivfpq_ingest,
    )
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "index")
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    cents = similarity.train_centroids_exact(emb, k=16, iters=2)
    cents = cents.localCheckpoint(eager=True)
    build_ivfpq_index(emb, path, in_dim=64, m=4, ksub=8, centroids=cents)
    victim = emb.filter(F.col("vec_id") == 5)
    delete_from_ivfpq_index(spark, victim.select("vec_id"), path)

    d = str(tmp_path / "w0")
    victim.coalesce(1).write.parquet(d)
    f = next(x for x in os.listdir(d) if x.endswith(".parquet"))
    shutil.copyfile(os.path.join(d, f), os.path.join(landing, "b0.parquet"))

    with _pytest.raises(Exception, match="tombstoned"):
        stream_ivfpq_ingest(
            spark, landing, path,
            checkpoint_path=str(tmp_path / "ckpt"),
        )
