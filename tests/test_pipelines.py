"""ETL surface tests: pipelines (EP1-EP3), sinks, flatten semantics,
dedup properties — the reference behaviors SURVEY.md §2/§5 pins.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from fb_ads_bigquery_etl_spark import pipelines
from fb_ads_bigquery_etl_spark.operators.dedup import dedup_keep_first, with_ingest_order
from fb_ads_bigquery_etl_spark.operators.normalize import flatten_insights
from fb_ads_bigquery_etl_spark.schema import DEDUP_KEY, RAW_INSIGHTS_SCHEMA
from fb_ads_bigquery_etl_spark.sinks import (
    append_with_schema_evolution,
    read_csv_inferred,
    read_table,
)

KEY = list(DEDUP_KEY)


def _raw_row(
    campaign="c1",
    ad="a1",
    platform="facebook",
    day="2026-01-15",
    impressions="100",
    video_p25=None,
    actions=None,
    order=0,
):
    return (
        campaign,
        ad,
        platform,
        impressions,
        "5",
        "1.25",
        day,
        day,
        None,
        None,
        None,
        video_p25,
        None,
        None,
        None,
        actions,
        None,
        f"acct_{order}",
    )


def test_run_daily_end_to_end(spark, tmp_path):
    table = str(tmp_path / "tbl")
    rep = pipelines.run_daily(
        spark,
        accounts=["a", "b"],
        run_date="2026-01-15",
        table_path=table,
    )
    assert rep.status == "success" and rep.rows_processed > 0
    assert glob.glob(os.path.join(table, "date_start=2026-01-15"))
    df = spark.read.parquet(table)
    assert df.count() == df.select(*KEY).distinct().count()  # dedup holds


def test_run_daily_dry_run_writes_nothing(spark, tmp_path):
    table = str(tmp_path / "tbl")
    rep = pipelines.run_daily(
        spark, accounts=["a"], run_date="2026-01-15", table_path=table, dry_run=True
    )
    assert rep.status == "dry_run" and rep.rows_processed > 0
    assert not os.path.exists(table)


def test_error_isolation_degrades_failed_account(spark, tmp_path):
    good = pipelines.run_daily(
        spark,
        accounts=["a", "b"],
        run_date="2026-01-15",
        table_path=str(tmp_path / "t1"),
    )
    with_bad = pipelines.run_daily(
        spark,
        accounts=["a", "b", "bad"],
        run_date="2026-01-15",
        table_path=str(tmp_path / "t2"),
        fail_accounts="bad",
    )
    # the failing account contributes nothing; the job still succeeds
    assert with_bad.status == "success"
    assert with_bad.rows_processed == good.rows_processed

    with pytest.raises(Exception, match="simulated auth error"):
        pipelines.run_daily(
            spark,
            accounts=["a", "bad"],
            run_date="2026-01-15",
            table_path=str(tmp_path / "t3"),
            fail_accounts="bad",
            error_isolation="false",
        )


def test_backfill_csv_range_guard(spark, tmp_path):
    csv_dir = str(tmp_path / "bf.csv")
    rep = pipelines.backfill(
        spark,
        accounts=["a"],
        start_date="2026-01-10",
        end_date="2026-01-12",
        csv_path=csv_dir,
    )
    assert rep.status == "success" and rep.rows_processed > 0
    back = read_csv_inferred(spark, csv_dir)
    assert back.count() == rep.rows_processed
    dates = [str(r[0]) for r in back.select("date_start").distinct().collect()]
    assert all("2026-01-10" <= d <= "2026-01-12" for d in dates)


def test_load_csv_append_duplicates_upsert_idempotent(spark, tmp_path):
    csv_dir = str(tmp_path / "bf.csv")
    pipelines.backfill(
        spark, accounts=["a"], start_date="2026-01-10", end_date="2026-01-10",
        csv_path=csv_dir,
    )
    n = read_csv_inferred(spark, csv_dir).count()

    # reference behavior: blind append duplicates on reload (SURVEY §3 EP3)
    ap = str(tmp_path / "append_tbl")
    pipelines.load_csv(spark, csv_dir, ap)
    pipelines.load_csv(spark, csv_dir, ap)
    appended = spark.read.parquet(ap)
    assert appended.count() == 2 * n
    # ...and Q1's SELECT DISTINCT * recovers exactly the originals
    assert appended.distinct().count() == n

    # MERGE fix: reload is idempotent on the canonical key
    up = str(tmp_path / "upsert_tbl")
    pipelines.load_csv(spark, csv_dir, up, upsert=True)
    pipelines.load_csv(spark, csv_dir, up, upsert=True)
    assert spark.read.parquet(up).count() == n


def test_schema_evolution_typing_rule(spark, tmp_path):
    table = str(tmp_path / "tbl")
    pipelines.run_daily(
        spark, accounts=["a"], run_date="2026-01-15", table_path=table
    )
    base = spark.read.parquet(table)
    # a newly discovered action metric arrives as a numeric string
    evolved_in = base.withColumn("brand_lift", F.lit("0.5"))
    # unknown columns evolve as DOUBLE (STRING only for the known name
    # list) — reference main.py:427-434
    append_with_schema_evolution(spark, evolved_in, table)
    out = read_table(spark, table)
    types = dict(out.dtypes)
    assert types["brand_lift"] == "double"
    # old rows read as NULL for the evolved column (mergeSchema union)
    assert out.filter(F.col("brand_lift").isNull()).count() == base.count()


def test_flatten_metric_and_action_semantics(spark):
    raw = spark.createDataFrame(
        [
            _raw_row(
                video_p25=[{"value": "7"}],
                actions=[
                    {"action_type": "offsite_conversion.fb_pixel_lead", "value": "3"},
                ],
            ),
            _raw_row(ad="a2", video_p25=[], actions=None),  # empty wrapper + no actions
        ],
        RAW_INSIGHTS_SCHEMA,
    )
    flat = flatten_insights(raw)
    rows = {r["ad_name"]: r for r in flat.collect()}
    # [{value:7}] -> 7 ; [] -> 0 (guarded extract, backfill.py:126-133)
    assert rows["a1"]["video_p25_watched_actions"] == 7
    assert rows["a2"]["video_p25_watched_actions"] == 0
    # dot-sanitized pivot column, zero-filled where absent (main.py:383-391)
    assert rows["a1"]["offsite_conversion_fb_pixel_lead"] == 3.0
    assert rows["a2"]["offsite_conversion_fb_pixel_lead"] == 0.0


def test_dedup_keep_first_semantics_and_idempotence(spark):
    rows = [
        ("c", "a", "2026-01-01", "facebook", 10.0, 1),
        ("c", "a", "2026-01-01", "facebook", 99.0, 2),  # dup key, later arrival
        ("c", "a", "2026-01-02", "facebook", 5.0, 3),
    ]
    df = spark.createDataFrame(
        rows, ["campaign_name", "ad_name", "date_start", "publisher_platform", "spend", "_ingest_order"]
    )
    once = dedup_keep_first(df)
    assert {r["spend"] for r in once.collect()} == {10.0, 5.0}  # first wins
    twice = dedup_keep_first(once)
    assert sorted(once.collect()) == sorted(twice.collect())  # idempotent


def test_with_ingest_order_monotone_within_partition(spark):
    df = with_ingest_order(spark.range(100).repartition(4))
    assert df.select(F.countDistinct("_ingest_order")).head()[0] == 100


def test_overwrite_partitions_is_surgical_and_idempotent(spark, tmp_path):
    from fb_ads_bigquery_etl_spark.sinks import overwrite_partitions

    table = str(tmp_path / "ow")
    base = spark.createDataFrame(
        [("c", "a1", "2026-01-01", "fb", 10), ("c", "a1", "2026-01-02", "fb", 20)],
        "campaign_name string, ad_name string, date_start string, "
        "publisher_platform string, impressions long",
    )
    base.write.partitionBy("date_start").parquet(table)

    # re-run day 2 with corrected data (+ a duplicate-shaped change)
    fixed = spark.createDataFrame(
        [("c", "a1", "2026-01-02", "fb", 99)],
        "campaign_name string, ad_name string, date_start string, "
        "publisher_platform string, impressions long",
    )
    overwrite_partitions(fixed, table)
    overwrite_partitions(fixed, table)  # idempotent re-run

    got = {
        str(r["date_start"]): r["impressions"]
        for r in spark.read.parquet(table).collect()
    }
    assert got == {"2026-01-01": 10, "2026-01-02": 99}


def test_compact_partition_reduces_files_preserves_rows(spark, tmp_path):
    from fb_ads_bigquery_etl_spark.sinks import compact_partition

    table = str(tmp_path / "cp")
    df = spark.range(1000).select(
        F.col("id"),
        F.lit("2026-01-01").alias("date_start"),
    )
    # simulate many tiny appends
    for _ in range(5):
        df.repartition(8).write.mode("append").partitionBy("date_start").parquet(table)
    part = os.path.join(table, "date_start=2026-01-01")
    before = len([f for f in os.listdir(part) if f.endswith(".parquet")])
    assert before >= 40

    after = compact_partition(spark, table, "2026-01-01")
    assert after == 1
    got = spark.read.parquet(table)
    assert got.count() == 5000
    assert got.filter(F.col("date_start") == "2026-01-01").count() == 5000


def test_maintain_table_compacts_and_audits(spark, tmp_path):
    table = str(tmp_path / "mt")
    rep = pipelines.run_daily(
        spark, accounts=["a", "b"], run_date="2026-01-15", table_path=table
    )
    assert rep.status == "success"
    # fragment the partition with little appends
    df = spark.read.parquet(table)
    for _ in range(3):
        df.limit(0).write.mode("append").partitionBy("date_start").parquet(table)

    rep2 = pipelines.maintain_table(spark, table)
    assert rep2.status == "success"
    assert "0 duplicate keys" in rep2.message
    part = os.path.join(table, "date_start=2026-01-15")
    assert len([f for f in os.listdir(part) if f.endswith(".parquet")]) == 1
    assert spark.read.parquet(table).count() == rep2.rows_processed


@pytest.mark.parametrize("table", ["null_key_part", "empty"])
def test_maintain_table_counts_rows_in_its_audit_scan(spark, tmp_path, monkeypatch, table):
    """maintain_table's row count comes from its duplicate-key audit
    (n_keys + excess rows), so after compaction the audit is the one
    scan it runs: on a table whose key has a null part (nulls group as
    one key) and on an empty table (no excess rows at all)."""
    from fb_ads_bigquery_etl_spark import sinks
    from fb_ads_bigquery_etl_spark.operators.quality import duplicate_key_count
    from tests.conftest import jobs_run_by

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("c1", "a1", "2026-01-15", "facebook", 1),
         ("c1", "a1", "2026-01-15", "facebook", 2),
         ("c1", None, "2026-01-15", "facebook", 3),
         ("c1", None, "2026-01-15", "facebook", 4),
         ("c2", None, "2026-01-16", "instagram", 5)],
        ", ".join(f"{k} string" for k in KEY) + ", v int",
    )
    if table == "empty":
        df.limit(0).write.parquet(path)
    else:
        df.write.partitionBy("date_start").parquet(path)

    rep = pipelines.maintain_table(spark, path)
    assert rep.rows_processed == read_table(spark, path).count()
    assert rep.rows_processed == (0 if table == "empty" else 5)

    # compaction stubbed out, the call's jobs are the audit's alone
    monkeypatch.setattr(sinks, "compact_partition", lambda *a, **k: 1)
    sc = spark.sparkContext
    _, n_call = jobs_run_by(
        sc, f"maintain_{table}", lambda: pipelines.maintain_table(spark, path)
    )
    _, n_audit = jobs_run_by(
        sc, f"audit_{table}",
        lambda: duplicate_key_count(spark.read.parquet(path), KEY).collect(),
    )
    assert n_call == n_audit, (n_call, n_audit)


def test_run_daily_reads_source_exactly_once(spark, tmp_path):
    # 2 accounts x 1 day x 3 pages (25 rows / page_size 10) = 6 fetches
    # for a single execution; a recompute-for-count would double it.
    log = str(tmp_path / "fetch.log")
    rep = pipelines.run_daily(
        spark,
        accounts=["a", "b"],
        run_date="2026-01-15",
        table_path=str(tmp_path / "t"),
        fetch_log=log,
    )
    assert rep.status == "success"
    with open(log) as fh:
        fetches = fh.read().splitlines()
    assert len(fetches) == 6, fetches


def test_backfill_single_execution_with_both_sinks(spark, tmp_path):
    log = str(tmp_path / "fetch.log")
    rep = pipelines.backfill(
        spark,
        accounts=["a"],
        start_date="2026-01-10",
        end_date="2026-01-11",
        csv_path=str(tmp_path / "bf.csv"),
        table_path=str(tmp_path / "t"),
        fetch_log=log,
    )
    assert rep.status == "success"
    assert rep.rows_processed > 0
    with open(log) as fh:
        fetches = fh.read().splitlines()
    # 1 account x 2 days x 3 pages = 6 fetches despite THREE consumers
    # (csv sink, merge_upsert discovery+write, row count).
    assert len(fetches) == 6, fetches


def test_resolve_latest_file(spark, tmp_path):
    for name in ["backfill_2026-01-01_to_2026-01-05.csv",
                 "backfill_2026-02-01_to_2026-02-03.csv",
                 "backfill_2025-12-01_to_2025-12-31.csv",
                 "unrelated.csv"]:
        (tmp_path / name).write_text("x")
    latest = pipelines.resolve_latest_file(spark, str(tmp_path))
    assert latest.endswith("backfill_2026-02-01_to_2026-02-03.csv")
    with pytest.raises(FileNotFoundError):
        pipelines.resolve_latest_file(spark, str(tmp_path), pattern="nope_*.csv")


def test_parse_table_identifier():
    assert pipelines.parse_table_identifier("ads.ad_data") == (
        "spark_catalog", "ads", "ad_data")
    assert pipelines.parse_table_identifier("prod.ads.ad_data") == (
        "prod", "ads", "ad_data")
    for bad in ["ad_data", "a.b.c.d", "a..c"]:
        with pytest.raises(ValueError):
            pipelines.parse_table_identifier(bad)


def test_load_csv_resolves_latest_artifact(spark, tmp_path):
    art = tmp_path / "artifacts"
    art.mkdir()
    pipelines.backfill(
        spark,
        accounts=["a"],
        start_date="2026-01-10",
        end_date="2026-01-10",
        csv_path=str(art / "backfill_2026-01-10_to_2026-01-10.csv"),
    )
    rep = pipelines.load_csv(
        spark, None, str(tmp_path / "t"), artifact_dir=str(art))
    assert rep.status == "success"
    assert rep.rows_processed > 0
    assert "backfill_2026-01-10" in rep.message


def test_run_daily_resolves_credentials_on_driver(spark, tmp_path):
    from fb_ads_bigquery_etl_spark.sources.fb_source import (
        FakeTokenService,
        InMemorySecretStore,
        RefreshingTokenProvider,
    )

    now = 1_700_000_000
    store = InMemorySecretStore({"fb-ads-token": "tok0"})
    service = FakeTokenService({"tok0": now + 86400})  # 1 day to expiry
    rep = pipelines.run_daily(
        spark,
        accounts=["a"],
        run_date="2026-01-15",
        table_path=str(tmp_path / "t"),
        credentials=RefreshingTokenProvider(store, service, now_fn=lambda: now),
    )
    assert rep.status == "success" and rep.rows_processed > 0
    # the provider refreshed and wrote back before the job planned
    assert service.exchanges == 1
    assert store.get_secret("fb-ads-token") != "tok0"


def test_incremental_rollup_matches_full_recompute(spark, tmp_path):
    from fb_ads_bigquery_etl_spark import analytics

    fact_path, rollup_path = str(tmp_path / "fact"), str(tmp_path / "rollup")
    rows = [
        ("2026-01-05", 10, 1.0), ("2026-01-20", 20, 2.0),
        ("2026-02-03", 30, 3.0), ("2026-03-11", 40, 4.0),
    ]
    df = spark.createDataFrame(rows, "date_start string, impressions long, spend double")
    df.write.partitionBy("date_start").parquet(fact_path)

    # initial build: all months
    analytics.incremental_rollup(
        spark, fact_path, rollup_path,
        changed_dates=[r[0] for r in rows],
    )
    # a backfill changes one January day -> only 2026-01 recomputed
    extra = spark.createDataFrame(
        [("2026-01-05", 5, 0.5)], "date_start string, impressions long, spend double"
    )
    extra.write.mode("append").partitionBy("date_start").parquet(fact_path)
    months = analytics.incremental_rollup(
        spark, fact_path, rollup_path, changed_dates=["2026-01-05"]
    )
    assert months == ["2026-01-01"]

    got = {
        # the partition column reads back type-inferred as DATE
        str(r["month"]): (r["row_count"], r["total_impressions"], float(r["total_spend"]))
        for r in spark.read.parquet(rollup_path).collect()
    }
    assert got == {
        "2026-01-01": (3, 35, 3.5),
        "2026-02-01": (1, 30, 3.0),
        "2026-03-01": (1, 40, 4.0),
    }
    # idempotent re-run
    analytics.incremental_rollup(
        spark, fact_path, rollup_path, changed_dates=["2026-01-05"]
    )
    assert spark.read.parquet(rollup_path).count() == 3

    # the month filter must prune the fact scan to January's partitions
    # (raw-column ranges, not an expression over the partition column)
    fact = spark.read.parquet(fact_path)
    pred = (F.col("date_start") >= "2026-01-01") & (
        F.col("date_start") < "2026-02-01"
    )
    plan = fact.filter(pred)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "2026-01-01" in plan


def test_incremental_rollup_retraction_deletes_stale_month(spark, tmp_path):
    """A changed month whose fact rows are ALL gone (retraction/delete
    backfill) must lose its rollup partition — dynamic partition
    overwrite alone would keep the stale aggregate forever."""
    import shutil

    from fb_ads_bigquery_etl_spark import analytics

    fact_path, rollup_path = str(tmp_path / "fact"), str(tmp_path / "rollup")
    df = spark.createDataFrame(
        [("2026-01-05", 10, 1.0), ("2026-02-03", 30, 3.0)],
        "date_start string, impressions long, spend double",
    )
    df.write.partitionBy("date_start").parquet(fact_path)
    analytics.incremental_rollup(
        spark, fact_path, rollup_path,
        changed_dates=["2026-01-05", "2026-02-03"],
    )
    assert spark.read.parquet(rollup_path).count() == 2

    # retraction: February's only fact partition is deleted
    shutil.rmtree(tmp_path / "fact" / "date_start=2026-02-03")
    months = analytics.incremental_rollup(
        spark, fact_path, rollup_path, changed_dates=["2026-02-03"]
    )
    assert months == ["2026-02-01"]
    left = spark.read.parquet(rollup_path).collect()
    assert [str(r["month"]) for r in left] == ["2026-01-01"]
    assert (left[0]["row_count"], left[0]["total_impressions"]) == (1, 10)


def test_scd2_apply_tracks_history(spark, tmp_path):
    from fb_ads_bigquery_etl_spark.sinks import scd2_apply

    path = str(tmp_path / "dim_customer")
    day1 = spark.createDataFrame(
        [(1, "alice", "GOLD"), (2, "bob", "SILVER")],
        "cust_id long, name string, tier string",
    )
    cur = scd2_apply(
        spark, day1, path, key=("cust_id",), tracked=("name", "tier"),
        effective_date="2026-01-01",
    )
    assert cur.count() == 2

    # day 2: alice upgraded, bob unchanged, carol new
    day2 = spark.createDataFrame(
        [(1, "alice", "PLATINUM"), (2, "bob", "SILVER"), (3, "carol", "GOLD")],
        "cust_id long, name string, tier string",
    )
    cur = scd2_apply(
        spark, day2, path, key=("cust_id",), tracked=("name", "tier"),
        effective_date="2026-02-01",
    )
    rows = {r["cust_id"]: r for r in cur.collect()}
    assert rows[1]["tier"] == "PLATINUM" and str(rows[1]["valid_from"]) == "2026-02-01"
    # unchanged bob keeps his ORIGINAL valid_from
    assert rows[2]["tier"] == "SILVER" and str(rows[2]["valid_from"]) == "2026-01-01"
    assert rows[3]["tier"] == "GOLD"

    hist = spark.read.parquet(path)
    closed = {r["cust_id"]: r for r in hist.filter("state = 'closed'").collect()}
    assert set(closed) == {1}
    assert str(closed[1]["valid_to"]) == "2026-02-01" and closed[1]["tier"] == "GOLD"

    # idempotent: re-applying the same snapshot changes nothing
    cur = scd2_apply(
        spark, day2, path, key=("cust_id",), tracked=("name", "tier"),
        effective_date="2026-02-01",
    )
    assert cur.count() == 3
    assert spark.read.parquet(path).filter("state = 'closed'").count() == 1


def test_merge_upsert_engine_dispatch(spark, tmp_path):
    """This container has no delta-spark: the probe must say so, 'auto'
    must take the parquet fallback (idempotent, updates-win), and
    engine='delta' must fail loudly rather than silently degrade."""
    from fb_ads_bigquery_etl_spark import sinks

    assert sinks.delta_available(spark) is False

    df = spark.createDataFrame(
        [("c1", "a1", "2026-01-10", "facebook", 1.0)],
        "campaign_name string, ad_name string, date_start string, "
        "publisher_platform string, spend double",
    )
    path = str(tmp_path / "merge_tbl")
    sinks.merge_upsert(spark, df, path)  # auto -> parquet fallback
    updated = df.withColumn("spend", F.lit(2.0))
    sinks.merge_upsert(spark, updated, path)
    rows = sinks.read_table(spark, path).collect()
    assert len(rows) == 1 and rows[0]["spend"] == 2.0  # updates win

    with pytest.raises(RuntimeError, match="delta"):
        sinks.merge_upsert(spark, df, path, engine="delta")
    with pytest.raises(ValueError):
        sinks.merge_upsert(spark, df, path, engine="iceberg")


def test_merge_upsert_of_an_empty_batch_writes_nothing(spark, tmp_path):
    """An empty batch is a no-op: into a missing path it creates no
    table (and does not fail reading one), into an existing table it
    leaves every row as it was."""
    from fb_ads_bigquery_etl_spark import sinks

    schema = (
        "campaign_name string, ad_name string, date_start string, "
        "publisher_platform string, spend double"
    )
    df = spark.createDataFrame([("c1", "a1", "2026-01-10", "facebook", 1.0)], schema)
    empty = spark.createDataFrame([], schema)

    missing = tmp_path / "never_written"
    sinks.merge_upsert(spark, empty, str(missing))
    assert not missing.exists()

    path = str(tmp_path / "merge_tbl")
    sinks.merge_upsert(spark, df, path)
    before = sorted(sinks.read_table(spark, path).collect())
    sinks.merge_upsert(spark, empty, path)
    assert sorted(sinks.read_table(spark, path).collect()) == before


def test_run_streaming_drains_and_is_exactly_once(spark, tmp_path):
    """Streaming ingest == batch backfill content; re-running with the
    same checkpoint re-delivers nothing; extending end_date with the
    same checkpoint ingests only the new days."""
    table = str(tmp_path / "stream_tbl")
    ckpt = str(tmp_path / "ckpt")
    rep = pipelines.run_streaming(
        spark,
        accounts=["acct_a", "acct_b"],
        start_date="2026-01-10",
        end_date="2026-01-11",
        table_path=table,
        checkpoint_path=ckpt,
    )
    assert rep.status == "success" and rep.rows_processed > 0
    got = spark.read.parquet(table)
    n0 = got.count()
    assert got.select(*DEDUP_KEY).distinct().count() == n0  # keyed, deduped
    days = {str(r[0]) for r in got.select("date_start").distinct().collect()}
    assert days == {"2026-01-10", "2026-01-11"}

    # same checkpoint, same range: nothing re-delivered
    pipelines.run_streaming(
        spark,
        accounts=["acct_a", "acct_b"],
        start_date="2026-01-10",
        end_date="2026-01-11",
        table_path=table,
        checkpoint_path=ckpt,
    )
    assert spark.read.parquet(table).count() == n0

    # extended range, same checkpoint: only the new day arrives
    pipelines.run_streaming(
        spark,
        accounts=["acct_a", "acct_b"],
        start_date="2026-01-10",
        end_date="2026-01-12",
        table_path=table,
        checkpoint_path=ckpt,
    )
    after = spark.read.parquet(table)
    days2 = {str(r[0]) for r in after.select("date_start").distinct().collect()}
    assert days2 == {"2026-01-10", "2026-01-11", "2026-01-12"}
    assert after.count() > n0
    assert after.select(*DEDUP_KEY).distinct().count() == after.count()


def test_csv_dataset_roundtrip_embedded_newlines(spark, tmp_path):
    """Text cells containing newlines/quotes/commas must survive a CSV
    write→read cycle as one row each (round-5 ADVICE: read_csv_dataset
    needed multiLine + escape to reassemble quoted multi-line fields)."""
    from fb_ads_bigquery_etl_spark.sinks import read_csv_dataset, write_csv_dataset

    rows = [
        (1, 'line one\nline two', "plain"),
        (2, 'quote " and, comma', "x,y"),
        (3, "trailing newline\n", ""),
    ]
    df = spark.createDataFrame(rows, ["id", "body", "tag"])
    path = str(tmp_path / "csv_nl")
    write_csv_dataset(df, path)
    back = read_csv_dataset(spark, path)
    got = {r["id"]: (r["body"], r["tag"]) for r in back.collect()}
    assert len(got) == 3
    assert got[1] == ("line one\nline two", "plain")
    assert got[2] == ('quote " and, comma', "x,y")
    assert got[3][0] == "trailing newline\n"
