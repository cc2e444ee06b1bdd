"""Local replica of the driver's correctness gate: every queries() entry
must match its oracle_sql() on DuckDB, bit-exactly, at the test SF."""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_DIR, assert_frames_match

QUERY_NAMES = sorted(entry_mod.queries())

# Approximate-by-design operators: results are engine-specific sketches,
# so the driver records the weaker rows-only check for these. Must stay
# equal to __spark_entry__._NO_ORACLE_BY_DESIGN — anything else missing
# an oracle is a bug (kmeans_clusters left this set when its quantized
# variant gained a full unrolled-CTE oracle in round 3; approx_distinct
# left in round 5 via its tolerance-band verdict columns).
ROWS_ONLY: set[str] = set()


def test_rows_only_set_matches_registry_declaration():
    assert ROWS_ONLY == entry_mod._NO_ORACLE_BY_DESIGN


def test_every_query_has_oracle():
    missing = set(entry_mod.queries()) - set(entry_mod.oracle_sql()) - ROWS_ONLY
    assert not missing, f"queries without oracle SQL: {missing}"


# The driver's value-hasher canonicalizes DuckDB's int128 (HUGEINT)
# differently from Spark's int64, so an oracle emitting an uncast
# integer SUM(...) — which DuckDB types as HUGEINT — hash-mismatches
# even when every value is equal (round-4 postmortem: 6 such failures,
# perfectly discriminated by this type). The local parity gate masks it
# because _normalize casts everything to int64; this plan-only DESCRIBE
# gate catches it before an entry ever reaches the driver window.
_BANNED_DUCK_TYPES = ("HUGEINT", "UHUGEINT")


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_oracle_emits_no_int128_columns(duck, name):
    sql = entry_mod.oracle_sql().get(name)
    if sql is None:
        pytest.skip(f"{name}: declared non-SQL-expressible (rows-only check)")
    desc = duck.execute(f"DESCRIBE {sql}").fetchall()
    bad = [
        (col, typ)
        for col, typ, *_ in desc
        if any(b in typ.upper() for b in _BANNED_DUCK_TYPES)
    ]
    assert not bad, (
        f"{name}: oracle emits driver-unhashable int128 column(s) {bad}; "
        "wrap the aggregate in CAST(... AS BIGINT)"
    )


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql().get(name)
    if sql is None:
        pytest.skip(f"{name}: declared non-SQL-expressible (rows-only check)")
    spark_pdf = q(spark, SF_DIR).toPandas()
    duck_pdf = duck.execute(sql).df()
    assert_frames_match(spark_pdf, duck_pdf, name)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns


@pytest.mark.parametrize("init_from", [None, "prev_c2"])
def test_trained_cents_cte_chain_is_materialized(init_from):
    """DuckDB 1.0 re-expands a non-materialized CTE at every reference;
    the unrolled Lloyd chain reads each c{i-1} twice, so inlined it grows
    multiplicatively (the ivfpq_bucket_merge oracle ran out of memory).
    Plain text check: on a box with more memory the inlined oracle may
    only be slow, which the parity test would not flag."""
    sql = entry_mod._trained_cents_cte(16, 2, init_from=init_from)
    decls = re.findall(r"(\w+) AS (MATERIALIZED )?\(", sql)
    names = [n for n, _ in decls]
    assert names == [
        "tx", "tc0", "ta1", "ts1", "tn1", "tc1", "ta2", "ts2", "tn2", "tc2",
        "cents",
    ]
    plain = [n for n, mat in decls if not mat]
    assert not plain, f"CTEs not declared AS MATERIALIZED: {plain}"
