"""Replicates the driver's correctness gate locally: every queries()
entry runs on Spark at sf0.01 and is compared against oracle_sql() via
DuckDB using the DRIVER-FAITHFUL canon (graphblast_spark.contract):
pandas on both sides, full-precision per-dtype strings, dtype-kind
mismatches (HUGEINT→float64 vs bigint) and non-scalar output columns
are hard failures. Round 4's four driver FAILs — all invisible to the
old fetchall()+%.6g canon — are the regression this pins."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from graphblast_spark.contract import compare, spark_schema_violations

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


ALL = sorted(entrymod.queries().keys())


@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(spark, ddb, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)

    # scalar-only contract rule: the driver's pandas canonicalizer
    # crashes on array/map/struct/binary cells (r4 m_byte_hist)
    bad = spark_schema_violations(sdf)
    assert not bad, f"{name}: non-scalar output columns {bad}"

    spdf = sdf.toPandas()

    sql = entrymod.oracle_sql().get(name)
    if sql is None:
        assert len(spdf) >= 0  # rows-only check (driver's weak mode)
        return

    opdf = ddb.execute(sql).df()
    ok, detail = compare(spdf, opdf)
    assert ok, f"{name}:{detail}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["id", "pagerank"]


def test_oracle_coverage():
    """Every contract query has an oracle (or is a documented weak row)."""
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    missing = sorted(set(qs) - set(oracles))
    assert missing == [], f"queries without oracle_sql: {missing}"
    extra = sorted(set(oracles) - set(qs))
    assert extra == [], f"oracles without queries entry: {extra}"


def test_stale_first_orders_fail_then_oldest_pass(tmp_path):
    """Failing and never-attested queries lead; passes follow by their
    last attested round; registry order breaks ties."""
    import json

    ok = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    bad_hash = {**ok, "hash_match": False}
    errored = {**ok, "err": "boom"}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(
        {"a": ok, "b": ok, "c": bad_hash, "d": ok, "e": ok}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(
        {"queries": {"a": ok, "c": ok, "d": errored}}))
    reg = {k: k for k in ["a", "b", "c", "d", "e", "never"]}
    order = list(entrymod._stale_first(reg, root=str(tmp_path)))
    # d failed in r02 (its latest round) and "never" has no row: both
    # first; then passes oldest-first: b, e (r01) before a, c (r02) —
    # c's r01 hash failure is superseded by its r02 pass
    assert order == ["never", "d", "b", "e", "a", "c"]
