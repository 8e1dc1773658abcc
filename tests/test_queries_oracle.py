"""Every registered query with an oracle must match DuckDB on sf0.001.

This mirrors the driver's correctness gate (t2 runs at sf0.01; we use
sf0.001 for speed and rely on the driver for the larger run).
"""

from __future__ import annotations

import pytest

from kdcloganalyzer_spark.plans import registry

registry.load_all()


@pytest.fixture(scope="module")
def con(sf_dir):
    from tests.oracle_compare import duckdb_con

    return duckdb_con(sf_dir)


def _oracle_sql_for(qid: str, sf_dir: str) -> str:
    """Per-sf oracle path rewrite; implementation shared with the CLI
    ``verify`` subcommand (kdcloganalyzer_spark/oracle.py)."""
    from kdcloganalyzer_spark.oracle import oracle_sql_for

    return oracle_sql_for(qid, sf_dir)


@pytest.mark.parametrize("qid", sorted(registry.ORACLES))
def test_oracle_match(qid, spark, sf_dir, con):
    from tests.oracle_compare import compare

    df = registry.QUERIES[qid](spark, sf_dir)
    ok, msg = compare(df, con, _oracle_sql_for(qid, sf_dir))
    assert ok, f"{qid}: {msg}"


@pytest.mark.parametrize("qid", sorted(registry.QUERIES))
def test_query_runs(qid, spark, sf_dir):
    df = registry.QUERIES[qid](spark, sf_dir)
    assert df.count() >= 0


def test_oracle_compare_detects_mismatches(spark, sf_dir):
    """Guard the comparator itself: the gate's PASS means nothing
    unless compare() FAILS on wrong row counts, wrong values, and
    wrong column sets."""
    from tests.oracle_compare import compare, duckdb_con

    con = duckdb_con(sf_dir)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    ok, _ = compare(df, con, "SELECT * FROM (VALUES (1,'a'),(2,'b')) t(k,v)")
    assert ok
    bad_count = "SELECT * FROM (VALUES (1,'a')) t(k, v)"
    ok, why = compare(df, con, bad_count)
    assert not ok and "row count" in why
    bad_value = "SELECT * FROM (VALUES (1,'a'),(2,'X')) t(k, v)"
    ok, why = compare(df, con, bad_value)
    assert not ok and "values differ" in why
    bad_cols = "SELECT * FROM (VALUES (1,'a'),(2,'b')) t(k, wrong)"
    ok, why = compare(df, con, bad_cols)
    assert not ok and "column mismatch" in why


def test_oracle_compare_detects_hugeint_type_leak(spark, sf_dir):
    """The CORRECTNESS_r07 postmortem: DuckDB turns HUGEINT (any uncast
    integer sum() arithmetic) and DECIMAL into float64 on the pandas
    fetch path the correctness gate uses, while fetchall() returns Python ints —
    so a fetchall()-based local verify shipped 9 gate hash-FAILs as
    green. compare() now fetches via .df() and must FAIL any oracle
    whose column is float on that path while the Spark side is
    integral, even when the VALUES agree numerically."""
    from tests.oracle_compare import compare, duckdb_con

    con = duckdb_con(sf_dir)
    df = spark.createDataFrame([(1, 2000000)], "k long, v long")
    leaking = (
        "SELECT CAST(1 AS BIGINT) AS k, sum(x) * 2 AS v "
        "FROM (SELECT 1000000 AS x) t"
    )
    ok, why = compare(df, con, leaking)
    assert not ok and "type leak" in why
    cast_fixed = (
        "SELECT CAST(1 AS BIGINT) AS k, "
        "CAST(sum(x) * 2 AS BIGINT) AS v FROM (SELECT 1000000 AS x) t"
    )
    ok, why = compare(df, con, cast_fixed)
    assert ok, why
    # DECIMAL leaks the same way (it is why fn_decimal_suite emits
    # canonical money strings instead of a DECIMAL column)
    dfd = spark.createDataFrame([(1,)], "k long").selectExpr(
        "k", "CAST(1.25 AS DECIMAL(10,2)) AS v"
    )
    ok, why = compare(dfd, con, "SELECT CAST(1 AS BIGINT) AS k, 1.25::DECIMAL(10,2) AS v")
    assert not ok and "type leak" in why


def test_oracle_compare_strict_mode(spark, sf_dir):
    """ADVICE r8: the pandas fetch path collapses SQL NULL and float NaN
    (both engines), and exempts NULL-bearing integral columns from the
    HUGEINT leak check. strict=True closes both blind spots — a
    fetchall() NULL/NaN census for float columns and a DESCRIBE-level
    type check for integral ones — without changing the gate-faithful
    default."""
    from tests.oracle_compare import compare, duckdb_con

    con = duckdb_con(sf_dir)
    # NULL double on the Spark side, NaN on the oracle side: the pandas
    # path can't tell them apart (both pass), strict mode must fail.
    df = spark.createDataFrame([(1, None), (2, 0.5)], "k long, v double")
    nan_oracle = (
        "SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST('NaN' AS DOUBLE)),"
        " (CAST(2 AS BIGINT), 0.5)) t(k, v)"
    )
    ok, _ = compare(df, con, nan_oracle)
    assert ok  # gate-faithful: indistinguishable on the pandas path
    ok, why = compare(df, con, nan_oracle, strict=True)
    assert not ok and "NULL/NaN" in why
    null_oracle = (
        "SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(NULL AS DOUBLE)),"
        " (CAST(2 AS BIGINT), 0.5)) t(k, v)"
    )
    ok, why = compare(df, con, null_oracle, strict=True)
    assert ok, why
    # HUGEINT leak hiding in a NULL-bearing integral column: the pandas
    # path coerces and passes; strict DESCRIBE check must fail.
    dfi = spark.createDataFrame([(1, None), (2, 4)], "k long, v long")
    masked_leak = (
        "SELECT k, sum(x) * 2 AS v FROM (VALUES (1, NULL), (2, 2)) t(k, x) "
        "GROUP BY k"
    )
    ok, _ = compare(dfi, con, masked_leak)
    assert ok  # pandas path: float64-with-NaN exemption masks it
    ok, why = compare(dfi, con, masked_leak, strict=True)
    assert not ok and "strict type check" in why
    cast_fixed = (
        "SELECT k, CAST(sum(x) * 2 AS BIGINT) AS v "
        "FROM (VALUES (1, NULL), (2, 2)) t(k, x) GROUP BY k"
    )
    ok, why = compare(dfi, con, cast_fixed, strict=True)
    assert ok, why
