"""KDC Tier-1/2 queries cross-checked against DuckDB over the materialized
kdc_records — the local equivalent of the driver's oracle for the queries
the driver can only rows-only-check.
"""

from __future__ import annotations

import duckdb
import pytest

from kdcloganalyzer_spark.plans import registry
from kdcloganalyzer_spark.plans.kdc_queries import kdc_records

registry.load_all()

# SQL twins over a `recs` view that mirrors kdc_records.
KDC_ORACLES = {
    "first_last_auth_per_user": """
        SELECT client, min(ts) AS first_ts, max(ts) AS last_ts, count(*) AS n
        FROM recs
        WHERE valid AND success AND req_type = 'AUTH' AND NOT referral
        GROUP BY client
    """,
    "auth_count_per_user": """
        SELECT client, count(*) AS n FROM recs
        WHERE valid AND success AND req_type = 'AUTH' AND NOT referral
        GROUP BY client
    """,
    "tgs_count_per_service": """
        SELECT service, count(*) AS n FROM recs
        WHERE valid AND success AND req_type = 'TGS'
        GROUP BY service
    """,
    "first_last_use_per_service": """
        SELECT service, min(ts) AS first_ts, max(ts) AS last_ts, count(*) AS n
        FROM recs WHERE valid AND success AND req_type = 'TGS'
        GROUP BY service
    """,
    "classify_error_substring": """
        SELECT error_class, count(*) AS n FROM recs
        WHERE error_class IS NOT NULL GROUP BY error_class
    """,
    "derive_success": """
        SELECT req_type, success, count(*) AS n FROM recs
        GROUP BY req_type, success
    """,
    "most_common_errors": """
        SELECT coalesce(error_class, 'Missing Pre-authentication') AS error_class,
               count(*) AS n
        FROM recs WHERE NOT success
        GROUP BY 1 ORDER BY n DESC, error_class
    """,
    "users_few_services": """
        SELECT client, count(DISTINCT service) AS n_svc FROM recs
        WHERE valid AND success AND req_type = 'TGS'
        GROUP BY client HAVING count(DISTINCT service) <= 3
    """,
    "counters_observe": """
        SELECT CASE
            WHEN NOT valid THEN 'Invalid'
            WHEN NOT success THEN 'Failed:' ||
                 coalesce(error_class, 'Missing Pre-authentication')
            WHEN req_type <> 'AUTH' THEN 'Request Type'
            WHEN referral THEN 'Referral'
            ELSE 'Accepted' END AS reason,
            count(*) AS n
        FROM recs GROUP BY 1
    """,
}


@pytest.fixture(scope="module")
def con(spark, sf_dir):
    recs_pdf = kdc_records(spark, sf_dir).drop("enctypes").toPandas()
    c = duckdb.connect()
    c.register("recs", recs_pdf)
    return c


def test_record_count_matches_generated(spark, sf_dir, con):
    # generator emits exactly one terminated record per logical record
    n = con.execute("SELECT count(*) FROM recs").fetchone()[0]
    assert n == 1000  # sf0.001 → max(200, 1e6*0.001)


@pytest.mark.parametrize("qid", sorted(KDC_ORACLES))
def test_kdc_query_vs_duckdb(qid, spark, sf_dir, con):
    from tests.oracle_compare import compare

    df = registry.QUERIES[qid](spark, sf_dir)
    ok, msg = compare(df, con, KDC_ORACLES[qid])
    assert ok, f"{qid}: {msg}"


def test_tagged_union_disjoint_keyspaces(spark, sf_dir):
    rows = registry.QUERIES["agg_tagged_union"](spark, sf_dir).collect()
    tags = {r["key"][:2] for r in rows}
    assert tags == {"u:", "s:"}


def test_sink_tsv_roundtrip(spark, sf_dir):
    ut = registry.QUERIES["first_last_auth_per_user"](spark, sf_dir)
    rt = registry.QUERIES["sink_tsv_text"](spark, sf_dir)
    assert rt.count() == ut.count()
    assert rt.columns == ["client", "first_ts", "last_ts", "n"]


def test_n_records_for_sf():
    """One sf → corpus-size rule sizes both the synth corpus path and the
    records parquet, and fails loud on a path without a scale factor."""
    from kdcloganalyzer_spark.sources.kdc_synth import (
        n_records_for_sf,
        synth_path_for_sf,
    )

    assert n_records_for_sf("/data/sf0.01") == 10_000
    assert n_records_for_sf("/data/sf1") == 1_000_000
    assert n_records_for_sf("/data/sf0.0001") == 200
    assert synth_path_for_sf("/data/sf0.1").endswith("_100000")
    for bad in ("/data/tables", "/data/sf", "/data/sf."):
        with pytest.raises(ValueError):
            n_records_for_sf(bad)
        with pytest.raises(ValueError):
            synth_path_for_sf(bad)
