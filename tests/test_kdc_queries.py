"""KDC Tier-1/2 queries: the README report family's tagged bundle
(``kdc_queries._report_bundle``), record counts and sinks, and the
report ids cross-checked against DuckDB SQL twins over the materialized
kdc_records."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from kdcloganalyzer_spark import appcache
from kdcloganalyzer_spark.plan_shape import BuildCounter
from kdcloganalyzer_spark.plans import kdc_queries, registry
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


#: the ids that are filters and projections of the bundle
BUNDLE_IDS = (
    "first_last_auth_per_user", "agg_partial_combiner", "agg_sorted_stream",
    "auth_count_per_user", "sink_tsv_text", "tgs_count_per_service",
    "first_last_use_per_service", "most_common_errors", "users_few_services",
    "users_few_services_approx", "counters_observe", "agg_tagged_union",
    "top_n_kdc_entities",
)


def test_record_count_matches_generated(spark, sf_dir):
    # generator emits exactly one terminated record per logical record
    assert kdc_records(spark, sf_dir).count() == 1000  # sf0.001 → max(200, 1e6*0.001)


@pytest.mark.parametrize("qid", sorted(KDC_ORACLES))
def test_kdc_query_vs_duckdb(qid, spark, sf_dir, con):
    from tests.oracle_compare import compare

    df = registry.QUERIES[qid](spark, sf_dir)
    ok, msg = compare(df, con, KDC_ORACLES[qid])
    assert ok, f"{qid}: {msg}"


def test_one_bundle_action_serves_every_report(spark, sf_dir):
    """After an eviction, the first report pays the parse and the bundle
    (one eager action each); every other report is a plan over the
    bundle, and only the TSV sink runs its own write."""
    counter = BuildCounter(spark)
    appcache.evict_for(BUNDLE_IDS[0])
    actions = {}
    for qid in BUNDLE_IDS:
        with counter.count(qid) as n:
            registry.QUERIES[qid](spark, sf_dir)
        actions[qid] = n["actions"]
    assert actions == {
        q: 2 if q == BUNDLE_IDS[0] else int(q == "sink_tsv_text")
        for q in BUNDLE_IDS
    }
    assert len(kdc_queries._report_bundle.cache) == 1


def test_evict_for_clears_the_bundle():
    cache = kdc_queries._report_bundle.cache
    for qid in BUNDLE_IDS:
        cache[("app", "sf")] = None
        assert appcache.evict_for(qid), qid
        assert cache == {}, qid


def test_bundle_counters_partition_the_records(spark, sf_dir):
    """The ``c`` rows count every record once, and the accepted count
    (the mapper's accept path) is the ``u`` rows without a referral."""
    b = kdc_queries._report_bundle(spark, sf_dir)
    r = kdc_records(spark, sf_dir)

    def total(where) -> int:
        return b.where(where).agg(F.sum("n")).first()[0]

    assert total(F.col("tag") == "c") == r.count()
    accepted = total((F.col("tag") == "u") & F.col("b").isNull())
    assert accepted == kdc_queries._accepted(spark, sf_dir).count()
    assert accepted == total((F.col("tag") == "c") & (F.col("a") == "Accepted"))


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
