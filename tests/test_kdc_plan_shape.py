"""Plan-size guards for the KDC sessionizer's per-line classifier.

The per-line pass is one classification CASE (``kdc_parse.line_kind``),
projected once, with the feature booleans read from it. If the features
were instead spelled as independent trees, each re-embedding the
negations of the classes before it, the optimized plan would grow to
~60k characters holding the header regex ~100 times, and every plan
build would cost thousands of py4j round trips. These tests fail if that
comes back.

The reports read the records through a lineage-cut checkpoint, so their
plans hold none of that classifier: a persisted records frame would keep
the sessionizer as its cache plan, and every report would re-plan and
re-render ~24k characters of it.
"""

from __future__ import annotations

import os
import re

import pytest
import pyspark.errors.utils
from pyspark import SparkContext
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

from kdcloganalyzer_spark import appcache
from kdcloganalyzer_spark.functions.kdc_parse import (
    BAD_SERVER_ETYPE_RE,
    HEADER_RE,
    SENDING_RE,
    TIMESTAMP,
    VERIFY_RE,
    header_fields,
)
from kdcloganalyzer_spark.operators.sessionize import sessionize
from kdcloganalyzer_spark.plan_shape import py4j_calls
from kdcloganalyzer_spark.plans import registry
from kdcloganalyzer_spark.plans.kdc_queries import kdc_records
from kdcloganalyzer_spark.sources.kdc_log import read_log_lines_raw
from kdcloganalyzer_spark.sources.kdc_synth import synth_dir_for_sf

registry.load_all()

GOLDEN = os.path.join(os.path.dirname(__file__), "fixtures", "kdc", "golden.log")

#: the KDC report ids of the benchmark's read-side mix
REPORT_IDS = (
    "first_last_auth_per_user", "auth_count_per_user", "tgs_count_per_service",
    "first_last_use_per_service", "most_common_errors", "users_few_services",
    "top_n_kdc_entities", "counters_observe", "agg_tagged_union",
    "kdc_failed_auth_burst", "kdc_password_spray", "kdc_account_lockout",
)


@pytest.fixture(scope="module")
def plan(spark):
    df = sessionize(read_log_lines_raw(spark, GOLDEN))
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_plan_stays_small(plan):
    assert len(plan) < 15_000, len(plan)


def test_each_line_regex_appears_once(plan):
    # regex nodes over the raw line column (the per-record extraction
    # reads header_line / ts_line / ..., not line)
    for pattern in (HEADER_RE, SENDING_RE, VERIFY_RE, BAD_SERVER_ETYPE_RE):
        nodes = re.findall(
            r"(?:RLIKE|regexp_extract)\(line#\d+, " + re.escape(pattern), plan
        )
        assert len(nodes) == 1, (pattern, len(nodes))


def test_header_regex_count(plan, spark):
    # classify once per line, plus the per-record field extraction
    n_fields = len(header_fields(F.col("header_line")))
    assert plan.count(HEADER_RE) <= 1 + n_fields


def test_record_timestamp_extracted_once(plan):
    # ts and ts_raw share one extraction (a nullif per use would plan a
    # separate With common expression, and so a second regex, for each)
    nodes = re.findall(
        r"regexp_extract\(ts_line#\d+, \^\(" + re.escape(TIMESTAMP), plan
    )
    assert len(nodes) == 1, len(nodes)


def test_classification_case_not_duplicated(plan):
    # CollapseProject must not inline _kind into the nine features
    assert plan.count("THEN BAD_PASSWORD") == 1
    assert plan.count("THEN VERIFY") == 1


def test_rebuild_is_cheap_in_py4j_calls(spark):
    """A second sessionize build in the same JVM reuses the Column trees:
    it must stay under 400 py4j round trips (the per-feature trees cost
    ~2,700). Deletes of JVM objects that earlier work dropped are left
    out of the count (``py4j_calls``)."""
    first = sessionize(read_log_lines_raw(spark, GOLDEN))
    with py4j_calls() as calls:
        second = sessionize(read_log_lines_raw(spark, GOLDEN))
    assert second.columns == first.columns
    assert len(calls) <= 400, len(calls)


def test_functions_calls_skip_call_site_capture(spark, monkeypatch):
    """``get_spark`` turns PySpark's DataFrame debugging off, so a
    ``pyspark.sql.functions`` call does not record its Python call site
    in the JVM: one ``F.col`` is 3 round trips, not 13. PySpark reads
    the conf on the first wrapped call, so the cached answer is reset."""
    monkeypatch.setattr(pyspark.errors.utils, "_enable_debugging_cache", None)
    F.col("warm_up")
    with py4j_calls() as calls:
        F.col("x")
    assert len(calls) <= 6, calls


def test_errors_keep_their_class_without_debugging(spark):
    """With debugging off an error loses only its Python call site."""
    with pytest.raises(ArithmeticException) as err:
        spark.range(1).select(F.lit(1) / F.col("id")).collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"


def test_per_jvm_rebuilds_for_a_new_gateway(monkeypatch):
    monkeypatch.setattr(appcache, "_PER_JVM", {})
    built = []

    def build():
        built.append(1)
        return len(built)

    assert appcache.per_jvm("t", build) == 1
    assert appcache.per_jvm("t", build) == 1
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert appcache.per_jvm("t", build) == 2
    assert appcache.per_jvm("t", build) == 2


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("qid", REPORT_IDS)
def test_report_plan_excludes_the_sessionizer(spark, sf_dir, qid):
    df = registry.QUERIES[qid](spark, sf_dir)
    df.collect()
    plan = _executed_plan(df)
    assert len(plan) < 5_000, len(plan)
    for pattern in (HEADER_RE, SENDING_RE, VERIFY_RE):
        assert pattern not in plan, pattern
    # the test corpus's records are one partition, declared as such
    assert "Exchange" not in plan, plan


def test_records_are_a_lineage_cut_fresh_parse(spark, sf_dir):
    recs = kdc_records(spark, sf_dir)
    fresh = sessionize(read_log_lines_raw(spark, synth_dir_for_sf(sf_dir)))
    assert recs.columns == fresh.columns
    assert recs.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(recs).count() == 0
    # not a read-back of the parquet oracle twin, and not the sessionizer
    # re-planned under a cache node
    plan = _executed_plan(recs)
    assert "FileScan" not in plan, plan


def test_evicted_records_rebuild_from_the_logs(spark, sf_dir):
    kdc_records(spark, sf_dir)
    assert appcache.evict_for("first_last_auth_per_user")
    sc = spark.sparkContext
    sc.setJobGroup("records_rebuild", "kdc_records after eviction")
    try:
        kdc_records(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert sc.statusTracker().getJobIdsForGroup("records_rebuild")
