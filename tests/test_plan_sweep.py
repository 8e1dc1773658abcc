"""Suite-wide physical-plan anti-pattern sweep: the 100 TB claims hold
only if NO registered batch query silently regresses into a cartesian
product or row-at-a-time Python evaluation. Complements the targeted
shape tests in test_plans.py with a blanket net over every query.

The rules read each id's plan-shape row (``plan_shape``), which
test_plan_shapes.py builds once per session and checks against
PLAN_SHAPES.json, so no id is built twice for the two checks.
"""

from __future__ import annotations

import pytest

from kdcloganalyzer_spark import plan_shape
from kdcloganalyzer_spark.plans import registry

registry.load_all()

# BroadcastNestedLoopJoin is acceptable ONLY where one side is a tiny
# broadcast frame by construction (query sets, 1-row grand totals):
BNLJ_OK = {
    "sim_search_cosine",  # broadcast 5-query set x corpus (the exact baseline)
    "sim_search_range",   # same broadcast query-set cross join, radius filter
    "sim_search_pq",      # broadcast per-query ADC LUTs
    "text_tfidf",         # broadcast 1-row corpus-size aggregate
    "quality_bigram_lm",  # broadcast 1-row vocabulary-size aggregate
    "sample_temperature_mixture",  # broadcast 1-row totals
    "join_range_theta",   # non-equi range join — BNLJ is its honest plan
    "pipeline_corpus_report",  # broadcast 1-row top-language aggregate
    "sim_search_lsh_eval",  # exact-baseline side reuses sim_search_cosine's
                            # broadcast query-set cross join
    "events_audience_overlap_hll",  # broadcast 5-row sketch-table pair
                                    # enumeration (tiny dimensional cross)
    "events_slo_burn_rate",  # 1-row corpus-baseline x hourly summary
                             # (summary x summary, never data-sized)
    "profile_key_skew",  # 1-row profile x 1-row bucket-max stitch
    "embed_matryoshka_eval",  # broadcast 5-query set x corpus, both
                              # spaces scored in one projection
    "embed_knn_eval",  # broadcast 20-query set x corpus (exact kNN eval)
}
# Row-at-a-time Python is allowed only in the UDTF registration demos
# (Python UDTFs have no Arrow path); everything else must be JVM or
# Arrow-batched.
PYEVAL_OK = {"udtf_surface", "udtf_table_arg"}

BATCH_IDS = plan_shape.batch_ids()

STREAM_IDS = sorted(
    q for q in registry.QUERIES if q.startswith("stream")
)


def _assert_flat_schema(qid, schema):
    """Driver contract: the correctness harness canonicalizes EVERY
    registered output (hash-verified AND rows-only) through pandas
    sort_values, which throws ``unhashable type`` on array/map cells
    and silently misorders structs. CORRECTNESS_r09 lost all signal on
    stream_sessionize_tail this way — no registered schema may contain
    a nested type."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    for field in schema.fields:
        assert not isinstance(
            field.dataType, (ArrayType, MapType, StructType)
        ), f"{qid}: non-atomic column {field.name} ({field.dataType})"


@pytest.mark.parametrize("qid", BATCH_IDS)
def test_no_plan_antipatterns(qid, plan_rows):
    row, schema = plan_rows(qid)
    _assert_flat_schema(qid, schema)
    assert "join.cartesian" not in row, qid
    if qid not in BNLJ_OK:
        assert "join.bnlj" not in row, qid
    if qid not in PYEVAL_OK:  # BatchEvalPython and BatchEvalPythonUDTF
        assert not [k for k in row if k.startswith("python.BatchEvalPython")], qid


@pytest.mark.parametrize("qid", STREAM_IDS)
def test_stream_flat_schema(qid, spark, sf_dir):
    # Streaming ids materialize on call (foreachBatch -> batch read),
    # so this executes the stream once; the schema check is the point.
    df = registry.QUERIES[qid](spark, sf_dir)
    _assert_flat_schema(qid, df.schema)
