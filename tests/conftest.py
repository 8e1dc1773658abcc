from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kdcloganalyzer_spark import plan_shape  # noqa: E402
from kdcloganalyzer_spark.session import get_spark  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # Small parallelism for tiny test data: fewer task-launch overheads.
    # PLAN_SHAPES.json is built with these settings (plan_shape.SESSION).
    s = get_spark(app_name="tests", **plan_shape.SESSION)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def plan_rows(spark, sf_dir):
    """``qid -> (row, schema)``: each batch id built once per session
    (``plan_shape.build_row``), shared by the digest check and the plan
    sweep."""
    plan_shape.warm_schemas(spark, sf_dir)
    counter = plan_shape.BuildCounter(spark)
    rows: dict = {}

    def get(qid):
        if qid not in rows:
            row, df = plan_shape.build_row(spark, qid, sf_dir, counter)
            rows[qid] = (row, df.schema)
        return rows[qid]

    return get
