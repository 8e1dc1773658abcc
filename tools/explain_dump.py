"""Regenerate PLAN_SHAPES.json, the plan-shape digest of every batch id.

Builds every registered batch id in one JVM at the test suite's scale
(sf0.001, ``__spark_entry__.SMOKE_SF_DIR``) with the test session's
settings, and writes one row of physical-plan counts per id
(``kdcloganalyzer_spark/plan_shape.py`` says what a row counts).
``tests/test_plan_shapes.py`` fails on any row that no longer matches:
after a plan-changing change, run this and explain the diff of
PLAN_SHAPES.json in the change's description.

Usage:
    python tools/explain_dump.py

One id's full plan: ``python -m kdcloganalyzer_spark run <id> --explain``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import SMOKE_SF_DIR  # noqa: E402
from kdcloganalyzer_spark import plan_shape  # noqa: E402
from kdcloganalyzer_spark.session import get_spark  # noqa: E402


def main() -> None:
    spark = get_spark(app_name="explain_dump", **plan_shape.SESSION)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()

    def progress(qid, row):
        print(f"{time.perf_counter() - t0:7.1f}s {qid} {json.dumps(row, sort_keys=True)}",
              file=sys.stderr, flush=True)

    rows = plan_shape.digest(spark, plan_shape.batch_ids(), SMOKE_SF_DIR, progress)
    with open(plan_shape.SHAPES_PATH, "w") as f:
        f.write(plan_shape.dumps(rows))
    print(f"wrote {plan_shape.SHAPES_PATH}: {len(rows)} ids in {time.perf_counter() - t0:.0f} s")


if __name__ == "__main__":
    main()
