"""Each batch id's plan shape matches its row in PLAN_SHAPES.json.

A row counts exchanges by partitioning, scans by format, joins by
strategy, windows, sorts, aggregates, generators, Python nodes,
whole-stage-codegen stages and the jobs launched while the DataFrame is
built (``kdcloganalyzer_spark/plan_shape.py``). A change that moves a
plan fails here with a per-field diff; regenerate the file with
``python tools/explain_dump.py`` and explain the diff. Expression-level
facts a node count cannot see (RLIKE counts, plan size, py4j round
trips) are pinned in test_kdc_plan_shape.py.
"""

from __future__ import annotations

import pytest

from kdcloganalyzer_spark import plan_shape

EXPECTED = plan_shape.load()
BATCH_IDS = plan_shape.batch_ids()


def test_digest_covers_every_batch_id():
    assert sorted(EXPECTED) == BATCH_IDS, (
        f"PLAN_SHAPES.json is stale: run `{plan_shape.REGENERATE}`"
    )


@pytest.mark.parametrize("qid", BATCH_IDS)
def test_plan_shape(qid, plan_rows):
    row, _ = plan_rows(qid)
    msg = plan_shape.diff(qid, EXPECTED.get(qid, {}), row)
    assert not msg, msg


def test_diff_names_the_id_fields_and_command():
    msg = plan_shape.diff(
        "q", {"build_actions": 1, "join.bhj": 1}, {"build_actions": None, "join.smj": 1}
    )
    assert msg.splitlines()[1:4] == [
        "  build_actions: 1 -> None",
        "  join.bhj: 1 -> 0",
        "  join.smj: 0 -> 1",
    ]
    assert msg.startswith("q: ") and plan_shape.REGENERATE in msg
    assert plan_shape.diff("q", {"sort": 0}, {}) == ""
