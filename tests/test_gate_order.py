"""Pins for the driver-gate ordering contract (VERDICT r8 items 2+8).

The gate caps at ~50 recorded rows per round, so the ORDER of
``__spark_entry__.queries()`` decides what gets certified. Two
properties must hold mechanically, not aspirationally:

1. never-certified ids are reserved >= 60% of the slots while any
   remain (implemented as 4-of-5), ordered oldest-registry-round first
   via GATE_FIRST_SEEN.json — a new id can never displace one that has
   waited longer;
2. the full ordering is a permutation of the registry (nothing dropped,
   nothing duplicated).
"""

from __future__ import annotations

import glob
import json
import logging
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from kdcloganalyzer_spark.plans import registry  # noqa: E402

registry.load_all()


def _latest_rows():
    latest = {}
    seen_round = {}
    for rnd, p in enumerate(
        sorted(glob.glob(os.path.join(entry._HERE, "CORRECTNESS_r*.json")))
    ):
        try:
            with open(p) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        latest.update(rows)
        for q in rows:
            seen_round[q] = rnd
    _latest_rows.seen_round = seen_round
    return latest


def _oracle_changed(q, seen_round):
    """Mirror of the gate's fingerprint invalidation (ADVICE r9): an id
    whose oracle text changed after its last certified round is urgent
    again even though its latest row is green."""
    try:
        with open(os.path.join(entry._HERE, "GATE_ORACLE_FP.json")) as f:
            fp_state = json.load(f)
    except (OSError, ValueError):
        return False
    st = fp_state.get(q)
    return (
        st is not None
        and q in seen_round
        and st.get("round", 0) > seen_round[q]
    )


def _needs_first_check(q, latest):
    if q not in latest:
        return True
    row = latest[q]
    failed = (
        (row.get("err") not in (None, "no_oracle"))
        or (row.get("hash_match") is False)
        or (row.get("schema_match") is False)
        or (row.get("rows_match") is False)
    )
    return (
        failed
        or (q in registry.ORACLES and row.get("err") == "no_oracle")
        or _oracle_changed(q, getattr(_latest_rows, "seen_round", {}))
    )


def test_gate_order_is_a_permutation():
    order = entry._gate_order(list(registry.QUERIES))
    assert sorted(order) == sorted(registry.QUERIES)


def test_never_certified_ids_hold_their_reservation():
    """Within any prefix of the ordering, steady re-checks may occupy at
    most 1 slot in 5 while never-certified ids remain unplaced — the
    >= 60% (actually 80%) reservation of VERDICT r8 item 8."""
    latest = _latest_rows()
    order = entry._gate_order(list(registry.QUERIES))
    urgent_total = sum(1 for q in order if _needs_first_check(q, latest))
    placed_urgent = 0
    for i, q in enumerate(order):
        if _needs_first_check(q, latest):
            placed_urgent += 1
        else:
            # a steady slot is only legal at every 5th position until
            # the urgent set is exhausted
            if placed_urgent < urgent_total:
                assert i % 5 == 4, (
                    f"steady id {q} at slot {i} while "
                    f"{urgent_total - placed_urgent} never-certified ids wait"
                )


def test_oldest_first_seen_ids_come_first_within_urgent():
    """Among never-certified ids, first-seen round is the PRIMARY key:
    an id registered in an earlier round always precedes one registered
    later (cost only breaks ties within a cohort)."""
    latest = _latest_rows()
    try:
        with open(os.path.join(entry._HERE, "GATE_FIRST_SEEN.json")) as f:
            first_seen = json.load(f)
    except OSError:
        first_seen = {}
    order = entry._gate_order(list(registry.QUERIES))

    def failed(row):
        return (
            (row.get("err") not in (None, "no_oracle"))
            or (row.get("hash_match") is False)
            or (row.get("schema_match") is False)
            or (row.get("rows_match") is False)
        )

    # exclude failed-last-time ids: they legitimately jump the queue.
    # never-certified ids and changed-oracle re-certifications INTERLEAVE
    # 1:1 (VERDICT r12 item 1: a strict never-first sort let each round's
    # new registrations starve the re-certification backlog); first-seen
    # monotonicity holds WITHIN the never cohort, oldest-certified-round
    # monotonicity WITHIN the changed cohort.
    urgent = [
        q
        for q in order
        if _needs_first_check(q, latest)
        and not (q in latest and failed(latest[q]))
    ]
    never = [q for q in urgent if q not in latest]
    changed = [q for q in urgent if q in latest]
    # 1:1 interleave: among the first 2*min(len) urgent slots, each
    # cohort holds exactly half, and within any prefix the two cohorts'
    # counts differ by at most 1 (never leads on ties).
    k = 2 * min(len(never), len(changed))
    n_seen = c_seen = 0
    for q in urgent[:k]:
        if q in never:
            n_seen += 1
        else:
            c_seen += 1
        assert abs(n_seen - c_seen) <= 1, (
            f"cohort imbalance at {q}: never={n_seen} changed={c_seen}"
        )
    rounds = [first_seen.get(q, 10**9) for q in never]
    assert rounds == sorted(rounds), never
    seen_round = getattr(_latest_rows, "seen_round", {})
    cert_rounds = [seen_round.get(q, -1) for q in changed]
    assert cert_rounds == sorted(cert_rounds), changed


def test_corrupt_gate_state_is_logged_and_kept(tmp_path, monkeypatch, caplog):
    """An unparsable GATE_ORACLE_FP.json is reported once and left
    byte-identical: rewriting it would erase every id's oracle-change
    history for good."""
    bad = b'{"agg_min_max_count": {"fp": "0123'
    (tmp_path / "GATE_ORACLE_FP.json").write_bytes(bad)
    monkeypatch.setattr(entry, "_HERE", str(tmp_path))
    with caplog.at_level(logging.WARNING, logger=entry.__name__):
        order = entry._gate_order(list(registry.QUERIES))
    assert sorted(order) == sorted(registry.QUERIES)
    assert (tmp_path / "GATE_ORACLE_FP.json").read_bytes() == bad
    warned = [
        r for r in caplog.records if "GATE_ORACLE_FP.json" in r.getMessage()
    ]
    assert len(warned) == 1 and warned[0].exc_info
