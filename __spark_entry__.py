"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``kdcloganalyzer_spark/``; this module only adapts
the registry to the driver's interface.
"""

from __future__ import annotations

import json
import logging
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kdcloganalyzer_spark.plans import registry  # noqa: E402

registry.load_all()

log = logging.getLogger(__name__)
_HERE = os.path.dirname(os.path.abspath(__file__))
SMOKE_SF_DIR = "/root/testdata/sf0.001"
FLAGSHIP = "agg_min_max_count"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Also stages every sf0.01 input an oracle reads and only the Spark
    side writes (the KDC records parquet, the schema-evolution,
    multiline-JSON, commit-log, binary-file, nested, hive and corrupt
    layouts) while a live session is guaranteed, so the correctness
    gate's oracle SQL works regardless of whether the driver evaluates
    the Spark query or the oracle first. Idempotent and non-fatal: a
    failure here must not break the smoke check."""
    try:
        from kdcloganalyzer_spark.plans import relational, round9_ops
        from kdcloganalyzer_spark.plans.kdc_queries import kdc_records_parquet
        from kdcloganalyzer_spark.plans.streaming_queries import (
            tail_twin_records_parquet,
        )

        for stage in (
            kdc_records_parquet,
            tail_twin_records_parquet,
            relational.stage_evolution,
            relational.stage_json_multiline,
            relational.stage_commit_log,
            relational.stage_binfiles,
            relational.stage_nested,
            round9_ops.stage_hive_part,
            round9_ops.stage_corrupt_scan,
        ):
            stage(spark, "/root/testdata/sf0.01")
    except Exception:  # noqa: BLE001 — hedge only; smoke check must pass
        log.warning("oracle-input prestage failed", exc_info=True)
    return registry.QUERIES[FLAGSHIP](spark, SMOKE_SF_DIR)


def _gate_order(ids: list[str]) -> list[str]:
    """Order ids so a capped correctness run maximizes useful coverage.

    The r1/r2 gates each recorded only ~44-50 rows, so ordering decides
    what the driver actually verifies. Three priority groups:

    1. ids whose LATEST gate row failed (err / hash mismatch) — the fix
       must be re-verified before anything else;
    2. ids with no row in any prior CORRECTNESS_r*.json — new coverage;
    3. previously-passing ids — regression re-checks.

    Groups 1+2 run cheapest-first (per the last local bench) so the
    gate's budget buys breadth; one group-3 id is interleaved every 5th
    slot so each round re-verifies a rotating sample of prior passes
    (a capped gate would otherwise never revisit them — ADVICE r2).
    """
    import glob

    latest: dict[str, dict] = {}
    seen_round: dict[str, int] = {}
    for rnd, p in enumerate(
        sorted(glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json")))
    ):
        rows, _ = _load_state(p)
        latest.update(rows)
        for q in rows:
            seen_round[q] = rnd
    bench, _ = _load_state(os.path.join(_HERE, "BENCH_LOCAL.json"))
    cost: dict[str, float] = bench.get("queries", {})

    def failed(row: dict) -> bool:
        return (
            (row.get("err") not in (None, "no_oracle"))
            or (row.get("hash_match") is False)
            or (row.get("schema_match") is False)
            or (row.get("rows_match") is False)
        )

    from kdcloganalyzer_spark.plans.registry import ORACLES

    # Oracle-text fingerprints (ADVICE r9): an id whose REGISTERED
    # oracle changed after its last certified round is carrying a stale
    # green row — the driver verified different semantics. Track
    # md5(oracle) per id with the round at which it last changed; a
    # change newer than the id's latest gate row re-promotes it to the
    # urgent group so semantic edits can't ride old certifications.
    import hashlib

    this_round = len(glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json")))
    # An unreadable state file keeps its history on disk: nothing is
    # re-fingerprinted (so nothing is re-queued) and it is not rewritten.
    fp_path = os.path.join(_HERE, "GATE_ORACLE_FP.json")
    fp_state, fp_ok = _load_state(fp_path)
    fp_dirty = False
    for q in ids if fp_ok else ():
        fp = hashlib.md5(
            ORACLES.get(q, "").encode("utf-8")
        ).hexdigest()[:16]
        prev = fp_state.get(q)
        if prev is None or prev.get("fp") != fp:
            fp_state[q] = {"fp": fp, "round": this_round}
            fp_dirty = True
    if fp_dirty:
        _save_state(fp_path, fp_state)

    def oracle_changed_since_cert(q: str) -> bool:
        st = fp_state.get(q)
        return (
            st is not None
            and q in seen_round
            and st.get("round", 0) > seen_round[q]
        )

    def needs_first_check(q: str) -> bool:
        """New coverage: never seen, failed last time, seen only as
        rows-only (`no_oracle`) while an oracle NOW exists — its hash
        check has never actually run — or its oracle text changed after
        its last certified round (stale green)."""
        if q not in latest:
            return True
        row = latest[q]
        return (
            failed(row)
            or (q in ORACLES and row.get("err") == "no_oracle")
            or oracle_changed_since_cert(q)
        )

    # First-seen registry-round tracking (VERDICT r8 item 8): the r7/r8
    # backlogs persisted because urgent ids ran cheapest-first, so ids
    # ADDED mid-round (also never-certified, often cheap) displaced the
    # old backlog under the ~50-row gate cap. Persist the round index at
    # which each id first appeared in the registry and drain
    # never-certified ids OLDEST-first; a new id can never again outrank
    # an id that has waited a round longer.
    fs_path = os.path.join(_HERE, "GATE_FIRST_SEEN.json")
    first_seen, fs_ok = _load_state(fs_path)
    unseen = [q for q in ids if q not in first_seen]
    if unseen and fs_ok:
        for q in unseen:
            first_seen[q] = this_round
        _save_state(fs_path, first_seen)

    by_cost = sorted(ids, key=lambda q: (cost.get(q, 0.5), q))
    urgent = [q for q in by_cost if needs_first_check(q)]
    # Steady re-checks drain STALEST-first (oldest verifying round, then
    # cheapest) so no passing id's latest check ages more than a couple of
    # rounds under the ~50-row gate cap.
    steady = sorted(
        (q for q in by_cost if not needs_first_check(q)),
        key=lambda q: (seen_round.get(q, -1), cost.get(q, 0.5), q),
    )
    # Urgent order (VERDICT r12 item 1): failed-last-time fixes first,
    # then a 1:1 INTERLEAVE of the never-certified cohort (oldest
    # registry round first) with the changed-oracle re-certification
    # cohort (oldest certified round first). The r12 gate proved that
    # sorting never-certified strictly ahead of changed-oracle lets a
    # round's ~40 new registrations consume every urgent slot and
    # starve the re-certification backlog indefinitely (35 stale ids
    # after two rounds); sharing the urgent budget alternately bounds
    # each cohort's wait at 2x its own position. Cost only breaks ties
    # WITHIN a cohort.
    fail_cohort = [q for q in urgent if q in latest and failed(latest[q])]
    never_cohort = sorted(
        (q for q in urgent if q not in latest),
        key=lambda q: (first_seen.get(q, this_round), cost.get(q, 0.5), q),
    )
    stale_cohort = sorted(
        (q for q in urgent if q in latest and not failed(latest[q])),
        key=lambda q: (seen_round.get(q, -1), cost.get(q, 0.5), q),
    )
    urgent = list(fail_cohort)
    ni, ci = iter(never_cohort), iter(stale_cohort)
    for k in range(len(never_cohort) + len(stale_cohort)):
        nxt = next(ni if k % 2 == 0 else ci, None) or next(
            ci if k % 2 == 0 else ni, None
        )
        if nxt is not None:
            urgent.append(nxt)
    # Interleave (VERDICT r8 item 8): while ANY never-certified id
    # remains, it is reserved 4 of every 5 slots (>= the contracted 60%)
    # — one steady re-check per 5 keeps regression coverage nonzero —
    # and once the urgent set drains, every remaining slot goes to
    # steady re-checks (stalest-first).
    out: list[str] = []
    ui, si = iter(urgent), iter(steady)
    for q in by_cost:
        take_steady = len(out) % 5 == 4
        nxt = next(si if take_steady else ui, None) or next(
            ui if take_steady else si, None
        )
        if nxt is not None:
            out.append(nxt)
    return out


def _load_state(path: str) -> tuple[dict, bool]:
    """``(state, writable)`` for a gate JSON file. A missing file is an
    empty, writable state; an unparsable one is logged and read as empty
    but must not be overwritten, so its history survives for repair."""
    try:
        with open(path) as f:
            state = json.load(f)
    except OSError:
        return {}, True
    except ValueError:
        log.warning("unreadable gate state %s; left as is", path, exc_info=True)
        return {}, False
    if not isinstance(state, dict):
        log.warning("gate state %s is not an object; left as is", path)
        return {}, False
    return state, True


def _save_state(path: str, state: dict) -> None:
    """Best-effort atomic write: ordering must never break the gate."""
    try:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f, indent=0, sort_keys=True)
        os.replace(tmp, path)
    except OSError:
        log.warning("could not write gate state %s", path, exc_info=True)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {q: registry.QUERIES[q] for q in _gate_order(list(registry.QUERIES))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return dict(registry.ORACLES)
