"""Blanket ORACLE-TEXT sweep: the r9 driver proved that
``round(sum(DOUBLE), n)`` flips value hashes on summation order when the
true sum lands on a rounding boundary — the repo-wide fix is exact
integer units per row BEFORE the sum (``cents``/``_rev_e4`` ⇄
``CAST(round(x*100) AS BIGINT)``). This sweep makes the class
structurally unable to re-enter via a NEW oracle: every float-aggregate-
then-round textual shape must either match a known-safe form or carry an
explicit allowlist entry with its safety argument.

Known-safe shapes (why they cannot flip):
- ``CAST(sum(round(e)) AS BIGINT)`` — each term is an integer-valued
  double; integer-valued doubles below 2^53 sum exactly, order-free.
- ``round(<agg over exact-integer expressions> / <same>, n)`` — a ratio
  of two exact integer sums is ONE correctly-rounded division; it may
  round at the 6th digit but identically in both engines (documented
  convention).
- ``round(avg(int_col), n)`` — engines compute avg(int) as an exact
  integer sum divided once.
"""

from __future__ import annotations

import re

from kdcloganalyzer_spark.plans import registry

registry.load_all()

# round(sum(...)/round(avg(...) sites reviewed and safe — every one is a
# ratio of exact integer aggregates or an avg over an integer column:
ROUND_AGG_OK = {
    "pipeline_corpus_report",   # round(avg(n_chars),2): int column avg
    "text_analysis",            # round(avg(len(...)),4): int length avg
    "kdc_enctype_downgrade",    # round(sum(int CASE)::DOUBLE / count,6)
    "analytics_market_share",   # round(sum(e4 int) / sum(e4 int), 6)
}

# sum(round(...)/avg(round(...) sites must be the CAST(... AS BIGINT)
# integer idiom; anything else needs a reviewed entry here:
SUM_ROUND_OK: set[str] = set()


def _norm(sql: str) -> str:
    return re.sub(r"\s+", "", sql.lower())


def round_agg_violations(qid: str, sql: str) -> list[str]:
    """Return the suspicious float-agg-round shapes in one oracle text."""
    s = _norm(sql)
    out = []
    if qid not in ROUND_AGG_OK:
        for pat in ("round(sum(", "round(avg("):
            if pat in s:
                out.append(f"{qid}: `{pat}` without an allowlist review")
    if qid not in SUM_ROUND_OK:
        for pat in ("sum(round(", "avg(round("):
            for m in re.finditer(re.escape(pat), s):
                # the safe idiom is cast(sum(round(e)) as bigint) —
                # demand the cast wrapper so the output type is exact.
                prefix = s[max(0, m.start() - 5) : m.start()]
                if not prefix.endswith("cast("):
                    out.append(
                        f"{qid}: `{pat}` not wrapped in CAST(... AS"
                        " BIGINT) — double-sum output can flip on order"
                    )
    return out


def test_no_order_dependent_money_rounding_in_oracles():
    problems = []
    for qid, sql in sorted(registry.ORACLES.items()):
        problems.extend(round_agg_violations(qid, sql))
    assert not problems, "\n".join(problems)


def test_sweep_catches_injected_counterexample():
    """The checker itself must reject the r9 bug class."""
    bad1 = "SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) FROM t"
    assert round_agg_violations("some_new_id", bad1)
    bad2 = "SELECT sum(round(value * 100)) FROM t"  # no CAST wrapper
    assert round_agg_violations("some_new_id", bad2)
    good = "SELECT CAST(sum(round(value * 100)) AS BIGINT) FROM t"
    assert not round_agg_violations("some_new_id", good)
    ratio = "SELECT round(sum(a_e4) / sum(b_e4)::DOUBLE, 6) FROM t"
    # ratios still need the explicit review entry:
    assert round_agg_violations("some_new_id", ratio)
    assert not round_agg_violations("analytics_market_share", ratio)


def test_stale_allowlist_entries():
    """Allowlist rows must still correspond to live oracle text."""
    for qid in ROUND_AGG_OK | SUM_ROUND_OK:
        assert qid in registry.ORACLES, f"stale allowlist entry {qid}"
        s = _norm(registry.ORACLES[qid])
        assert any(
            p in s
            for p in (
                "round(sum(",
                "round(avg(",
                "sum(round(",
                "avg(round(",
            )
        ), f"{qid} no longer uses the pattern — drop it from the allowlist"
