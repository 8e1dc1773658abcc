"""``appcache.memo``: the one app-scoped cache for amortized builds.

Unit laws of the decorator (keying, dead-app drop, eviction scope,
unpersist), the pinned set of memos that no query id evicts, and a
source guard that keeps every app-scoped cache inside ``appcache``."""

from __future__ import annotations

import pathlib
import re
from types import SimpleNamespace

import pytest

from kdcloganalyzer_spark import appcache

PKG = pathlib.Path(appcache.__file__).parent


def _session(app: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


@pytest.fixture
def registry_sandbox(monkeypatch):
    """Memos declared by a test register into throwaway lists, so the
    live eviction registry (and its orphan check) never sees them."""
    monkeypatch.setattr(appcache, "_EVICTORS", [])
    monkeypatch.setattr(appcache, "_MEMOS", [])


def test_key_carries_every_argument(registry_sandbox):
    calls = []

    @appcache.memo(readers=None)
    def build(spark, sf_dir, k):
        calls.append((sf_dir, k))
        return len(calls)

    s = _session("app-1")
    assert build(s, "sf", 1) == 1
    assert build(s, "sf", 1) == 1  # hit
    assert build(s, "sf", 2) == 2
    assert build(s, "other", 1) == 3
    assert set(build.cache) == {
        ("app-1", "sf", 1),
        ("app-1", "sf", 2),
        ("app-1", "other", 1),
    }
    assert calls == [("sf", 1), ("sf", 2), ("other", 1)]


def test_dead_app_entries_dropped_before_lookup(registry_sandbox):
    @appcache.memo(readers=None)
    def build(spark, sf_dir):
        return spark.sparkContext.applicationId

    assert build(_session("app-old"), "sf") == "app-old"
    # a new app never sees the old app's value, and the old entry is gone
    assert build(_session("app-new"), "sf") == "app-new"
    assert list(build.cache) == [("app-new", "sf")]


def test_per_app_false_keeps_entries_across_apps(registry_sandbox):
    @appcache.memo(readers=None, per_app=False)
    def build(spark, sf_dir):
        return spark.sparkContext.applicationId

    assert build(_session("app-old"), "sf") == "app-old"
    assert build(_session("app-new"), "sf") == "app-old"
    assert list(build.cache) == [("sf",)]


def test_evict_for_clears_exactly_the_matching_memos(registry_sandbox):
    from kdcloganalyzer_spark.plans import registry

    registry.load_all()

    @appcache.memo(readers=("q_a", "q_b"))
    def by_ids(spark):
        return 1

    @appcache.memo(readers=lambda qid: qid.startswith("p_"))
    def by_prefix(spark):
        return 2

    @appcache.memo(readers="kdcloganalyzer_spark.plans.kdc_queries")
    def by_module(spark):
        return 3

    @appcache.memo(readers=None)
    def unread(spark):
        return 4

    memos = (by_ids, by_prefix, by_module, unread)
    s = _session("app-1")

    def evict(qid):
        for m in memos:
            m(s)
        hit = appcache.evict_for(qid)
        return hit, [m.__name__ for m in memos if not m.cache]

    assert evict("q_b") == (True, ["by_ids"])
    assert evict("p_x") == (True, ["by_prefix"])
    assert evict("agg_enctype_dim") == (True, ["by_module"])
    assert evict("unknown_id") == (False, [])
    assert len(appcache._EVICTORS) == 3  # readers=None registers none


def test_evicted_tuple_values_are_unpersisted(registry_sandbox):
    class FakeDF:
        unpersisted = False

        def unpersist(self):
            self.unpersisted = True

    a, b = FakeDF(), FakeDF()

    @appcache.memo(readers=("q_ann",))
    def index(spark, sf_dir):
        return (a, [1, 2, 3]) if sf_dir == "sf1" else b

    s = _session("app-1")
    index(s, "sf1")
    index(s, "sf2")
    assert appcache.evict_for("q_ann") is True
    assert index.cache == {} and a.unpersisted and b.unpersisted


#: Data memos that registered ids read but no evictor clears: a "cold"
#: re-sample of those ids is warm. Closing the gap moves gated bench
#: metrics (perfbench's dedup_minhash_pairs_md5 op reads
#: _minhash_md5_sig), so it is its own change; this set may only shrink
#: together with that change.
EVICTION_GAP = {
    "kdcloganalyzer_spark.plans.llm_pipeline._wordsets",
    "kdcloganalyzer_spark.plans.llm_pipeline._dfreq_table",
    "kdcloganalyzer_spark.plans.llm_pipeline._minhash_md5_sig",
    "kdcloganalyzer_spark.plans.llm_pipeline.exact_pairs_md5_slice",
    "kdcloganalyzer_spark.plans.curation._novelty_grams",
    "kdcloganalyzer_spark.plans.relational._daypart_events",
    "kdcloganalyzer_spark.plans.relational._zorder_docs",
}
#: Memos of metadata or session state, never of data or results.
NOT_DATA = {
    "kdcloganalyzer_spark.sources.tables._read_schema",
    "kdcloganalyzer_spark.sources.tables._pin_conf",
    "kdcloganalyzer_spark.sources.kdc_pyds._register_source",
}


def test_dedup_semantic_evicts_the_ivf_index():
    """``dedup_semantic`` reads the IVF quantizer, so its cold re-sample
    must rebuild it."""
    from kdcloganalyzer_spark.plans import llm_pipeline

    cache = llm_pipeline._ivf_index.cache
    cache[("app-1", "sf")] = ("index", "centers")
    try:
        assert appcache.evict_for("dedup_semantic")
        assert ("app-1", "sf") not in cache
    finally:
        cache.pop(("app-1", "sf"), None)


def test_memos_without_readers_are_pinned():
    from kdcloganalyzer_spark.plans import registry
    from kdcloganalyzer_spark.sources import kdc_pyds, tables  # noqa: F401

    registry.load_all()
    unread = {
        f"{m.__module__}.{m.__qualname__}"
        for m in appcache._MEMOS
        if m.readers is None
    }
    assert unread == EVICTION_GAP | NOT_DATA


def test_app_scoped_caches_live_only_in_appcache():
    """Outside appcache, no module keys a cache on applicationId, calls
    the stale-entry drop, makes a scratch dir other than through
    ``appcache.tempdir`` (the only one removed at exit), or registers an
    evictor by hand — except join_bucketed's catalog evictor, whose
    cache is not a dict."""
    offenders = []
    registrations = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "appcache.py":
            continue
        rel = path.relative_to(PKG).as_posix()
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if re.search(
                r"\.applicationId\b|\bevict_stale\b|\bmkdtemp\b", line
            ):
                offenders.append(f"{rel}:{n}: {line.strip()}")
            if "register_evictor(" in line:
                registrations.append(rel)
    assert offenders == []
    assert registrations == ["plans/relational.py"]
