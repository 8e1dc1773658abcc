"""Pins for bench.py's amortized-cold measurement protocol (VERDICT r12
item 2, hardened r13, made uniform r14): every amortized id's cache is
evictable BY QUERY ID through the appcache eviction registry, so the
min-of-N genuinely-cold sampling applies to the batch amortized ids
(ANN indexes, PCA/HITS/coreset reports, kdc_records, bucketed tables)
exactly as it does to the streaming tier — not stream-only."""

from __future__ import annotations

import logging
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from kdcloganalyzer_spark import appcache  # noqa: E402
from kdcloganalyzer_spark.plans import (  # noqa: E402
    analytics as an,
    kdc_queries as kq,
    llm_pipeline as lp,
    round11_ops as r11,
    round12_ops as r12,
    streaming_queries as sq,
)


def test_evict_amortized_clears_stream_cache():
    """Any stream_ id clears every stream-result memo, as the one shared
    stream cache was cleared before."""
    for fn in (sq.stream_window_tumbling, sq.stream_bollinger_bands):
        fn.cache[("app", "sf")] = object()
    assert bench._evict_amortized("stream_window_tumbling") is True
    assert sq.stream_window_tumbling.cache == {}
    assert sq.stream_bollinger_bands.cache == {}


def test_evict_amortized_covers_the_batch_amortized_ids():
    """The five non-stream cold ids from BENCH_r13 (VERDICT r13 item 2)
    must each be evictable, and eviction must actually drain the cache
    that serves them."""
    cases = [
        ("embed_pca_power_iteration", r12.embed_pca_power_iteration.cache),
        ("graph_hits_bipartite", r12.graph_hits_bipartite.cache),
        ("sample_coreset_kcenter", r12.sample_coreset_kcenter.cache),
        ("agg_enctype_dim", kq._persisted_records.cache),
        # join_bucketed's cache is the Spark catalog (needs a session);
        # its registration is covered by the registry test below.
    ]
    for qid, cache in cases:
        cache[("app", "sf")] = object()
        assert bench._evict_amortized(qid) is True, qid
        assert cache == {}, qid


def test_evictor_registry_has_index_and_staging_hooks():
    """The shared index caches named by VERDICT r13 item 2 are each
    behind a registered evictor keyed to their consumer ids."""
    for qid, cache in [
        ("sim_search_ivf", lp._ivf_index.cache),
        ("sim_search_pq", lp._pq_index.cache),
        ("sim_search_ivfpq", lp._ivfpq_corpus.cache),
        ("dedup_embedding_cosine", lp._pivot_index.cache),
        ("text_bpe_train_merges", r11._bpe_merges.cache),
        ("pipeline_bpe_tokenize", r11._bpe_merges.cache),
        ("graph_community_modularity", r11._lp3_labels.cache),
        ("scan_csv_multiline_quoted", r11._multiline_csv.cache),
    ]:
        cache[("app", "sf")] = object()
        assert appcache.evict_for(qid) is True, qid
        assert cache == {}, qid
    # join_bucketed has a (catalog-backed) evictor registered too
    assert any(
        m("join_bucketed") for m, _ in appcache._EVICTORS
    )


def test_evict_amortized_false_for_unamortized_ids():
    """An id with no registered cache keeps its single-sample cold —
    the bench must not loop on it."""
    assert bench._evict_amortized("analytics_pricing_summary") is False


def test_kdc_module_matcher_scopes_to_kdc_ids():
    """The kdc_records evictor fires for every id registered by the
    kdc_queries module and for no relational id."""
    from kdcloganalyzer_spark.plans import registry

    registry.load_all()
    assert kq._persisted_records.readers == kq.__name__
    m = appcache._matcher(kq._persisted_records.readers)
    assert m("agg_enctype_dim") and m("kdc_password_spray")
    assert not m("join_bucketed") and not m("nonexistent_id")


def test_unpersist_called_on_evicted_dataframes():
    """The memo evictor must best-effort unpersist DataFrame values,
    including tuple-packed ones (the ANN caches store (df, codebook))."""

    class FakeDF:
        def __init__(self):
            self.unpersisted = False

        def unpersist(self):
            self.unpersisted = True

    cache = {}
    a, b = FakeDF(), FakeDF()
    cache["k1"] = a
    cache["k2"] = (b, [1, 2, 3])
    appcache._dict_cache_evictor(cache)()
    assert cache == {} and a.unpersisted and b.unpersisted


def test_failing_evictor_is_logged_and_others_still_run(monkeypatch, caplog):
    """A raising evictor must neither stop the others nor pass silently:
    its cache stays warm, so a "cold" re-run would time a warm one."""
    cleared = []

    def broken():
        raise RuntimeError("evictor exploded")

    monkeypatch.setattr(
        appcache,
        "_EVICTORS",
        [
            (lambda qid: qid == "q", broken),
            (lambda qid: qid == "q", lambda: cleared.append("q")),
        ],
    )
    with caplog.at_level(logging.WARNING, logger="kdcloganalyzer_spark"):
        assert appcache.evict_for("q") is True
    assert cleared == ["q"]
    (rec,) = caplog.records
    assert rec.name == "kdcloganalyzer_spark.appcache"
    assert rec.exc_info and "evictor exploded" in str(rec.exc_info[1])
    caplog.clear()
    monkeypatch.setattr(appcache, "_EVICTORS", [(lambda qid: True, broken)])
    assert appcache.evict_for("q") is False
    assert len(caplog.records) == 1


def test_failed_unpersist_is_logged(caplog):
    class BrokenDF:
        def unpersist(self):
            raise RuntimeError("gone")

    cache = {"k": BrokenDF()}
    with caplog.at_level(logging.WARNING, logger="kdcloganalyzer_spark"):
        appcache._dict_cache_evictor(cache)()
    assert cache == {}
    assert [r.exc_info[1].args for r in caplog.records] == [("gone",)]


def test_every_registered_evictor_matches_a_live_qid():
    """Registry property (VERDICT r14 item 6): every registered evictor's
    matcher must hit >=1 qid in the LIVE registry. A renamed or deleted
    qid silently orphaning an evictor is the failure mode — the cache
    would then never be evicted for the bench's min-of-N cold protocol
    (and the orphan would rot unnoticed, since evict_for just returns
    False). Deliberately breaking one matcher (e.g. renaming a consumer
    id) makes this fail with the evictor's index for triage."""
    from kdcloganalyzer_spark.plans import registry

    registry.load_all()
    qids = list(registry.QUERIES)
    orphans = [
        i
        for i, (matcher, _evict) in enumerate(appcache._EVICTORS)
        if not any(matcher(q) for q in qids)
    ]
    assert orphans == [], (
        f"evictors {orphans} match no registered qid "
        f"(of {len(appcache._EVICTORS)} registered evictors)"
    )


def test_edge_cache_evictors_registered():
    """ADVICE r14: the shared graph edge caches must be behind
    registered evictors so graph ids get genuine min-of-3 cold."""
    for qid, cache in [
        ("graph_pagerank", an._coorder_edges.cache),
        ("graph_triangle_count", an._copart_edges.cache),
    ]:
        cache[("app", "sf")] = object()
        assert appcache.evict_for(qid) is True, qid
        assert cache == {}, qid


def test_evict_amortized_logs_and_returns_false_on_failure(monkeypatch, caplog):
    """A raising eviction registry must not kill the bench: the id keeps
    its single cold sample, and the failure is logged once."""

    def broken(qid):
        raise RuntimeError("registry exploded")

    monkeypatch.setattr(appcache, "evict_for", broken)
    with caplog.at_level(logging.WARNING):
        assert bench._evict_amortized("stream_window_tumbling") is False
    (rec,) = caplog.records
    assert rec.exc_info and "registry exploded" in str(rec.exc_info[1])


def test_local_table_guard_prefers_calmer_table(tmp_path, monkeypatch):
    """VERDICT r14 item 3: the overwrite guard compares calmness as
    (flag count, steal %) — a flagged run only overwrites a reference
    that is at least as noisy; a fully-calm run always overwrites."""
    import json

    monkeypatch.delenv("SPARK_GRAFT_FORCE_BENCH", raising=False)
    here = str(tmp_path)
    ref = tmp_path / "BENCH_LOCAL.json"

    def write_ref(load_infl, steal_infl, steal_pct):
        ref.write_text(
            json.dumps(
                {
                    "load_inflated": load_infl,
                    "steal_inflated": steal_infl,
                    "steal_pct_run": steal_pct,
                }
            )
        )

    # the r14 incident: prev = steal-clean but load-flagged (1 flag,
    # 0.431%); current = driver run (1 flag, 1.706% steal) -> diverted,
    # to a CPU-KEYED file (VERDICT r15 item 2a: the c8 scaling run
    # overwrote the c32 run's per-id steal receipts)
    write_ref(True, False, 0.431)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert bench._local_table_path(here, False, True, 1.706).endswith(
        "BENCH_LOCAL_INFLATED_c32.json"
    )
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert bench._local_table_path(here, False, True, 1.706).endswith(
        "BENCH_LOCAL_INFLATED_c8.json"
    )
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    # flagged run, but CALMER than the stored one -> overwrites
    write_ref(True, True, 2.0)
    assert bench._local_table_path(here, True, False, 0.9).endswith(
        "BENCH_LOCAL.json"
    )
    # fully-calm run always wins, even against a calm lower-steal prev
    write_ref(False, False, 0.1)
    assert bench._local_table_path(here, False, False, 0.4).endswith(
        "BENCH_LOCAL.json"
    )
    # no reference yet -> flagged run still lands in BENCH_LOCAL.json
    ref.unlink()
    assert bench._local_table_path(here, True, True, 9.9).endswith(
        "BENCH_LOCAL.json"
    )
    # forced -> always the main table
    write_ref(False, False, 0.0)
    monkeypatch.setenv("SPARK_GRAFT_FORCE_BENCH", "1")
    assert bench._local_table_path(here, True, True, 9.9).endswith(
        "BENCH_LOCAL.json"
    )
