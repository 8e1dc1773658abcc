"""Warm queries must not recompile their generated code.

Spark keeps whole-stage codegen classes in an LRU of
``spark.sql.codegen.cache.maxEntries`` entries (Spark's default is 100).
One pass over the ids below compiles about 200 classes, so at the default
every id's classes are evicted before the id runs again and each warm run
recompiles byte-identical code. ``get_spark`` sizes the cache to the
engine's working set (``session.CODEGEN_CACHE_ENTRIES``); this test fails
if that setting is lost or shrinks below a query cycle.
"""

from __future__ import annotations

from kdcloganalyzer_spark import appcache
from kdcloganalyzer_spark.plans import registry
from kdcloganalyzer_spark.session import CODEGEN_CACHE_ENTRIES, codegen_compiles

registry.load_all()

#: perfbench's query_mix: the twelve KDC report ids plus four non-KDC
#: operators, each evicted (cold) before it runs
KDC_IDS = (
    "first_last_auth_per_user", "auth_count_per_user", "tgs_count_per_service",
    "first_last_use_per_service", "most_common_errors", "users_few_services",
    "top_n_kdc_entities", "counters_observe", "agg_tagged_union",
    "kdc_failed_auth_burst", "kdc_password_spray", "kdc_account_lockout",
)
ENGINE_IDS = (
    "dedup_minhash_pairs_md5", "events_user_entropy_cms", "multimodal_decode",
    "stream_window_tumbling",
)


def _pass(spark, sf_dir) -> dict[str, int]:
    compiles = {}
    for qid in KDC_IDS + ENGINE_IDS:
        appcache.evict_for(qid)
        before = codegen_compiles(spark)
        registry.QUERIES[qid](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        compiles[qid] = codegen_compiles(spark) - before
    return compiles


def test_session_sets_the_cache_size(spark):
    conf = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert int(conf) == CODEGEN_CACHE_ENTRIES


def test_second_pass_compiles_nothing(spark, sf_dir):
    _pass(spark, sf_dir)
    misses = {qid: n for qid, n in _pass(spark, sf_dir).items() if n}
    assert not misses, f"warm runs recompiled: {misses}"
