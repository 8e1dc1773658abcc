"""Property tests for the streaming result memos
(plans/streaming_queries.py, ``appcache.memo``) — VERDICT r12 item 6.

The cache is the amortization contract the bench's steady numbers rest
on, so its invariants get pinned mechanically:

1. a second invocation of an amortized id returns IDENTICAL rows (the
   cache may never change answers);
2. the cache key carries sf_dir — two scales must produce two distinct
   entries with their own results (this test FAILS if the key ever
   drops sf_dir: the second scale would serve the first scale's rows);
3. the memo drops dead-app entries on the next call, so a session
   bounce can never serve a frame whose JVM-side blocks died with the
   old app.
"""

from __future__ import annotations

from kdcloganalyzer_spark.plans import registry

registry.load_all()

CHEAP_ID = "stream_window_tumbling"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_second_invocation_identical_and_cached(spark, sf_dir):
    fn = registry.QUERIES[CHEAP_ID]
    first = _rows(fn(spark, sf_dir))
    key = (spark.sparkContext.applicationId, sf_dir)
    assert key in fn.cache, (
        "amortized id did not populate its result memo under the "
        "(appId, sf_dir) key"
    )
    assert _rows(fn(spark, sf_dir)) == first


def test_cache_key_carries_sf_dir(spark, sf_dir):
    fn = registry.QUERIES[CHEAP_ID]
    small = _rows(fn(spark, sf_dir))
    other_sf = "/root/testdata/sf0.01"
    bigger = _rows(fn(spark, other_sf))
    app = spark.sparkContext.applicationId
    assert (app, sf_dir) in fn.cache
    assert (app, other_sf) in fn.cache
    # sf0.01 has 10x the events of sf0.001: identical results would mean
    # the cache served a stale scale's frame.
    assert small != bigger
    assert sum(r[2] for r in bigger) > sum(r[2] for r in small)


def test_evict_stale_drops_dead_app_entries(spark, sf_dir):
    fn = registry.QUERIES[CHEAP_ID]
    fn(spark, sf_dir)  # ensure one live entry exists
    app = spark.sparkContext.applicationId
    live_key = (app, sf_dir)
    dead_key = ("app-DEAD-0000", sf_dir)
    live = fn.cache[live_key]
    fn.cache[dead_key] = live
    # the memo drops dead-app entries before its lookup, so a dead entry
    # can never be served, and the live one is still a hit
    assert fn(spark, sf_dir) is live
    assert dead_key not in fn.cache
    assert live_key in fn.cache
