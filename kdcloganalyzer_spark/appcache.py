"""Hygiene for app-scoped module-level caches and staged temp dirs.

The plan modules amortize expensive index builds (minhash signatures,
IVF/PQ quantizers, symmetric edge lists, the KDC records table) in
module-level dicts keyed on ``(applicationId, sf_dir, ...)``. That is the
right contract for a long-lived session, but a process that creates and
stops several SparkSessions (pytest does exactly that) would otherwise
accumulate dead-app entries forever, pinning lazy localCheckpoint blocks
for the process lifetime — ADVICE r5. ``evict_stale`` drops every entry
whose applicationId is not the live one; each cache getter calls it
before its own lookup, so the caches are bounded by one app's working
set.

``tempdir`` is ``tempfile.mkdtemp`` plus an atexit ``shutil.rmtree`` so
staged inputs / streaming checkpoints don't outlive the process.
"""

from __future__ import annotations

import atexit
import logging
import shutil
import tempfile
from collections.abc import Callable

log = logging.getLogger(__name__)

#: (matcher, evictor) pairs — the bench's min-of-N COLD protocol
#: (VERDICT r13 item 2) asks each amortized cache to be clearable BY
#: QUERY ID, so a re-run is genuinely cold. Matchers answer "does this
#: qid read through the cache I guard"; evictors drop the entries (and
#: best-effort unpersist DataFrames). Registered by the owning plan
#: module at import, consumed by bench.py.
_EVICTORS: list[tuple[Callable[[str], bool], Callable[[], None]]] = []


def register_evictor(
    matcher: Callable[[str], bool], evict: Callable[[], None]
) -> None:
    """Register an amortized-cache eviction hook.

    ``matcher(qid)`` must return True for every query id whose plan
    reads through the guarded cache (so evicting for that id makes its
    re-run cold); ``evict()`` clears the cache unconditionally."""
    _EVICTORS.append((matcher, evict))


def evict_for(qid: str) -> bool:
    """Clear every registered cache that ``qid`` reads through.

    Returns True iff at least one cache was cleared — the bench uses
    this as "a genuinely-cold re-sample is possible for this id". Both
    matcher and evictor failures are logged and skipped: cache hygiene
    must never kill a bench or test run, but a failed evictor may leave
    a "cold" re-run warm, so it must not pass silently."""
    hit = False
    for matcher, evict in _EVICTORS:
        try:
            if matcher(qid):
                evict()
                hit = True
        except Exception:  # noqa: BLE001 — hygiene is best-effort
            log.warning("cache evictor %r failed for %s", evict, qid, exc_info=True)
    return hit


def dict_cache_evictor(cache: dict) -> Callable[[], None]:
    """Evictor for the standard app-scoped dict cache: pop every entry
    and best-effort unpersist any DataFrame values (tuple values are
    unpacked — the ANN index caches store (df, codebook) pairs). The
    popped reference is the real cleanup; a failed unpersist only
    delays block reclamation to app exit."""

    def _evict() -> None:
        for k in list(cache):
            v = cache.pop(k, None)
            items = v if isinstance(v, tuple) else (v,)
            for item in items:
                unpersist = getattr(item, "unpersist", None)
                if callable(unpersist):
                    try:
                        unpersist()
                    except Exception:  # noqa: BLE001
                        log.warning("unpersist of evicted %r failed", k, exc_info=True)

    return _evict


def module_ids_matcher(module_name: str) -> Callable[[str], bool]:
    """Matcher: every qid registered by ``module_name`` — the right
    scope for a cache that (nearly) every query in one plan module
    reads through (e.g. the kdc_records persist)."""

    def _match(qid: str) -> bool:
        from kdcloganalyzer_spark.plans import registry

        fn = registry.QUERIES.get(qid)
        return fn is not None and fn.__module__ == module_name

    return _match


def evict_stale(cache: dict, spark) -> None:
    """Drop cache entries from stopped SparkSessions.

    Keys must be tuples whose first element is the owning applicationId
    (the convention every app-scoped cache here follows). Entries of the
    LIVE app are untouched; dead-app DataFrames can't be unpersisted
    through their stopped session, so dropping the reference is all the
    cleanup there is (the JVM-side blocks died with the app).
    """
    app = spark.sparkContext.applicationId
    for k in [k for k in cache if isinstance(k, tuple) and k and k[0] != app]:
        cache.pop(k, None)


#: name → (py4j gateway, value) for ``per_jvm``
_PER_JVM: dict[str, tuple[object, object]] = {}


def per_jvm(name: str, build: Callable[[], object]):
    """``build()`` once per live JVM, for Column trees reused across plan
    builds (building one costs a py4j round trip per node).

    Keyed to the py4j gateway, the way the data caches key on
    applicationId: a new gateway (a new JVM) rebuilds, and trees from a
    dead one are dropped. Sessions stopped and restarted on the same JVM
    share the trees — an unresolved Column holds no session state. No
    evictor: it caches expressions, not data, so a cold re-run of any
    query still recomputes everything. No lock: threads racing on a
    first build each build a valid tree, and the last one is kept."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    hit = _PER_JVM.get(name)
    if hit is None or hit[0] is not gw:
        hit = _PER_JVM[name] = (gw, build())
    return hit[1]


def persistent_stage(tag: str, srcs: list[str], build) -> str:
    """Cross-process idempotent staged-INPUT dir under /tmp.

    The streaming queries simulate a producer by splitting/replaying the
    driver's parquet into a monitored feed directory. That feed is a
    pure function of the source table, and in a real deployment it
    simply EXISTS — rebuilding it per process charged every cold bench
    run ~1 s per feed of fixture construction that is not streaming
    cost. Same persistence contract as the records/binfiles parquet
    (kdc_queries.records_path_for_sf): stable /tmp path, `_SUCCESS`
    marker, and — per ADVICE r12's staleness warning on basename-only
    keys — the path embeds a CONTENT fingerprint of the sources
    (path, mtime_ns, size), so a regenerated fixture can never reuse a
    stale export. Built in a pid-unique dir and os.rename()d into place
    (check-then-act markers race with the entry() prestage — SKILL.md).

    ``build(dir)`` must populate ``dir`` and may use Spark/DuckDB; file
    mtimes inside are preserved by the rename (tail-chunk staging
    depends on its utime ticks)."""
    import hashlib
    import json
    import os

    sig_parts = []
    for p in srcs:
        st = os.stat(p)
        sig_parts.append((p, st.st_mtime_ns, st.st_size))
    sig = hashlib.md5(
        json.dumps(sig_parts, sort_keys=True).encode()
    ).hexdigest()[:12]
    final = f"/tmp/kdcspark_stage_{tag}_{sig}"
    if not os.path.exists(os.path.join(final, "_SUCCESS")):
        bld = f"{final}.build.{os.getpid()}"
        os.makedirs(bld, exist_ok=True)
        build(bld)
        open(os.path.join(bld, "_SUCCESS"), "w").close()
        try:
            os.rename(bld, final)
        except OSError:
            # lost the rename race — the winner's dir is complete
            shutil.rmtree(bld, ignore_errors=True)
    return final


def tempdir(prefix: str, fast: bool = False) -> str:
    """mkdtemp that is removed at interpreter exit.

    ``fast=True`` prefers tmpfs (/dev/shm) when present — for
    commit-latency-bound scratch like streaming checkpoints of BOUNDED
    runs, where durability across a machine crash buys nothing (a real
    deployment points checkpoints at object storage instead)."""
    import os

    base = None
    if fast and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        base = "/dev/shm"
    d = tempfile.mkdtemp(prefix=prefix, dir=base)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d
