"""Benchmark harness (driver contract).

Runs every registered query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {id: sec}, "sf": ...}

Each query is materialized with the noop sink — full execution of the plan
(scan → shuffle → agg) without collect/driver-transfer overhead, i.e. what
a cluster run would actually pay.
"""

from __future__ import annotations

import json
import logging
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kdcloganalyzer_spark.plans import registry
from kdcloganalyzer_spark.session import DEFAULT_CPUS, get_spark
from kdcloganalyzer_spark.sources.kdc_synth import sf_label

log = logging.getLogger(__name__)


def _loadavg() -> list[float]:
    """1/5/15-min load averages — recorded so round-over-round comparisons
    can separate code changes from ambient machine load (the same suite
    measured 91.7→114 s across one day at identical code)."""
    try:
        with open("/proc/loadavg") as f:
            return [round(float(x), 2) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return []


def _cpu_ticks() -> tuple[int, int]:
    """(steal_ticks, total_ticks) from the aggregate /proc/stat cpu line.

    Steal is the hypervisor running someone else on our vCPUs — the r13
    failure mode: all three BENCH_r13 runs were inflated by episodic
    steal the guest's own loadavg could not see in advance (1-min load
    15+ with the guest idle). Sampling the counters around the run makes
    inflation a measured receipt instead of an inference (VERDICT r13
    item 1)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals)
    except (OSError, ValueError, IndexError):
        return 0, 0


def _steal_pct(
    before: tuple[int, int], after: tuple[int, int]
) -> float:
    """Percent of elapsed CPU ticks stolen between two samples."""
    dt = after[1] - before[1]
    if dt <= 0:
        return 0.0
    return round(100.0 * (after[0] - before[0]) / dt, 3)


def _wait_for_calm_steal(
    window_sec: float = 5.0,
    threshold_pct: float = 0.5,
    max_wait_sec: float = 240.0,
) -> tuple[float, float]:
    """Block (bounded) until a `window_sec` sample shows steal below
    `threshold_pct`. Steal is episodic on this host, so a calm window is
    no guarantee for the whole run — the run-long delta (steal_pct in
    the JSON) is the actual receipt; this wait just avoids STARTING
    inside an episode. Returns (seconds waited, last window's steal %).
    Disable with SPARK_GRAFT_NO_WAIT=1 (same knob as the load wait)."""
    if os.environ.get("SPARK_GRAFT_NO_WAIT"):
        return 0.0, 0.0
    t0 = time.monotonic()
    last = 0.0
    while True:
        s0 = _cpu_ticks()
        time.sleep(window_sec)
        last = _steal_pct(s0, _cpu_ticks())
        if last < threshold_pct:
            break
        if time.monotonic() - t0 >= max_wait_sec:
            break
    return round(time.monotonic() - t0, 1), last


def _wait_for_idle(
    threshold: float = 1.5,
    max_wait_sec: float = 240.0,
    hard_cap_sec: float = 600.0,
) -> float:
    """Block (bounded) until the 1-min loadavg drops below `threshold`.

    The driver calls bench.py right after its gate/pytest phase, so the
    box's load is usually a decaying tail of finished work — BENCH_r06
    started at loadavg 5.1 and its headline was uninterpretable (VERDICT
    r6 item 3). A 1-min loadavg halves roughly every 60 s once the work
    stops, so a few minutes of waiting converts a busy-machine number
    into an attributable one; the cap keeps a genuinely-busy machine
    from stalling the run (we then record the load and move on).

    VERDICT r10 item 8: BENCH_r10's 80 s cap expired mid-decay (load
    1.49 at first timed query). The soft cap now EXTENDS while the load
    is still clearly falling (≥10% drop over the trailing minute — a
    decaying tail, not steady ambient work), up to `hard_cap_sec`;
    a flat-but-high load still exits at `max_wait_sec` so a genuinely
    busy box can't stall the driver.
    Returns seconds actually waited. Disable with SPARK_GRAFT_NO_WAIT=1.
    """
    if os.environ.get("SPARK_GRAFT_NO_WAIT"):
        return 0.0
    t0 = time.monotonic()
    minute_ago: list[tuple[float, float]] = []  # (t, load) trail
    while True:
        la = _loadavg()
        if not la or la[0] < threshold:
            break
        now = time.monotonic()
        elapsed = now - t0
        if elapsed >= hard_cap_sec:
            break
        if elapsed >= max_wait_sec:
            minute_ago = [(t, v) for t, v in minute_ago if now - t <= 75]
            past = [v for t, v in minute_ago if now - t >= 45]
            still_falling = bool(past) and la[0] <= 0.9 * max(past)
            if not still_falling:
                break
        minute_ago.append((now, la[0]))
        time.sleep(10)
    return round(time.monotonic() - t0, 1)


def _warm_streaming_engine(spark) -> None:
    """Untimed warm-up of the per-PROCESS one-time costs the streaming
    tier otherwise charges to whichever id runs first: streaming-engine
    class loading (~1.3 s), the applyInPandasWithState Arrow/worker
    path (~1 s), and codegen of the KDC sessionizer's projection
    shapes (~3.8 s measured — first sessionize 6.2 s vs 2.4 s warm).
    The batch ids get exactly this treatment from the trivial-job
    warm-up plus min-of-3; with `cold_queries` now recording each
    amortized id's FIRST run, the same fairness needs the engine (not
    the queries' data) pre-warmed. Best-effort: a warm-up failure must
    never kill the bench."""
    try:
        from pyspark.sql import functions as F
        from pyspark.sql.streaming.state import GroupStateTimeout

        from kdcloganalyzer_spark import appcache

        d = appcache.tempdir("bench_warm_")
        spark.range(100).selectExpr(
            "id", "timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,id) AS ts"
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/in")
        schema = spark.read.parquet(f"{d}/in").schema
        sdf = (
            spark.readStream.schema(schema)
            .parquet(f"{d}/in")
            .groupBy((F.col("id") % 5).alias("k"))
            .count()
        )
        q = (
            sdf.writeStream.format("memory")
            .queryName("bench_warm_stream")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        def upd(key, pdfs, state):
            import pandas as pd

            n = state.get[0] if state.exists else 0
            for pdf in pdfs:
                n += len(pdf)
            state.update((n,))
            yield pd.DataFrame({"k": [key[0]], "n": [n]})

        st = (
            spark.readStream.schema(schema)
            .parquet(f"{d}/in")
            .withColumn("k", F.col("id") % 5)
            .groupBy("k")
            .applyInPandasWithState(
                upd,
                outputStructType="k BIGINT, n BIGINT",
                stateStructType="n BIGINT",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        q = (
            st.writeStream.format("memory")
            .queryName("bench_warm_state")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        # The remaining engine shapes the stream tier JITs on first use
        # (measured r13: a minimal applyInPandasWithState batch costs
        # ~6 s on first execution, ~1 s after; binaryFile/foreachBatch,
        # session_window, dropDuplicates and the stream-stream join
        # each carry a similar first-run codegen/classload penalty).
        # One tiny bounded run per shape keeps that out of the timed
        # colds — plan-shape JIT is data-independent.
        os.makedirs(f"{d}/bin", exist_ok=True)
        for i in range(3):
            with open(f"{d}/bin/w{i}.txt", "w") as fh:
                fh.write("warm\n")
        ev = spark.readStream.schema(schema).parquet(f"{d}/in")
        wa = ev.selectExpr("id AS a_id", "ts AS a_ts").withWatermark(
            "a_ts", "1 minute"
        )
        wb = ev.selectExpr("id AS b_id", "ts AS b_ts").withWatermark(
            "b_ts", "1 minute"
        )
        shapes = [
            spark.readStream.format("binaryFile")
            .schema(
                "path string, modificationTime timestamp, "
                "length long, content binary"
            )
            .option("maxFilesPerTrigger", 2)
            .load(f"{d}/bin")
            .writeStream.foreachBatch(
                lambda df, _i: df.select("path").collect()
            )
            .outputMode("append"),
            ev.withWatermark("ts", "1 minute")
            .groupBy(F.session_window("ts", "30 seconds"), "id")
            .count()
            .writeStream.format("noop")
            .outputMode("append"),
            ev.withWatermark("ts", "1 minute")
            .dropDuplicates(["id"])
            .writeStream.format("noop")
            .outputMode("append"),
            wa.join(
                wb,
                (F.col("a_id") == F.col("b_id"))
                & (F.col("b_ts") >= F.col("a_ts"))
                & (
                    F.col("b_ts")
                    <= F.col("a_ts") + F.expr("INTERVAL 10 SECONDS")
                ),
                "inner",
            )
            .writeStream.format("noop")
            .outputMode("append"),
        ]
        for i, writer in enumerate(shapes):
            q = (
                writer.option("checkpointLocation", f"{d}/ck{i}")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        from kdcloganalyzer_spark.operators.sessionize import sessionize
        from kdcloganalyzer_spark.sources.kdc_log import read_log_lines_raw
        from kdcloganalyzer_spark.sources.kdc_synth import synth_dir_for_sf

        log_dir = synth_dir_for_sf(
            os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        )
        # Full corpus, full plan shape: a `.limit(1)` variant does NOT
        # pay the same codegen units (measured: first sessionize still
        # 6.4 s after a limited warm-up; ~4.7 s of the cost is
        # plan-shape-fixed), and the JIT of the regex-heavy projection
        # needs real line volume — exactly the treatment every batch
        # id's first-of-three untimed run provides.
        sessionize(read_log_lines_raw(spark, log_dir)).write.format(
            "noop"
        ).mode("overwrite").save()
    except Exception:  # noqa: BLE001 — warm-up is best-effort
        log.warning("sessionize warm-up failed", exc_info=True)


def _evict_amortized(qid: str) -> bool:
    """Clear every amortized cache `qid` reads through so a repeat run
    is genuinely cold. r14: routed through the appcache eviction
    registry (each plan module registers its caches with the qids they
    serve — stream results, ANN indexes, PCA/HITS/coreset reports, the
    kdc_records checkpoint, bucketed tables, BPE merges, LP labels,
    staged CSV dirs), so min-of-N cold sampling applies uniformly
    instead of stream-only (VERDICT r13 item 2). Returns True if at
    least one cache was cleared."""
    try:
        from kdcloganalyzer_spark import appcache

        return appcache.evict_for(qid)
    except Exception:  # noqa: BLE001 — bench must survive anything
        log.warning("cache eviction failed for %s", qid, exc_info=True)
        return False


def _local_table_path(
    here: str,
    load_inflated: bool,
    steal_inflated: bool,
    steal_pct_run: float,
) -> str:
    """Where this run's full per-query table should land.

    An inflated run must not OVERWRITE a CALMER local reference (VERDICT
    r13 item 1, repaired per VERDICT r14 item 3: the old guard required
    the previous table to be perfectly calm, so the driver's 1.7%-steal
    run overwrote a 0.43%-steal one whose only flag was its own warm-up
    load). Calmness is compared as (flag count, then run-long steal %);
    a flagged run that is not calmer than the existing table lands in
    BENCH_LOCAL_INFLATED_c{cpus}.json instead, unless forced. A
    fully-calm run (0 flags) always wins — it reflects the current code.

    The inflated filename is keyed by the run's core count (VERDICT r15
    item 2a): the r15 8-core scaling run was "calmer" than the 32-core
    run and OVERWROTE its per-id steal receipts — exactly the instrument
    needed to triage that round's apparent regressions. Runs at
    different core counts are different measurements; they must never
    clobber each other's receipt files."""
    local_path = os.path.join(here, "BENCH_LOCAL.json")
    cur_key = (int(load_inflated) + int(steal_inflated), steal_pct_run)
    if cur_key[0] > 0 and not os.environ.get("SPARK_GRAFT_FORCE_BENCH"):
        try:
            with open(local_path) as f:
                prev = json.load(f)
            prev_key = (
                int(bool(prev.get("load_inflated")))
                + int(bool(prev.get("steal_inflated"))),
                float(prev.get("steal_pct_run") or 0.0),
            )
        except (OSError, ValueError):
            return local_path
        if prev_key < cur_key:
            cpus = os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_CPUS)
            return os.path.join(here, f"BENCH_LOCAL_INFLATED_c{cpus}.json")
    return local_path


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_label(sf_dir, "-1"))
    idle_wait = _wait_for_idle()

    registry.load_all()
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen warm-up on a trivial job so q1 isn't charged for startup.
    spark.range(100000).selectExpr("sum(id)").collect()
    _warm_streaming_engine(spark)

    # Second idle check AFTER registry+JVM startup (~20-40 s of wall time
    # in which an ambient load tail keeps decaying): BENCH_r07 started at
    # loadavg 1.7 because the driver truncated the pre-start wait at 40 s
    # (VERDICT r7 item 7) — re-checking here converts that truncated wait
    # into an attributable number, and `loadavg_mid` records what the box
    # looked like when the first timed query actually ran.
    # r14: threshold aligned with the load_inflated flag (1.0) — the
    # bench's OWN warm-up drives the 1-min load to ~5, and a wait that
    # exits at <1.5 left loadavg_warm in [1.0, 1.5) and self-flagged
    # the run (BENCH r14 run 4: steal-clean but load-flagged at 1.26).
    idle_wait_mid = _wait_for_idle(threshold=1.0, max_wait_sec=240.0)
    load_mid = _loadavg()

    # VERDICT r9 item 8: if the box is STILL loaded after both waits
    # (BENCH_r09 measured at 1-min load 1.33 with the wait capped out),
    # retry once with a fresh full-length wait and record it — a r10+
    # BENCH either starts under load 1.5 or carries the retry receipt
    # in its own JSON.
    # r15 (ADVICE r14): the retry targets the load_inflated flag's own
    # 1.0 threshold — a retry that exits in [1.0, 1.5) would still
    # self-flag the run, the exact failure mode the r14 mid-wait fix
    # closed for the first wait.
    idle_wait_retry = 0.0
    if load_mid and load_mid[0] > 1.0:
        idle_wait_retry = _wait_for_idle(threshold=1.0, max_wait_sec=240.0)
    # Steal-calm gate (VERDICT r13 item 1): loadavg cannot see the
    # hypervisor running someone else — wait (bounded) for a 5 s window
    # with <0.5% steal before the first timed query, and record the
    # run-long steal delta below as the attribution receipt.
    steal_wait, steal_window_pct = _wait_for_calm_steal()
    loadavg_warm = _loadavg()  # load when the first timed query runs
    # Machine-readable discount flag (VERDICT r10 item 8, threshold
    # tightened per VERDICT r11: BENCH_r11 started at warm load 1.4 with
    # the flag false — anything above ~1.0 at warm start is ambient work
    # competing with the first timed queries). Consumers comparing
    # round-over-round totals should prefer the nearest idle run instead
    # of reading a flagged run as a regression. (The bench itself drives
    # loadavg_end to ~3 — only the WARM-start value is diagnostic.)
    load_inflated = bool(loadavg_warm) and loadavg_warm[0] > 1.0

    load_start = loadavg_warm
    steal_run_start = _cpu_ticks()
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    cold_queries: dict[str, float] = {}
    cold_first_queries: dict[str, float] = {}
    steal_queries: dict[str, float] = {}
    errors: dict[str, str] = {}
    # Seeded-permuted execution order (VERDICT r13 item 6): the r13
    # outlier cluster was alphabetical neighbors — a steal episode hits
    # a contiguous wall-clock span, and a fixed alphabetical order maps
    # that span onto the same query family every round, masquerading as
    # a family regression. A recorded random order decorrelates the two
    # (rerun with SPARK_GRAFT_BENCH_SEED to reproduce an exact order).
    env_seed = os.environ.get("SPARK_GRAFT_BENCH_SEED")
    order_seed = (
        int(env_seed)
        if env_seed
        else int.from_bytes(os.urandom(4), "little")
    )
    order = sorted(registry.QUERIES)
    random.Random(order_seed).shuffle(order)
    for qid in order:
        fn = registry.QUERIES[qid]
        # Three timed executions per query. The first doubles as JVM
        # codegen/JIT warm-up; `queries` records the MIN (compatible with
        # the r1–r5 numbers, which were min-of-2) and `medians` records
        # the median-of-3 — the load-robust statistic BASELINE.md now
        # cites, since the box shows ±30% run-to-run spread under ambient
        # load and min-of-2 still let one co-scheduled burst distort a
        # query's number. A failing query is RECORDED, never fatal: the
        # suite total and the JSON line must exist even when one operator
        # regresses.
        try:
            q_steal0 = _cpu_ticks()
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(time.perf_counter() - t0)
            timings[qid] = round(min(runs), 3)
            medians[qid] = round(sorted(runs)[1], 3)
            # Amortized-result detection (VERDICT r12 item 2): the
            # streaming ids cache their bounded run per (appId, sf), so
            # runs 2-3 measure a dict lookup + block fetch, not the
            # stream. A >10x first-to-second drop with a non-trivial
            # first run is a cache signature (JIT warm-up on batch
            # queries is ~2-3x, never 10x past 0.4 s) — record the COLD
            # first run separately so the headline can't silently
            # exclude real streaming cost and a streaming regression
            # stays visible round-over-round.
            if runs[0] > 0.4 and runs[0] > 10 * min(runs[1:]):
                # ADVICE r13: runs[0] includes one-time staging +
                # per-plan codegen the evicted re-samples skip —
                # record it separately (cold_first_queries) so the
                # min-of-N cold (cold_queries) is not misread as the
                # pre-r13 first-run definition.
                cold_first_queries[qid] = round(runs[0], 3)
                cold_queries[qid] = round(runs[0], 3)
                # Single cold samples are hostage to this host's CPU
                # steal (r13: identical code measured 46 s and 182 s
                # tier totals an hour apart; vmstat shows episodic
                # steal under load). For ids whose amortization cache
                # is clearable — the streaming tier — take two more
                # genuinely-cold samples and record the MIN, the same
                # load-robustness rationale as min-of-3 on warm runs.
                colds = [runs[0]]
                for _ in range(2):
                    if not _evict_amortized(qid):
                        break
                    t0 = time.perf_counter()
                    fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    dt = time.perf_counter() - t0
                    # still >10x the warm floor → genuinely re-ran cold
                    if dt > 10 * min(runs[1:]):
                        colds.append(dt)
                    else:  # cache wasn't actually cleared; keep 1 sample
                        break
                cold_queries[qid] = round(min(colds), 3)
            # Per-query steal attribution: a nonzero entry means the
            # hypervisor stole ticks DURING this id's samples — the
            # machine-readable version of r13's "steal is the likely
            # cause" triage. Sampled AFTER the cold re-sample loop
            # (ADVICE r14): a steal episode hitting only the evicted
            # cold re-runs inflates cold_queries/cold_total, so the
            # receipt must cover those runs too or an inflated cold id
            # would present as a regression with a clean receipt.
            q_steal = _steal_pct(q_steal0, _cpu_ticks())
            if q_steal > 0:
                steal_queries[qid] = q_steal
        except Exception as e:  # noqa: BLE001 — bench must survive any query
            errors[qid] = f"{type(e).__name__}: {e}"[:300]

    # KDC parser throughput, uncached (the registered query reads the
    # persisted records; this times the raw scan→sessionize pipeline).
    try:
        from kdcloganalyzer_spark.operators.sessionize import sessionize
        from kdcloganalyzer_spark.sources.kdc_log import read_log_lines_raw
        from kdcloganalyzer_spark.sources.kdc_synth import synth_dir_for_sf

        log_dir = synth_dir_for_sf(sf_dir)
        t0 = time.perf_counter()
        sessionize(read_log_lines_raw(spark, log_dir)).write.format(
            "noop"
        ).mode("overwrite").save()
        timings["kdc_parse_uncached"] = round(time.perf_counter() - t0, 3)
        # Single-shot by design (a warm cache would understate the raw
        # parse cost); reuse the one sample so median_total covers the
        # same query set as value.
        medians["kdc_parse_uncached"] = timings["kdc_parse_uncached"]
    except Exception as e:  # noqa: BLE001
        errors["kdc_parse_uncached"] = f"{type(e).__name__}: {e}"[:300]

    total = round(sum(timings.values()), 3)
    # Suite total with each amortized id's COLD first run substituted
    # for its cached min — the number comparable to pre-r12 totals
    # (before the streaming result cache) and the one that moves when
    # streaming cold cost regresses.
    cold_total = round(
        total
        + sum(cold_queries[q] - timings[q] for q in cold_queries),
        3,
    )
    # A crashed query contributes 0 to the sum, which would make a
    # regression LOOK like a speedup. Make failure visible in the metric
    # itself: errored runs report under a different metric name, so no
    # consumer can mistake a partial total for the full-suite number
    # (n_errors still carries the count).
    metric = (
        "full_query_suite_wall_sec"
        if not errors
        else "partial_query_suite_wall_sec"
    )
    # Run-long steal receipt: the per-window gate above can only avoid
    # STARTING in an episode; this delta says whether one hit mid-run.
    steal_pct_run = _steal_pct(steal_run_start, _cpu_ticks())
    steal_inflated = steal_pct_run > 0.5
    result = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        "queries": timings,
        "medians": medians,
        "median_total": round(sum(medians.values()), 3),
        "cold_queries": cold_queries,
        "cold_first_queries": cold_first_queries,
        "cold_total": cold_total,
        "n_cold": len(cold_queries),
        "order_seed": order_seed,
        "loadavg_start": load_start,
        "loadavg_mid": load_mid,
        "loadavg_end": _loadavg(),
        "idle_wait_sec": idle_wait,
        "idle_wait_mid_sec": idle_wait_mid,
        "idle_wait_retry_sec": idle_wait_retry,
        "steal_wait_sec": steal_wait,
        "steal_window_pct": steal_window_pct,
        "steal_pct_run": steal_pct_run,
        "steal_inflated": steal_inflated,
        "steal_queries": steal_queries,
        "loadavg_warm": loadavg_warm,
        "load_inflated": load_inflated,
        "errors": errors,
        "sf": sf,
    }
    # Full per-query detail goes to a file; stdout gets a line that FITS
    # the driver's 2000-char stdout-tail capture (the full 105-query dict
    # is ~2.8 KB, which truncated the r1 line and left it unparseable).
    here = os.path.dirname(os.path.abspath(__file__))
    local_path = _local_table_path(
        here, load_inflated, steal_inflated, steal_pct_run
    )
    with open(local_path, "w") as f:
        json.dump(result, f, indent=1)

    # Greedy slowest-first fill of the stdout line under a byte budget:
    # serialize each candidate entry once and track the accumulated
    # length instead of re-dumping the whole dict per iteration.
    base = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "median_total": round(sum(medians.values()), 3),
        "cold_total": cold_total,
        "n_cold": len(cold_queries),
        "order_seed": order_seed,
        "loadavg_start": load_start,
        "loadavg_mid": load_mid,
        "loadavg_end": _loadavg(),
        "idle_wait_sec": idle_wait,
        "idle_wait_mid_sec": idle_wait_mid,
        "idle_wait_retry_sec": idle_wait_retry,
        "steal_wait_sec": steal_wait,
        "steal_pct_run": steal_pct_run,
        "steal_inflated": steal_inflated,
        "loadavg_warm": loadavg_warm,
        "load_inflated": load_inflated,
        # Top per-id steal receipts ON the stdout line (VERDICT r15 item
        # 2b): when a run is steal-flagged, the per-id attribution is the
        # instrument that separates a hypervisor episode from a real
        # regression — putting the worst-hit ids in the driver-captured
        # line means the triage survives even if the local receipt file
        # is later overwritten. Capped (8 ids, ≥1% in-window steal) so
        # the slowest-query fill below keeps most of the byte budget.
        "steal_queries": dict(
            sorted(
                ((q, s) for q, s in steal_queries.items() if s >= 1.0),
                key=lambda kv: kv[1],
                reverse=True,
            )[:8]
        ),
        "queries": {},
        "queries_file": os.path.basename(local_path),
    }
    budget = 1700
    used = len(json.dumps(base, separators=(",", ":")))
    shown: dict[str, float] = {}
    for qid in sorted(timings, key=timings.get, reverse=True):
        entry = len(json.dumps({qid: timings[qid]}, separators=(",", ":"))) - 2
        if used + entry + (1 if shown else 0) > budget:
            break
        used += entry + (1 if shown else 0)
        shown[qid] = timings[qid]
    base["queries"] = shown
    # Always exit 0 with the JSON line on stdout — `n_errors`/BENCH_LOCAL
    # carry any per-query failures; a nonzero rc would make the driver
    # discard the whole run (as r2's crash did).
    print(json.dumps(base, separators=(",", ":")))


if __name__ == "__main__":
    main()
