"""Registered Structured Streaming queries (SURVEY.md §2.3 `stream_sessionize`
and the window/watermark family; reference EP2 `sink_stdout_stream`
lineage — the reference kdcmapper.pl:37-76 is a line-at-a-time
streaming mapper, which Structured Streaming generalizes).

One rule for the whole tier: a stream id runs a BOUNDED stream
(Trigger.AvailableNow) over its input and its answer is the result the
stream has produced when the input is exhausted — the answer over
arriving data IS the output (Online Aggregation for Large MapReduce
Jobs, VLDB'11). So the driver's batch-shaped contract
(`(spark, sf_dir) -> DataFrame`) holds while the plan underneath is a
genuine StreamingQuery with state, watermarks and incremental triggers;
on a cluster the same code runs unbounded: swap the trigger and the
sink. Two helpers carry the rule:
- ``_stream_query`` registers an id, memoizes its result per (app, sf)
  and pins it behind an eager ``localCheckpoint``;
- ``_run_bounded`` is the one place a stream starts: it scopes the
  shuffle partitions, places the checkpoint, runs to exhaustion and
  removes a temporary checkpoint.

The window aggregations are oracle-checkable because a bounded stream in
complete mode must equal the batch aggregation DuckDB computes:
- tumbling day window  ≡ GROUP BY date_trunc('day', ts)
- sliding 2d/1d window ≡ each event contributes to day(ts) and day(ts)-1
- session window (gap) ≡ gaps-and-islands (lag + running flag-sum)
`stream_watermark_late_drop` is rows-only: its output is defined by
watermark advancement order.

Scale notes:
- windowed aggregations keep state per (window, key); watermarks bound
  that state — without them a 100 TB stream accretes state forever.
- the multi-line KDC sessionizer streams file-granularly: the file source
  delivers whole files per micro-batch (records never span files —
  KDCLogRecordReader scopes records to one split's file), so each batch
  runs the proven batch sessionizer via foreachBatch. State-API
  sessionization is only required when one file's tail can arrive in a
  later batch (``stream_sessionize_tail``).
- arbitrary state uses ``applyInPandasWithState``; the newer
  ``transformWithStateInPandas`` (Spark 4 composable state) was probed
  but its driver worker requires ``google.protobuf``, absent from this
  environment — the older API covers the same per-key-state semantics.
"""

from __future__ import annotations

import functools
import glob
import os
import shutil
from contextlib import contextmanager, nullcontext
from itertools import count

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from kdcloganalyzer_spark import appcache
from kdcloganalyzer_spark.operators.cms import cms_cells
from kdcloganalyzer_spark.operators.sessionize import (
    _assemble,
    featurize,
    sessionize,
)
from kdcloganalyzer_spark.plans.analytics import (
    CMS_ORACLE,
    cms_estimate_vs_exact,
)
from kdcloganalyzer_spark.plans.kdc_queries import (
    DRIVER_RECORDS_GLOB,
    RECORDS_VERSION,
    kdc_records_parquet,
)
from kdcloganalyzer_spark.plans.registry import query
from kdcloganalyzer_spark.plans.relational import (
    DRIVER_BINFILES,
    stage_binfiles,
)
from kdcloganalyzer_spark.sources.kdc_log import read_log_lines_raw
from kdcloganalyzer_spark.sources.kdc_synth import (
    synth_dir_for_sf,
    synth_path_for_sf,
)
from kdcloganalyzer_spark.sources.tables import (
    cents,
    ensure_utc_session,
    load_table,
    normalize_ts,
    parquet_schema,
)


def _stream_ids(qid: str) -> bool:
    """Readers of the stream-result memos. A bounded availableNow run is
    a pure function of the input table, and in a live deployment the
    StreamingQuery runs ONCE — its sink is the queryable surface;
    re-invoking the registered callable is a consumer re-reading that
    sink, not a reason to replay the whole stream. So each stream id
    memoizes its result behind ``localCheckpoint(eager=True)``: the
    first call per (app, sf) pays the full run (cold costs in
    BASELINE.md §stream-tier), later calls cost a block fetch; values,
    schema and hashes are unchanged. Evicting for any ``stream_`` id
    clears every stream result."""
    return qid.startswith("stream_")


#: Columns every sessionizer variant emits, in registration order (the
#: records parquet additionally carries the ``enctypes`` array).
_RECORD_COLS = (
    "ts, ts_raw, req_type, client, crealm, service, srealm, client_ip, "
    "valid, success, referral, error_class, error, chosen_enctype"
)


def tail_records_path_for_sf(sf_dir: str) -> str:
    """Materialized batch-sessionizer records for the ONE log file the
    tail harness follows — the DuckDB side of the streaming-tail oracle.
    Versioned like records_path_for_sf (same invalidation rule)."""
    synth = os.path.basename(synth_path_for_sf(sf_dir))
    return f"/tmp/kdc_tail_records_r{RECORDS_VERSION}_{synth}"


DRIVER_TAIL_RECORDS_GLOB = (
    tail_records_path_for_sf("/root/testdata/sf0.01") + "/*.parquet"
)


def tail_twin_records_parquet(spark: SparkSession, sf_dir: str) -> str:
    """Batch-sessionize the tail harness's followed file (the FIRST
    .log, the same selection rule as _staged_tail_chunks) and
    materialize it for DuckDB (``appcache.stage``).
    Non-circular for the streaming-tail oracle: this runs the
    window-function batch sessionizer over whole files; the streaming
    path re-assembles the same records from mid-record chunk splits via
    applyInPandasWithState — only the line featurization and the final
    `_assemble` projection are shared code."""

    def build(out: str) -> None:
        log_dir = synth_dir_for_sf(sf_dir)
        first = sorted(
            f for f in os.listdir(log_dir) if f.endswith(".log")
        )[0]
        recs = sessionize(
            read_log_lines_raw(spark, [os.path.join(log_dir, first)])
        )
        recs.withColumn(
            "ts", F.col("ts").cast("timestamp_ntz")
        ).write.mode("overwrite").parquet(out)

    return appcache.stage(tail_records_path_for_sf(sf_dir), build)


def _stream_query(qid: str, oracle: str | None = None):
    """Register ``build(spark, sf_dir)`` as stream id ``qid``: memoized
    per (app, sf) for the ``stream_`` readers, result pinned behind an
    eager ``localCheckpoint``.

    ``build`` YIELDS its result once, like a pytest fixture: code after
    the ``yield`` runs after the checkpoint, so a builder whose result
    still reads a scratch dir (the late-drop sink) removes it there."""

    def deco(build):
        scoped = contextmanager(build)

        @query(qid, oracle=oracle)
        @appcache.memo(readers=_stream_ids)
        @functools.wraps(build)
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            with scoped(spark, sf_dir) as df:
                return df.localCheckpoint(eager=True)

        return run

    return deco


@contextmanager
def _scratch(prefix: str):
    """A tmpfs scratch dir (``appcache.tempdir(fast=True)``) removed when
    the block ends, not at interpreter exit: a bench with min-of-3 cold
    stream re-runs would otherwise accumulate checkpoints (offsets,
    commits, state-store snapshots) in tmpfs for the process lifetime
    (ADVICE r13)."""
    d = appcache.tempdir(prefix=prefix, fast=True)
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


_SHUFFLE = "spark.sql.shuffle.partitions"
_NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"
_CKPT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CKPT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _run_bounded(
    sdf: DataFrame,
    sink,
    *,
    mode: str = "append",
    n_shuffle: int = 4,
    no_data: bool = True,
    ckpt: str | None = None,
) -> None:
    """Run ``sdf`` to exhaustion (Trigger.AvailableNow) into the sink
    ``sink(writer)`` configures, in output ``mode``.

    ``n_shuffle`` scopes ``spark.sql.shuffle.partitions`` to the run.
    Stateful streaming stages shuffle to that count and the state store
    opens one instance PER partition PER micro-batch; with a few
    thousand state keys, 32+ partitions are pure task-scheduling
    overhead (2-4× the wall time of these bounded benches; 8 → 4
    measured another 15-25% off). The count binds into the checkpoint at
    first start, so it is set BEFORE ``.start()``. At real scale size it
    to key cardinality × executor count instead; AQE cannot do it for
    streaming (state partitioning is fixed by the checkpoint).

    ``no_data=False`` turns the trailing no-data micro-batch off for the
    run; True leaves the session's setting (on by default), which
    watermark-closed append windows and EventTimeTimeout firing need.

    ``ckpt`` is a checkpoint the caller keeps (a restart, the state
    reader); without one the run checkpoints to a tmpfs scratch dir that
    is removed when it ends. An explicit location matters (r13): the
    engine's own temp checkpoint lands on disk under /tmp and pays
    offset/commit-log fsyncs per micro-batch, ~0.1 s per bounded run,
    and durability buys nothing for a bounded run (a real
    deployment points this at object storage). The confs it sets are
    restored and the scratch removed however the run ends.

    The checkpoint goes through Hadoop's ``FileSystem`` API
    (``FileSystemBasedCheckpointFileManager``), not Spark's default
    ``FileContext`` one. Without libhadoop, Hadoop's local FS forks a
    ``chmod`` for every file it creates, and ``FileContext.rename`` forks
    a ``readlink`` too (``FileUtil.readLink``, which fails on a ``file:``
    URI). Measured with JFR ``jdk.ProcessStart`` on
    ``stream_window_tumbling`` at sf0.01 (4 vCPU, 15 warm runs per JVM):
    153 child processes per run before (112 ``readlink``, 40 ``chmod``),
    41 after, and a median run of 0.81-0.97 → 0.60-0.66 s wall, 1.65-1.68
    → 1.42-1.54 s JVM CPU. The rename becomes ``File.renameTo``, atomic
    on a local FS. Spark's checkpoint checksums stay on."""
    spark = sdf.sparkSession
    confs = {_SHUFFLE: str(n_shuffle), _CKPT_MANAGER: _FS_CKPT_MANAGER}
    if not no_data:
        confs[_NO_DATA] = "false"
    old = {k: spark.conf.get(k, None) for k in confs}
    with _scratch("stream_ckpt_") if ckpt is None else nullcontext(ckpt) as ck:
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            sink(sdf.writeStream).outputMode(mode).option(
                "checkpointLocation", ck
            ).trigger(availableNow=True).start().awaitTermination()
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def _collect_batches(sdf: DataFrame, per_batch, **run) -> DataFrame:
    """foreachBatch collector: run ``sdf`` bounded (``_run_bounded``
    arguments in ``run``) and return the union of ``per_batch(batch)``
    over its micro-batches (None skips a batch), each pinned with an
    eager ``localCheckpoint`` as its batch ends — the executor-storage
    sink (r13: parquet append + re-read charged ~2 s of sink
    serialization that is not streaming cost; the micro-batch dataflow
    is identical either way)."""
    parts: list[DataFrame] = []

    def collect(batch: DataFrame, _batch_id: int) -> None:
        part = per_batch(batch)
        if part is not None:
            parts.append(part.localCheckpoint(eager=True))

    _run_bounded(sdf, lambda w: w.foreachBatch(collect), **run)
    return functools.reduce(DataFrame.unionByName, parts)


_MEM_SEQ = count()


def _run_to_memory(
    sdf: DataFrame, output_mode: str = "complete", n_shuffle: int = 4
) -> DataFrame:
    """Run a bounded streaming DataFrame to a memory sink; return result.

    Complete/update-mode runs disable the trailing no-data micro-batch
    (~0.17 s/run measured): complete re-emits the full result every
    data batch and the update-mode users here are NoTimeout
    pandas-state (emissions happen on data batches only), so the
    finalization batch can only re-deliver what is already in the
    sink. APPEND mode keeps it — watermark-closed windows emit exactly
    there, and EventTimeTimeout firing (``stream_session_timeout``,
    not this helper) depends on it too."""
    spark = sdf.sparkSession
    name = f"stream_result_{next(_MEM_SEQ)}"
    _run_bounded(
        sdf,
        lambda w: w.format("memory").queryName(name),
        mode=output_mode,
        n_shuffle=n_shuffle,
        no_data=output_mode == "append",
    )
    # The frame keeps the sink's MemoryPlan; dropping the view frees the
    # catalog entry, so a re-run does not pin the last run's rows for
    # the life of the session.
    res = spark.table(name)
    spark.catalog.dropTempView(name)
    return res


_BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def _sessionized_log_batches(
    spark: SparkSession, log_dir: str, per_batch
) -> DataFrame:
    """The KDC log stream: a ``binaryFile`` source discovers ``log_dir``'s
    files 20 per micro-batch (2 batches over the 33-file corpus, enough
    to prove multi-batch operation without paying a third scheduling
    round) and delivers ONE ROW PER FILE — selecting only ``path``
    prunes the content column, so per-batch discovery costs a directory
    listing, not a text scan (a ``readStream.text`` shape paid one
    whole-corpus line scan per batch just to learn the file names via
    ``input_file_name()``; the micro-batch frame exposes neither
    ``inputFiles()`` nor ``_metadata``). Each batch runs the batch
    sessionizer over exactly its files — correct because records never
    span files — and the result is the ``_collect_batches`` union of
    ``per_batch(records)``."""

    def batch(files_df: DataFrame) -> DataFrame | None:
        files = [r["path"] for r in files_df.select("path").collect()]
        if not files:
            return None
        return per_batch(sessionize(read_log_lines_raw(spark, files)))

    files = (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_SCHEMA)
        .option("maxFilesPerTrigger", 20)
        .load(log_dir)
    )
    return _collect_batches(files, batch, n_shuffle=16)


_STAGE_CACHE: dict[str, str] = {}


def _staged_events_dir(sf_dir: str) -> str:
    """The streaming file source monitors a DIRECTORY; the driver ships
    events as a single parquet file. Stage a symlink dir once per sf."""
    if sf_dir not in _STAGE_CACHE:
        d = appcache.tempdir(prefix="events_stream_")
        os.symlink(
            os.path.abspath(f"{sf_dir}/events.parquet"), f"{d}/events.parquet"
        )
        _STAGE_CACHE[sf_dir] = d
    return _STAGE_CACHE[sf_dir]


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the same timestamp
    normalization as the batch loader (sources/tables.py): dtype-dispatch
    over nanos-as-int64 / TIMESTAMP_NTZ / TIMESTAMP, always yielding a
    watermarkable TIMESTAMP column."""
    ensure_utc_session(spark)
    schema, _ = parquet_schema(spark, f"{sf_dir}/events.parquet")
    sdf = spark.readStream.schema(schema).parquet(_staged_events_dir(sf_dir))
    return normalize_ts(sdf, "ts")


def _split_files(half_dir: str, parts) -> None:
    """Write each ``(name, frame)`` of ``parts`` as ONE parquet file
    ``half_dir/name`` (coalesced, moved out of its write dir)."""
    tmp = f"{half_dir}/_tmp"
    for name, part in parts:
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], f"{half_dir}/{name}")
    shutil.rmtree(tmp, ignore_errors=True)


@_stream_query(
    "stream_window_tumbling",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS win_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_c
    FROM events GROUP BY 1, 2
    """,
)
def stream_window_tumbling(spark: SparkSession, sf_dir: str):
    """Per-day tumbling window × event_type counts/sums, with a 1-hour
    watermark bounding aggregation state."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    out = ev.groupBy(
        F.window("ts", "1 day").alias("win"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(cents("value")).cast("bigint").alias("sum_value_c"),
    )
    yield _run_to_memory(out).select(
        F.col("win.start").alias("win_start"), "event_type", "n",
        "sum_value_c",
    )


@_stream_query(
    "stream_window_sliding",
    oracle="""
    SELECT win_start, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_c
    FROM (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS win_start, value
      FROM events
      UNION ALL
      SELECT CAST(date_trunc('day', ts) - INTERVAL 1 DAY AS TIMESTAMP), value
      FROM events
    ) GROUP BY 1
    """,
)
def stream_window_sliding(spark: SparkSession, sf_dir: str):
    """2-day windows sliding by 1 day — each event lands in two windows."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    out = ev.groupBy(F.window("ts", "2 days", "1 day").alias("win")).agg(
        F.count("*").alias("n"),
        F.sum(cents("value")).cast("bigint").alias("sum_value_c"),
    )
    yield _run_to_memory(out).select(
        F.col("win.start").alias("win_start"), "n", "sum_value_c"
    )


@_stream_query(
    "stream_session_window",
    oracle="""
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           min(ts) AS sess_start,
           max(ts) + INTERVAL 30 MINUTE AS sess_end,
           count(*) AS n
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str):
    """Per-user session windows (30-minute inactivity gap): dynamic-length
    windows that merge while events keep arriving within the gap."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    out = ev.groupBy(
        F.session_window("ts", "30 minutes").alias("win"), "user_id"
    ).agg(F.count("*").alias("n"))
    yield _run_to_memory(out).select(
        "user_id",
        F.col("win.start").alias("sess_start"),
        F.col("win.end").alias("sess_end"),
        "n",
    )


@_stream_query(
    "stream_stateful_counts",
    oracle="""
    SELECT user_id,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_c,
           min(ts) AS first_ts,
           max(ts) AS last_ts
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_counts(spark: SparkSession, sf_dir: str):
    """Custom stateful streaming aggregation via ``applyInPandasWithState``
    (SURVEY.md §7 phase 6 "stateful sessionizer via state API" lineage —
    the arbitrary-state primitive the window/session operators can't
    express): per-user running (count, sum, first/last ts) state, updated
    per micro-batch in Arrow-batched pandas, emitted in update mode.
    Oracle-checkable because the bounded stream's final state per user
    must equal the batch GROUP BY.

    Scale: state lives in the executor state store partitioned by the
    grouping key (one shuffle on user_id per batch); a watermark-driven
    timeout (``GroupStateTimeout.EventTimeTimeout``) would bound state for
    unbounded key domains — the bounded bench stream keeps NoTimeout so
    every key's final state is emitted deterministically.

    The update function is a self-contained closure (executors don't have
    this repo on sys.path — see .claude/skills/verify gotchas).
    """
    ev = read_events_stream(spark, sf_dir).select("user_id", "ts", "value")

    def update(key, pdfs, state):
        import pandas as pd

        n, s, mn, mx = state.get if state.exists else (0, 0, None, None)
        for pdf in pdfs:
            if pdf.empty:
                continue
            n += len(pdf)
            # per-row integer cents BEFORE summing: the state stays an
            # exact BIGINT, order-free across micro-batch arrival order
            s += int((pdf["value"] * 100).round().astype("int64").sum())
            lo, hi = pdf["ts"].min(), pdf["ts"].max()
            mn = lo if mn is None or lo < mn else mn
            mx = hi if mx is None or hi > mx else mx
        state.update((n, s, mn, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n": [n],
                "sum_value_c": [s],
                "first_ts": [mn],
                "last_ts": [mx],
            }
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id BIGINT, n BIGINT, sum_value_c BIGINT, "
            "first_ts TIMESTAMP, last_ts TIMESTAMP"
        ),
        stateStructType="n BIGINT, s BIGINT, mn TIMESTAMP, mx TIMESTAMP",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # 8 state partitions: per-group pandas calls dominate (~1.5k groups),
    # which is parallelism-bound — same tuning evidence as
    # stream_session_timeout (4.3 s @4, ~2.9 s @8 there).
    yield _run_to_memory(out, "update", n_shuffle=8)


@_stream_query(
    "stream_static_join",
    oracle="""
    SELECT c.c_mktsegment AS c_mktsegment, count(*) AS n,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_c
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str):
    """Stream-static enrichment join: each micro-batch of events joins the
    static customer dim (broadcast — re-planned per batch, so a dim
    refresh is picked up between batches on a real cluster), then a
    complete-mode aggregation by market segment; the bounded result
    equals the batch LEFT JOIN the oracle computes (unmatched users
    aggregate under the NULL segment).

    Scale: the canonical streaming-enrichment shape — no state for the
    join itself (stateless per batch, unlike stream-stream joins); only
    the downstream aggregation keeps state, bounded by segment
    cardinality."""
    ev = read_events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = ev.join(F.broadcast(dim), "user_id", "left")
    out = joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.sum(cents("value")).cast("bigint").alias("sum_value_c"),
    )
    yield _run_to_memory(out)


@_stream_query(
    "stream_stream_join",
    oracle="""
    SELECT c.user_id AS user_id, c.event_id AS click_id,
           p.event_id AS purchase_id
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str):
    """Stream-stream event-time range join: each click joins the same
    user's purchases within the following hour. Both sides carry
    watermarks and the join condition carries the event-time range, so
    the state store retains only one hour (+ lateness) of each side —
    the construction that keeps an unbounded stream-stream join's state
    finite. Under the bounded availableNow run the INNER join emits
    every match (watermarks only bound state/outer-finalization), so the
    result equals the batch range join the oracle computes."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
        ),
        "inner",
    ).select("user_id", "click_id", "purchase_id")
    # 8 partitions: both sides' ~33k-row state commits parallelize; the
    # join itself is state-store-bound, not scan-bound.
    yield _run_to_memory(joined, "append", n_shuffle=8)


def _stage_late_split(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events as ``00_recent.parquet`` and ``01_late.parquet``,
    split at the median ts (one coalesced parquet file per half), for
    ``stream_watermark_late_drop`` to symlink into its fresh source
    dir."""

    def build(half_dir: str) -> None:
        ev_batch = load_table(spark, sf_dir, "events")
        split_ts = ev_batch.selectExpr(
            "percentile_approx(ts, 0.5, 10000) AS m"
        ).collect()[0]["m"]
        _split_files(
            half_dir,
            (
                (
                    "00_recent.parquet",
                    ev_batch.filter(F.col("ts") >= F.lit(split_ts)),
                ),
                (
                    "01_late.parquet",
                    ev_batch.filter(F.col("ts") < F.lit(split_ts)),
                ),
            ),
        )

    return appcache.persistent_stage(
        "latedrop", [f"{sf_dir}/events.parquet"], build
    )


@_stream_query("stream_watermark_late_drop")
def stream_watermark_late_drop(spark: SparkSession, sf_dir: str):
    """Late-data drop under a watermark (append mode; rows-only — the
    output is watermark-order-defined), made deterministic via stream
    RESTART: the events table is split into a recent half and an only-old
    half. Run 1 streams the recent file and commits its watermark
    (max(recent.ts) - 10 minutes) to the checkpoint. Run 2 restarts from
    that checkpoint and streams the old file — every row sits below the
    restored watermark and is dropped, so the appended output holds ONLY
    the recent half's finalized windows.

    (Two runs, not two micro-batches of one run: under
    Trigger.AvailableNow the watermark is fixed for all planned batches
    and only advances at the final commit, so intra-run late batches are
    NOT dropped — restart-with-checkpoint is how the semantics actually
    bind, and doubles as a state-recovery demonstration.) Both runs
    execute every time; only the input is staged. The scratch dir (feed,
    parquet sink, shared checkpoint) goes once the result is
    checkpointed."""
    half_dir = _stage_late_split(spark, sf_dir)
    schema = spark.read.parquet(half_dir).schema
    with _scratch("late_drop_") as stage:
        data_dir, out_dir = f"{stage}/data", f"{stage}/out"
        os.makedirs(data_dir)
        # run 1 commits watermark = max(recent.ts) - 10 min; run 2's old
        # rows sit below the restored watermark and are dropped
        for name in ("00_recent.parquet", "01_late.parquet"):
            os.symlink(f"{half_dir}/{name}", f"{data_dir}/{name}")
            sdf = (
                spark.readStream.schema(schema)
                .parquet(data_dir)
                .withWatermark("ts", "10 minutes")
            )
            out = sdf.groupBy(F.window("ts", "1 hour").alias("win")).agg(
                F.count("*").alias("n")
            )
            _run_bounded(
                out.select(F.col("win.start").alias("win_start"), "n"),
                lambda w: w.format("parquet").option("path", out_dir),
                ckpt=f"{stage}/ckpt",
            )
        yield spark.read.parquet(out_dir)


def stream_sessionize_kdc(spark: SparkSession, log_dir: str) -> DataFrame:
    """Streaming port of the multi-line KDC sessionizer
    (operators/sessionize.py; reference KDCLogRecordReader.java:208-324):
    ``_sessionized_log_batches`` with each batch's records as its part
    (the executor-storage sink; a real deployment's append sink is
    whatever table format serves the records, and the micro-batch
    dataflow is identical either way)."""
    return _sessionized_log_batches(
        spark, log_dir, lambda recs: recs.drop("enctypes")
    )


@_stream_query(
    "stream_sessionize",
    oracle=f"""
    SELECT {_RECORD_COLS}
    FROM read_parquet('{DRIVER_RECORDS_GLOB}')
    """,
)
def stream_sessionize(spark: SparkSession, sf_dir: str):
    """Streaming multi-line KDC sessionizer (file-granular micro-batches
    via foreachBatch). Hash-verified against the materialized records
    parquet — non-circular because that parquet is written by the BATCH
    window-function sessionizer over whole files, while this path
    re-parses per micro-batch over incrementally discovered file sets
    (VERDICT r10 item 2)."""
    kdc_records_parquet(spark, sf_dir)  # oracle twin
    yield stream_sessionize_kdc(spark, synth_dir_for_sf(sf_dir))


def _staged_tail_chunks(
    log_dir: str, n_chunks: int, n_files: int = 1
) -> tuple[str, list[str]]:
    """Stage ``n_files`` log files as per-file ``n_chunks`` JSONL chunk
    files — the test harness's stand-in for a tail-follower on GROWING
    files. Each row is ``{"file": ..., "seq": per_file_line_no,
    "line": ...}``: a real tail source (Kafka topic, fluentd, a
    byte-offset follower) delivers exactly this (origin + payload +
    position), and the seq is what lets the stateful assembler
    re-establish in-file order after the group-key shuffle. Chunk
    boundaries land wherever the line count falls — deliberately
    MID-RECORD, the layout the file-granular foreachBatch sessionizer
    (stream_sessionize_kdc) never faces. All files' chunk ``c`` share
    one mtime tick, so a micro-batch carries the CONCURRENT growth of
    every followed file (oldest-first source ordering).

    Returns (monitored_dir, logical file names). Staging reads the
    files driver-side — it IS the simulated producer, not the engine's
    data path (the engine sees only the staged stream)."""
    import json

    logs = sorted(f for f in os.listdir(log_dir) if f.endswith(".log"))
    srcs = logs[:n_files]

    def build(d: str) -> None:
        now = int(os.path.getmtime(os.path.join(log_dir, srcs[0])))
        for src in srcs:
            with open(os.path.join(log_dir, src)) as f:
                lines = f.read().splitlines()
            per = max(1, (len(lines) + n_chunks - 1) // n_chunks)
            for c in range(n_chunks):
                chunk = lines[c * per : (c + 1) * per]
                p = os.path.join(d, f"chunk{c:02d}_{src}.json")
                with open(p, "w") as out:
                    for i, line in enumerate(chunk):
                        out.write(
                            json.dumps(
                                {"file": src, "seq": c * per + i, "line": line}
                            )
                            + "\n"
                        )
                os.utime(p, (now + c, now + c))

    d = appcache.persistent_stage(
        f"tail{n_chunks}x{n_files}",
        [os.path.join(log_dir, s) for s in srcs],
        build,
    )
    return d, srcs


def stream_sessionize_tail_kdc(
    spark: SparkSession, log_dir: str, n_chunks: int = 3, n_files: int = 1
) -> DataFrame:
    """Streaming multi-line sessionizer for GROWING FILES — the
    ``tail -f`` shape: each followed log file arrives in ``n_chunks``
    appended segments across micro-batches, and records STRADDLE the
    segment boundaries (the reference's record-assembly core,
    KDCLogRecordReader.java:208-324, under the one layout the
    file-granular foreachBatch design of ``stream_sessionize_kdc``
    dodges — that one is correct because records never span FILES; this
    one is correct when they span BATCHES). With ``n_files > 1``,
    several files grow CONCURRENTLY — one independent state row per
    file key (pinned in tests/test_streaming_tail.py's 2-file case).

    Shape: the line-feature pass (terminator detection) runs JVM-side on
    the stream exactly as in batch; ``applyInPandasWithState`` keyed by
    file then carries the PARTIAL-RECORD TAIL (unterminated trailing
    lines + their flags + running record/line offsets) across
    micro-batches, emitting only COMPLETED records' lines with globally
    consistent (rec_id, line_no) — the same ids the batch sessionizer
    assigns, so the downstream per-record assembly (``_assemble``) is
    the identical code path and the whole thing is batch-equivalent by
    construction (pinned in tests/test_streaming_tail.py). The trailing
    unterminated record is never emitted, matching the reference's
    drop-the-tail rule (reader:317-320).

    Scale: state is ONE row per live file (the tail of its current
    record — bounded by record length, not file length), shuffled on
    the file key; a fleet of growing files = one state key each,
    partitioned across executors. Per batch the work is the line-feature
    projection (codegen) + one Arrow exchange for the stateful group —
    no per-batch rescan of earlier data; at 100 TB/day of appending logs
    this is the standing-ingest shape, with ``GroupStateTimeout`` set to
    a processing-time horizon to reap files that stopped growing (the
    bounded bench keeps NoTimeout for determinism)."""
    d, _fnames = _staged_tail_chunks(log_dir, n_chunks, n_files)
    sdf = (
        spark.readStream.schema("file string, seq long, line string")
        .option("maxFilesPerTrigger", n_files)
        .json(d)
    )
    annotated = featurize(sdf, "file", "seq", "line").select(
        "file", "seq", "line", "is_sending"
    )

    def assemble_tail(key, pdfs, state):
        import pandas as pd

        if state.exists:
            next_seq, rec_base, line_base, tail, tail_flags = state.get
            tail_lines = tail.split("\n") if tail else []
            flags = [c == "1" for c in tail_flags]
        else:
            next_seq, rec_base, line_base = 0, 0, 0
            tail_lines, flags = [], []
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            batch = batch.sort_values("seq")
            # The group-key shuffle destroys arrival order; seq restores
            # it. A gap means the harness delivered chunks out of order
            # — fail loud, never assemble wrong records.
            seqs = batch["seq"].to_numpy()
            if seqs[0] != next_seq or (
                seqs[1:] != seqs[:-1] + 1
            ).any():
                raise ValueError(
                    f"non-contiguous tail stream at {key}: "
                    f"expected {next_seq}, got {seqs[:3]}"
                )
            next_seq = int(seqs[-1]) + 1
            tail_lines = tail_lines + batch["line"].tolist()
            flags = flags + batch["is_sending"].tolist()
        last = -1
        for i, fl in enumerate(flags):
            if fl:
                last = i
        k = last + 1
        out_lines, out_flags = tail_lines[:k], flags[:k]
        rec_ids, line_nos = [], []
        rc = rec_base
        for i, fl in enumerate(out_flags):
            rec_ids.append(rc)
            line_nos.append(line_base + i + 1)
            if fl:
                rc += 1
        state.update(
            (
                int(next_seq),
                int(rc),
                int(line_base + k),
                "\n".join(tail_lines[k:]),
                "".join("1" if fl else "0" for fl in flags[k:]),
            )
        )
        yield pd.DataFrame(
            {
                "file": [key[0]] * k,
                "rec_id": pd.Series(rec_ids, dtype="int64"),
                "line_no": pd.Series(line_nos, dtype="int64"),
                "line": out_lines,
            }
        )

    stateful = annotated.groupBy("file").applyInPandasWithState(
        assemble_tail,
        "file string, rec_id long, line_no long, line string",
        "next_seq long, rec_base long, line_base long, "
        "tail string, tail_flags string",
        "append",
        GroupStateTimeout.NoTimeout,
    )
    lines_df = _run_to_memory(stateful, "append")
    return _assemble(
        featurize(lines_df, "file", "rec_id", "line_no", "line"), "line_no"
    )


@_stream_query(
    "stream_sessionize_tail",
    oracle=f"""
    SELECT {_RECORD_COLS},
           coalesce(array_to_string(enctypes, '|'), '') AS enctypes
    FROM read_parquet('{DRIVER_TAIL_RECORDS_GLOB}')
    """,
)
def stream_sessionize_tail(spark: SparkSession, sf_dir: str):
    """Streaming sessionizer for a GROWING single file (`tail -f`):
    applyInPandasWithState carries the partial-record tail across
    micro-batches, so records straddling batch boundaries assemble
    exactly as in batch. Hash-verified against a batch-sessionizer twin
    parquet over the SAME followed file (tail_twin_records_parquet) —
    the mid-record chunk splits this path must survive never occur on
    the batch side, so the compare binds the state-carry logic; the
    3-chunk batch-equivalence pytest (tests/test_streaming_tail.py)
    remains as the multi-file/general-split law. The ``enctypes`` array
    is flattened to a '|'-joined string so the registered schema stays
    atomic — the driver canonicalizes outputs through pandas, and an
    ARRAY column crashes its sort (CORRECTNESS_r09 ERR; same class fix
    as sessionize_multiline, kdc_queries.py)."""
    tail_twin_records_parquet(spark, sf_dir)  # oracle twin
    # 2 appended chunks = 2 micro-batches with one mid-record straddle
    # boundary — the minimal layout that binds the cross-batch state
    # carry (r13: was 3; the chunking invariant makes the output — and
    # hash — identical at any chunk count, which the 3-chunk and 2-file
    # pytest laws in tests/test_streaming_tail.py keep pinned).
    out = stream_sessionize_tail_kdc(
        spark, synth_dir_for_sf(sf_dir), n_chunks=2
    )
    yield out.withColumn("enctypes", F.concat_ws("|", F.col("enctypes")))


def _stage_timeout_feed(spark: SparkSession, sf_dir: str) -> str:
    """Stage (user_id, ts) of the events as ``00_events.parquet`` plus a
    one-row ``01_advance.parquet``: a sentinel user at 2024-03-01 whose
    id is max(user_id) + 10^7."""

    def build(half_dir: str) -> None:
        ev_batch = load_table(spark, sf_dir, "events").select(
            "user_id", "ts"
        )
        # 1-row control scalar: the sentinel id must be provably absent
        # from the table (max + offset), never a magic literal.
        max_uid = ev_batch.agg(F.max("user_id")).collect()[0][0] or 0
        # JVM-side 1-row build: createDataFrame over a Python list
        # parallelizes to defaultParallelism slices and spawns one
        # Python worker per slice (~5.5 s measured for this one row
        # at local[32]); range(1) stays entirely in the JVM.
        advance = spark.range(1).select(
            F.lit(int(max_uid) + 10_000_000)
            .cast("bigint")
            .alias("user_id"),
            F.lit("2024-03-01").cast("timestamp").alias("ts"),
        )
        _split_files(
            half_dir,
            (("00_events.parquet", ev_batch), ("01_advance.parquet", advance)),
        )

    return appcache.persistent_stage(
        "timeout", [f"{sf_dir}/events.parquet"], build
    )


@_stream_query(
    "stream_session_timeout",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           max(ts) AS last_ts
    FROM events GROUP BY user_id
    """,
)
def stream_session_timeout(spark: SparkSession, sf_dir: str):
    """EVENT-TIME STATE TIMEOUTS (applyInPandasWithState +
    EventTimeTimeout): per-user session state that the ENGINE closes
    when the watermark passes last_seen + 1 day — the idle-session
    reaper every stateful streaming deployment needs (without
    timeouts, a user who never returns leaks state forever). The
    emitted closure rows — who, final count, last seen — must equal the
    batch per-user aggregate, which is what a timeout reaper closing
    EVERY idle session means.

    Made deterministic with ONE far-future sentinel row (a synthetic
    user at 2024-03-01) appended to the staged feed: the single
    availableNow run builds every user's state from the data batches,
    the run-final watermark lands a month past every real user's
    last_seen + 1 day, and the engine's no-data finalization batch
    fires each expired state exactly once (hasTimedOut=True, then
    removed — double-fire is impossible by construction), emitting its
    closing state (event count, last seen). The sentinel's own state
    never expires and emits nothing. Which batch fires a given state
    is engine-internal — and IRRELEVANT here, which is exactly what
    makes a timeout operator oracle-checkable: the closure SET and the
    closing STATES are a pure function of the table. (r10 used two
    availableNow runs sharing a checkpoint; the fold-in halves the
    fixed micro-batch cost with an identical output hash.) The run
    therefore keeps the no-data batch on.

    The sentinel user_id is DERIVED as max(user_id) + 10^7 rather than
    hard-coded, so a dataset that happens to contain the old literal
    can never silently merge the sentinel into a real user's state
    (ADVICE r10).

    Scale: state is O(active users); the timeout sweep is the state
    store's own expiry scan, not a data scan — the construction that
    keeps an unbounded keyspace's state finite at 100 TB."""
    half_dir = _stage_timeout_feed(spark, sf_dir)
    schema = spark.read.parquet(f"{half_dir}/00_events.parquet").schema

    def update(key, pdfs, state):
        import pandas as pd

        gap_us = 24 * 3600 * 1000000
        if state.hasTimedOut:
            n, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "last_ts": [pd.to_datetime(last_us, unit="us")],
                }
            )
            return
        n, last_us = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            if pdf.empty:
                continue
            n += len(pdf)
            mx = pdf["ts"].max().value // 1000  # ns -> us
            last_us = mx if mx > last_us else last_us
        state.update((n, last_us))
        state.setTimeoutTimestamp((last_us + gap_us) // 1000)  # ms
        yield from ()

    ensure_utc_session(spark)
    with _scratch("session_timeout_") as stage:
        # Single availableNow run over data + sentinel: states build
        # from the data batches, the run-final watermark (sentinel ts
        # − 1 h) expires every real state, and the engine's no-data
        # finalization batch fires the closures.
        data_dir = f"{stage}/data"
        os.makedirs(data_dir)
        for name in ("00_events.parquet", "01_advance.parquet"):
            os.symlink(f"{half_dir}/{name}", f"{data_dir}/{name}")
        sdf = (
            spark.readStream.schema(schema)
            .parquet(data_dir)
            .withWatermark("ts", "1 hour")
        )
        out = sdf.groupBy("user_id").applyInPandasWithState(
            update,
            outputStructType=(
                "user_id BIGINT, n_events BIGINT, last_ts TIMESTAMP"
            ),
            stateStructType="n BIGINT, last_us BIGINT",
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
        # 8 state partitions, not the suite default 4: this operator's
        # cost is the per-group Python call (1.5k groups × 2 batches),
        # which is parallelism-bound — measured 4.3 s at 4 partitions,
        # 2.8-3.0 s at 8, WORSE at 1-2 (8.0 s); 12-16 buy nothing
        # further at this key cardinality.
        closures = _collect_batches(
            out,
            lambda batch: batch,
            mode="update",
            n_shuffle=8,
            ckpt=f"{stage}/ckpt",
        )
    yield closures


def stream_dedup_events(
    spark: SparkSession, sf_dir: str, within_watermark: bool = False
) -> DataFrame:
    """Streaming exact dedup: the events file is staged TWICE into the
    monitored directory (a replayed/at-least-once upstream), and
    ``withWatermark + dropDuplicates`` emits each event_id exactly once;
    the materialized sink is then batch-aggregated per event_type — equal
    to the oracle's aggregation over the single original copy.

    Scale: dedup state is per-key in the state store, partitioned by the
    dedup key; the watermark bounds retention so an unbounded stream
    holds state only for the lateness horizon (under AvailableNow the
    watermark advances at the final commit, so the full bounded run
    dedups globally — exactly what a backfill replay wants).

    ``within_watermark`` swaps in ``dropDuplicatesWithinWatermark``, the
    BOUNDED-STATE form: state for a key is evicted once the watermark
    passes its event time plus the delay, so an unbounded replay holds
    state for the lateness horizon, never the key universe. The staged
    replay arrives well inside the 1-hour delay, so the bounded run
    dedups exactly like the unbounded-state form."""
    key = f"{sf_dir}::dup2"
    if key not in _STAGE_CACHE:
        d = appcache.tempdir(prefix="events_dup_")
        src = os.path.abspath(f"{sf_dir}/events.parquet")
        os.symlink(src, f"{d}/copy_a.parquet")
        os.symlink(src, f"{d}/copy_b.parquet")
        _STAGE_CACHE[key] = d
    ensure_utc_session(spark)
    schema, _ = parquet_schema(spark, f"{sf_dir}/events.parquet")
    sdf = normalize_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_STAGE_CACHE[key]),
        "ts",
    ).withWatermark("ts", "1 hour")
    if within_watermark:
        sdf = sdf.dropDuplicatesWithinWatermark(["event_id"])
    else:
        sdf = sdf.dropDuplicates(["event_id"])
    # 8 partitions: 100k-key dedup state is commit-bound; more
    # partitions parallelize the per-partition store commits.
    deduped = _run_to_memory(sdf, "append", n_shuffle=8)
    return deduped.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(cents("value")).cast("bigint").alias("sum_value_c"),
    )


@_stream_query(
    "stream_dedup_exact",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_c
    FROM events GROUP BY event_type
    """,
)
def stream_dedup_exact(spark: SparkSession, sf_dir: str):
    """Streaming exact dedup of a twice-replayed source: state-store
    dropDuplicates under a watermark collapses the replay to one copy;
    the oracle aggregates the single original."""
    yield stream_dedup_events(spark, sf_dir)


def _staged_event_halves(sf_dir: str) -> str:
    """Stage the events table as TWO parquet files (event_id parity) in a
    monitored dir, so ``maxFilesPerTrigger=1`` yields two genuine
    incremental micro-batches with disjoint data (unlike the replay
    staging of ``stream_dedup_events``). Split via DuckDB so staging does
    not need a SparkSession; the streaming reader re-derives the schema
    from the staged files (DuckDB rewrites nanos → micros, which
    ``normalize_ts`` dispatches on anyway)."""
    src = os.path.abspath(f"{sf_dir}/events.parquet")

    def build(d: str) -> None:
        import duckdb

        con = duckdb.connect()
        for name, pred in (("half_a", "= 0"), ("half_b", "<> 0")):
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{src}') "
                f"WHERE event_id % 2 {pred}) "
                f"TO '{d}/{name}.parquet' (FORMAT PARQUET)"
            )
        con.close()

    return appcache.persistent_stage("evhalves", [src], build)


@_stream_query(
    "stream_foreach_batch_upsert",
    oracle="""
    WITH r AS (
      SELECT user_id, ts, event_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
    )
    SELECT user_id, ts AS last_ts, event_id AS last_event_id,
           event_type AS last_event_type, n
    FROM r WHERE rn = 1
    """,
)
def stream_foreach_batch_upsert(spark: SparkSession, sf_dir: str):
    """Streaming keyed-upsert sink (foreachBatch MERGE): each micro-batch
    aggregates per-user (latest event by (ts, event_id) + event count)
    and merges it into a keyed state table — last-writer-wins on the
    latest-event columns, additive on the count. Two disjoint
    micro-batches (``_staged_event_halves``) make the merge genuinely
    incremental; the converged table must equal the batch
    latest-per-user query, which is what the oracle checks.

    Scale: this is the canonical "stream into a keyed serving table"
    sink. foreachBatch runs driver-side per batch and each merge is a
    batch plan: one shuffle for the batch's per-key aggregate, one
    co-partitioned union-aggregate against the current table. On a real
    cluster the new-version step becomes a Delta/Iceberg ``MERGE INTO``
    (transactional, file-pruned); the bounded bench pins each version
    with ``localCheckpoint`` — the merge dataflow (aggregate, union
    against current, re-aggregate) is byte-identical, and the
    serialization format of the serving table is sink cost, not
    streaming cost (r13; was versioned parquet dirs)."""
    ensure_utc_session(spark)
    d = _staged_event_halves(sf_dir)
    schema = spark.read.parquet(d).schema
    sdf = normalize_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d),
        "ts",
    )
    state: dict[str, DataFrame] = {}

    def latest_shape(df: DataFrame) -> DataFrame:
        return df.select(
            "user_id",
            F.col("last.ts").alias("last_ts"),
            F.col("last.event_id").alias("last_event_id"),
            F.col("last.event_type").alias("last_event_type"),
            "n",
        )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        b = latest_shape(
            batch_df.groupBy("user_id").agg(
                F.max_by(
                    F.struct("ts", "event_id", "event_type"),
                    F.struct("ts", "event_id"),
                ).alias("last"),
                F.count("*").alias("n"),
            )
        )
        if "cur" in state:
            cur = state["cur"]
            b = latest_shape(
                cur.unionByName(b)
                .groupBy("user_id")
                .agg(
                    F.max_by(
                        F.struct(
                            F.col("last_ts").alias("ts"),
                            F.col("last_event_id").alias("event_id"),
                            F.col("last_event_type").alias("event_type"),
                        ),
                        F.struct("last_ts", "last_event_id"),
                    ).alias("last"),
                    F.sum("n").alias("n"),
                )
            )
        state["cur"] = b.localCheckpoint(eager=True)

    _run_bounded(sdf, lambda w: w.foreachBatch(merge))
    yield state["cur"]


@_stream_query("stream_count_min_sketch", oracle=CMS_ORACLE)
def stream_count_min_sketch(spark: SparkSession, sf_dir: str):
    """Streaming count-min sketch: the (r, bucket) cell counts are a
    streaming-supported aggregation in complete mode, so the sketch
    stays current across micro-batches with d×w = 1024 rows of state
    TOTAL, regardless of stream volume — the canonical 'sketch the
    firehose' shape. Point-queried after the bounded run through the
    same helper as the batch query, and hash-verified by the SAME oracle
    as agg_count_min_sketch: the final streamed cell table must equal
    the batch-built one."""
    ev = read_events_stream(spark, sf_dir).select("event_type")
    cells = _run_to_memory(cms_cells(ev), "complete")
    batch = load_table(spark, sf_dir, "events").select("event_type")
    yield cms_estimate_vs_exact(cells, batch)


@_stream_query(
    "stream_state_reader",
    oracle="""
    SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    """,
)
def stream_state_reader(spark: SparkSession, sf_dir: str):
    """Streaming-state AUDIT via the Spark 4 state data source: run a
    stateful per-event-type streaming count to a checkpoint
    (availableNow), then read the state store back as a BATCH DataFrame
    (``spark.read.format("statestore").load(ckpt)``) and project
    (key.event_type, value.count).

    This is the operational surface a production streaming deployment
    leans on — inspecting live state for debugging, validating a
    checkpoint before a version migration, or rehydrating state into a
    batch table — and it is exactly verifiable: the bounded run's final
    state IS the batch aggregate, so the DuckDB twin is a plain
    GROUP BY over the same events. Complements stream_stateful_counts
    (applyInPandasWithState builds custom state; this READS engine
    state from the outside).

    Scale: the state source reads one store per shuffle partition in
    parallel with no driver materialization; state size here is
    |event_type| rows per partition. The checkpoint lives in a scratch
    dir removed once the result is checkpointed."""
    with _scratch("state_inspect_") as d:
        ckpt = f"{d}/ckpt"
        ev = read_events_stream(spark, sf_dir).select("event_type")
        agg = ev.groupBy("event_type").agg(F.count("*").alias("n"))
        _run_bounded(agg, lambda w: w.format("noop"), mode="complete", ckpt=ckpt)
        st = spark.read.format("statestore").load(ckpt)
        yield st.select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").alias("n"),
        )


def _stage_union_split(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events as two parquet dirs, ``even`` and ``odd`` by
    user-id parity."""

    def build(d: str) -> None:
        ev_batch = load_table(spark, sf_dir, "events")
        for name, half in (
            ("even", ev_batch.filter(F.col("user_id") % 2 == 0)),
            ("odd", ev_batch.filter(F.col("user_id") % 2 == 1)),
        ):
            half.write.mode("overwrite").parquet(f"{d}/{name}")

    return appcache.persistent_stage(
        "union2", [f"{sf_dir}/events.parquet"], build
    )


@_stream_query(
    "stream_union_two_sources",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS win_start,
           CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS feed,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_c
    FROM events GROUP BY 1, 2
    """,
)
def stream_union_two_sources(spark: SparkSession, sf_dir: str):
    """ONE streaming query over TWO independent file sources — the
    multi-source DAG every consolidation pipeline runs (two ingest
    feeds, one unified aggregation). The events table is split by
    user-id parity into two source directories; each side becomes its
    own readStream (own FileStreamSource, own offset log entry in the
    shared checkpoint), the union is tagged per side, and one per-day
    window aggregation consumes both (bounded run ≡ the batch per-day ×
    parity-feed aggregation).

    Scale: Structured Streaming tracks per-source offsets in a single
    checkpoint, so the two scans advance atomically per micro-batch —
    this is the mechanism that makes N-feed consolidation exactly-once;
    the union itself is a no-shuffle operator, and the windowed agg
    shuffles once on (window, feed) exactly as the single-source form
    does. Feeds of wildly different rates are the practical caveat at
    scale (one empty source never blocks AvailableNow)."""
    d = _stage_union_split(spark, sf_dir)
    schema = spark.read.parquet(f"{d}/even").schema

    def side(name: str) -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .parquet(os.path.join(d, name))
            .withColumn("feed", F.lit(name))
        )

    ev = side("even").unionByName(side("odd")).withWatermark("ts", "1 hour")
    out = ev.groupBy(
        F.window("ts", "1 day").alias("win"), "feed"
    ).agg(
        F.count("*").alias("n"),
        F.sum(cents("value")).cast("bigint").alias("sum_value_c"),
    )
    yield _run_to_memory(out).select(
        F.col("win.start").alias("win_start"), "feed", "n", "sum_value_c"
    )


@_stream_query(
    "stream_binaryfile_manifest",
    oracle=f"""
    SELECT regexp_extract(filename, 'doc_(\\d\\d)', 1) AS prefix,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(octet_length(encode(content))) AS BIGINT)
             AS total_bytes
    FROM read_text('{DRIVER_BINFILES}/*.txt')
    GROUP BY prefix
    """,
)
def stream_binaryfile_manifest(spark: SparkSession, sf_dir: str):
    """Streaming WHOLE-FILE ingestion — readStream over a binaryFile
    source (one row per file as it lands: the raw-asset intake feed),
    aggregated into the running manifest (files, bytes) per name
    prefix. The streaming twin of scan_binaryfile_source's batch read
    (bounded run ≡ the batch per-prefix file/byte census over the same
    staged assets).

    Scale: file discovery is the micro-batch unit (maxFilesPerTrigger
    bounds intake); selecting only path/length prunes content reads
    entirely (the binaryFile source honors column pruning), so the
    manifest costs directory listings, not data bytes. The
    schema-spelled-out requirement is a readStream quirk pinned here:
    binaryFile streams do NOT infer."""
    base = stage_binfiles(spark, sf_dir)
    sdf = (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_SCHEMA)
        .load(f"{base}/*.txt")
    )
    out = (
        sdf.select(
            F.regexp_extract(F.col("path"), r"doc_(\d\d)", 1).alias(
                "prefix"
            ),
            "length",
        )
        .groupBy("prefix")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("length").cast("bigint").alias("total_bytes"),
        )
    )
    yield _run_to_memory(out)


@_stream_query(
    "stream_kdc_failed_auth_alert",
    oracle=f"""
    SELECT client, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
           CAST(count(*) AS BIGINT) AS n_failures
    FROM read_parquet('{DRIVER_RECORDS_GLOB}')
    WHERE valid AND NOT success AND req_type = 'AUTH'
    GROUP BY client, date_trunc('hour', ts)
    HAVING count(*) >= 3
    """,
)
def stream_kdc_failed_auth_alert(spark: SparkSession, sf_dir: str):
    """STREAMING KDC SECURITY MONITOR — the reference's whole reason to
    exist, run as a live alert: log files arrive in micro-batches
    (``_sessionized_log_batches``), each batch sessionizes ONLY its
    files and contributes that batch's per-(client, hour) failed-AUTH
    partial counts; the alert table is the rollup of the accumulated
    partials — clients reaching ≥3 failures inside an hour. Partial-count
    append + final merge is the idempotent streaming-counter pattern
    (foreachBatch upsert tier); counts are associative, so file-granular
    batching cannot change the alert set (bounded run ≡ the batch count
    over the materialized records).

    Scale: per batch, only new files are parsed (cost tracks the
    delta); each (clients × hours)-sized partial is pinned in executor
    storage, not event-sized. A production monitor replaces the final
    batch rollup with the same aggregation maintained incrementally
    (foreachBatch MERGE into a keyed store) and an eviction horizon on
    closed hours — the alert predicate is unchanged."""
    kdc_records_parquet(spark, sf_dir)  # oracle twin

    def failed_auth(recs: DataFrame) -> DataFrame:
        return (
            recs.filter(
                F.col("valid")
                & ~F.col("success")
                & (F.col("req_type") == "AUTH")
            )
            .groupBy("client", F.date_trunc("hour", "ts").alias("hour"))
            .agg(F.count("*").alias("n"))
        )

    acc = _sessionized_log_batches(
        spark, synth_dir_for_sf(sf_dir), failed_auth
    )
    yield (
        acc.groupBy("client", "hour")
        .agg(F.sum("n").cast("bigint").alias("n_failures"))
        .where(F.col("n_failures") >= 3)
        .select(
            "client",
            F.col("hour").cast("timestamp").alias("hour"),
            "n_failures",
        )
    )


@_stream_query(
    "stream_topk_windowed",
    oracle="""
    WITH c AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS win_start,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT win_start, event_type, CAST(n AS BIGINT) AS n,
           CAST(rk AS INT) AS rk
    FROM (
      SELECT win_start, event_type, n,
             row_number() OVER (PARTITION BY win_start
                                ORDER BY n DESC, event_type) AS rk
      FROM c
    ) WHERE rk <= 3
    """,
)
def stream_topk_windowed(spark: SparkSession, sf_dir: str):
    """Streaming per-day top-3 event types: the tumbling-window count
    aggregation runs IN the stream (state = |windows x types|, bounded
    by the 1-hour watermark); the rank-and-cut runs as a batch window
    function over the materialized per-window counts — streaming append
    mode cannot rank across rows, so production top-k splits exactly
    this way (stream the mergeable counts, rank in the serving layer).
    Oracle: the bounded stream's final counts must equal the batch
    GROUP BY, so the ranked cut is deterministic under the
    (n DESC, event_type) total order."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    out = ev.groupBy(
        F.window("ts", "1 day").alias("win"), "event_type"
    ).agg(F.count("*").alias("n"))
    res = _run_to_memory(out)
    w = Window.partitionBy("win").orderBy(F.desc("n"), "event_type")
    yield (
        res.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


@_stream_query(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_c
    FROM events GROUP BY event_type
    """,
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str):
    """dropDuplicatesWithinWatermark: dedup whose per-key state EVICTS
    once the watermark passes (event time + delay) — the variant that
    stays bounded on unbounded streams; plain dropDuplicates state
    grows with the key universe. Same doubled feed and oracle as
    stream_dedup_exact: the two ids differ only in the state-eviction
    contract, which is exactly the 100 TB difference."""
    yield stream_dedup_events(spark, sf_dir, within_watermark=True)


@_stream_query(
    "stream_rate_limit_alert",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsu
      FROM events WHERE event_type = 'click'
    ),
    inc AS (
      SELECT user_id, tsu,
             600000 - 1000 * coalesce(
               tsu - lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu),
               0) AS d
      FROM ev
    ),
    r AS (
      SELECT user_id, tsu,
             CAST(sum(d) OVER (PARTITION BY user_id ORDER BY tsu
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS rsum
      FROM inc
    ),
    s AS (
      SELECT user_id, tsu,
             rsum - least(0, min(least(rsum, 0)) OVER (
               PARTITION BY user_id ORDER BY tsu
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
               AS deficit
      FROM r
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN deficit > 1800000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_throttled,
           CAST(max(deficit) AS BIGINT) AS max_deficit_micro
    FROM s GROUP BY user_id
    """,
)
def stream_rate_limit_alert(spark: SparkSession, sf_dir: str):
    """Stateful streaming TOKEN-BUCKET keeper — the applyInPandasWithState
    twin of events_rate_limit_sim (plans/round11_ops.py), sharing its
    closed-form oracle: per-user (deficit, last_tsu, counts) state
    replays S = max(0, S + cost − rate·Δt) in exact integer micro-tokens
    as batches arrive, which IS how a live throttler runs; the batch id
    is the shadow-mode backtest of the same policy. Rows are sorted by
    event time across the WHOLE per-batch group delivery — all Arrow
    chunks concatenated before one global sort (arrival order across the
    key shuffle is not chronological, and a >maxRecordsPerBatch group
    spans chunks — the applyInPandasWithState gotchas), and the file
    source delivers batches oldest-first, so the recurrence order is
    the event-time order and the final per-user summary equals the
    batch closed form exactly: a hash match proves the two
    implementations compute the same function.

    Scale: state is 5 integers per user; an EventTimeTimeout would
    evict idle buckets on an unbounded stream (the bounded bench run
    keeps NoTimeout so every user's final state emits)."""
    ev = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            "user_id",
            F.unix_timestamp("ts").cast("bigint").alias("tsu"),
        )
    )
    cost, rate, burst = 600000, 1000, 1800000

    def update(key, pdfs, state):
        import pandas as pd

        deficit, last_tsu, n, n_thr, mx = (
            state.get if state.exists else (0, -1, 0, 0, 0)
        )
        # One global sort over the WHOLE group delivery: a key whose
        # micro-batch exceeds arrow.maxRecordsPerBatch arrives as
        # multiple chunks, and per-chunk sorting would replay the
        # recurrence out of event-time order.
        for tsu in sorted(int(t) for pdf in pdfs for t in pdf["tsu"]):
            dt = 0 if last_tsu < 0 else tsu - last_tsu
            deficit = max(0, deficit + cost - rate * dt)
            last_tsu = tsu
            n += 1
            mx = max(mx, deficit)
            if deficit > burst:
                n_thr += 1
        state.update((deficit, last_tsu, n, n_thr, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "n_throttled": [n_thr],
                "max_deficit_micro": [mx],
            }
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id BIGINT, n_events BIGINT, n_throttled BIGINT, "
            "max_deficit_micro BIGINT"
        ),
        stateStructType=(
            "deficit BIGINT, last_tsu BIGINT, n BIGINT, n_thr BIGINT, "
            "mx BIGINT"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # pandas-state per user: parallelism-bound like stream_stateful_counts
    yield _run_to_memory(out, "update", n_shuffle=8)


@_stream_query(
    "stream_bollinger_bands",
    oracle="""
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT day, x,
             CAST(count(*) OVER win AS BIGINT) AS n,
             CAST(sum(x) OVER win AS BIGINT) AS s,
             CAST(sum(x * x) OVER win AS BIGINT) AS q
      FROM d
      WINDOW win AS (ORDER BY day
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day, x AS n_events, n AS win_n,
           CAST(s * 1000 // n AS BIGINT) AS mean_milli,
           CAST(n * q - s * s AS BIGINT) AS var_num,
           (x * n - s) > 0
             AND (x * n - s) * (x * n - s) > 4 * (n * q - s * s)
             AS breach_hi,
           (x * n - s) < 0
             AND (x * n - s) * (x * n - s) > 4 * (n * q - s * s)
             AS breach_lo
    FROM w
    """,
)
def stream_bollinger_bands(spark: SparkSession, sf_dir: str):
    """Streaming twin of events_bollinger_bands: the per-day
    tumbling-window counts aggregate IN the stream (mergeable,
    watermark-bounded state — the stream_topk_windowed split); the
    trailing ±2σ breach test runs as a batch window over the
    materialized daily summary, because a cross-WINDOW rolling frame is
    not expressible inside a streaming aggregation (state would need
    retractions across 7 closed windows) — the stream/serving split
    production monitors use. Shares events_bollinger_bands' oracle:
    integer cross-multiplied test, no float anywhere."""
    from kdcloganalyzer_spark.plans.round12_ops import bollinger_breach

    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    out = ev.groupBy(F.window("ts", "1 day").alias("win")).agg(
        F.count("*").cast("bigint").alias("x")
    )
    res = _run_to_memory(out).select(F.col("win.start").alias("day"), "x")
    yield bollinger_breach(res)
