"""Structured Streaming semantics tests (SURVEY.md §5.2 item 4 adjacent):
batch-equivalence of the streaming sessionizer and watermark late-drop,
and the bounded-stream runner's cleanup contract.

The window-aggregation queries (tumbling/sliding/session) are covered by
the parametrized DuckDB oracle suite; here we pin the two rows-only
streaming behaviors.
"""

from __future__ import annotations

import os
import tokenize
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from kdcloganalyzer_spark import appcache
from kdcloganalyzer_spark.plans import registry
from kdcloganalyzer_spark.plans import streaming_queries as SQ
from kdcloganalyzer_spark.sources.kdc_synth import synth_dir_for_sf

PKG = Path(SQ.__file__).resolve().parents[1]
SHUFFLE = "spark.sql.shuffle.partitions"
NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"
CKPT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"


def test_stream_sessionize_equals_batch(spark, sf_dir):
    """File-granular micro-batches must assemble EXACTLY the records the
    batch sessionizer does — streaming adds incremental discovery, never
    different semantics."""
    from kdcloganalyzer_spark.operators.sessionize import sessionize
    from kdcloganalyzer_spark.sources.kdc_log import read_log_lines_raw

    log_dir = synth_dir_for_sf(sf_dir)
    batch = sessionize(read_log_lines_raw(spark, log_dir)).drop("enctypes")
    stream = SQ.stream_sessionize_kdc(spark, log_dir)

    assert stream.count() == batch.count()
    # exceptAll both ways == multiset equality.
    assert stream.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream).count() == 0


def test_stateful_counts_carry_state_across_batches(spark, sf_dir, tmp_path):
    """applyInPandasWithState must ACCUMULATE per-key state across
    micro-batches of one run: stream the events split into two files with
    maxFilesPerTrigger=1, then the LAST update-mode emission per user must
    equal the whole-table batch aggregate (not the second file's alone)."""
    import glob
    import shutil

    from pyspark.sql.streaming.state import GroupStateTimeout

    from kdcloganalyzer_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    mid = ev.selectExpr("percentile_approx(ts, 0.5, 10000) AS m").collect()[0]["m"]
    stage = str(tmp_path)
    data_dir = f"{stage}/data"
    os.makedirs(data_dir)
    for name, part in (
        ("00_first.parquet", ev.filter(F.col("ts") < F.lit(mid))),
        ("01_second.parquet", ev.filter(F.col("ts") >= F.lit(mid))),
    ):
        tmp = f"{stage}/_tmp"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], f"{data_dir}/{name}")

    def update(key, pdfs, state):
        import pandas as pd

        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id BIGINT, n BIGINT",
            stateStructType="n BIGINT",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    res = SQ._run_to_memory(sdf, "update")
    # last emission per user == cumulative count == batch GROUP BY
    final = res.groupBy("user_id").agg(F.max("n").alias("n"))
    expected = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    assert final.exceptAll(expected).count() == 0
    assert expected.exceptAll(final).count() == 0


def test_watermark_drops_late_batch(spark, sf_dir):
    """Batch 1 (recent rows) advances the watermark; batch 2 (only older
    rows) must be fully dropped, so every finalized window sits at/after
    the recent half's first hour and total counts never exceed the recent
    row count."""
    from kdcloganalyzer_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    split_ts = ev.selectExpr("percentile_approx(ts, 0.5, 10000) AS m").collect()[
        0
    ]["m"]
    n_recent = ev.filter(F.col("ts") >= F.lit(split_ts)).count()

    out = SQ.stream_watermark_late_drop(spark, sf_dir)
    rows = out.collect()
    assert rows, "append mode emitted no finalized windows"
    assert sum(r["n"] for r in rows) <= n_recent
    first_hour = min(r["win_start"] for r in rows)
    # No window may predate the recent half (old rows were dropped).
    assert first_hour >= split_ts.replace(minute=0, second=0, microsecond=0)


def test_rate_limit_keeper_multichunk_groups(spark, sf_dir, tmp_path):
    """Regression (r11 ADVICE): a group whose micro-batch delivery spans
    MULTIPLE Arrow chunks must replay the token-bucket recurrence in
    one global event-time order — per-chunk sorting diverges from the
    batch closed form whenever arrival order isn't chronological.
    Build a ts-DESCENDING events copy (so within-key arrival order is
    reversed) and force tiny chunks (maxRecordsPerBatch=4) so every
    multi-click user spans chunks, then demand exact equality with a
    sequential Python replay on the globally sorted series."""
    from kdcloganalyzer_spark.plans.round11_ops import (
        _RL_BURST,
        _RL_COST,
        _RL_RATE,
    )
    from kdcloganalyzer_spark.sources.tables import load_table

    mini = str(tmp_path / "rl_sf")
    (tmp_path / "rl_sf").mkdir()
    pdf = (
        load_table(spark, sf_dir, "events")
        .orderBy(F.col("ts").desc())
        .toPandas()
    )
    pdf.to_parquet(f"{mini}/events.parquet", index=False)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        got = {
            r["user_id"]: (
                r["n_events"], r["n_throttled"], r["max_deficit_micro"]
            )
            for r in SQ.stream_rate_limit_alert(spark, mini).collect()
        }
    finally:
        spark.conf.set(key, prev)

    from collections import defaultdict

    per_user = defaultdict(list)
    for r in (
        load_table(spark, mini, "events")
        .where(F.col("event_type") == "click")
        .select("user_id", F.unix_timestamp("ts").cast("bigint").alias("tsu"))
        .collect()
    ):
        per_user[r["user_id"]].append(r["tsu"])
    expect = {}
    for uid, ts in per_user.items():
        ts.sort()
        s, prev_t, n_thr, mx = 0, None, 0, 0
        for t in ts:
            dt = 0 if prev_t is None else t - prev_t
            s = max(0, s + _RL_COST - _RL_RATE * dt)
            prev_t = t
            mx = max(mx, s)
            if s > _RL_BURST:
                n_thr += 1
        expect[uid] = (len(ts), n_thr, mx)
    assert max(len(v) for v in per_user.values()) > 4, (
        "fixture must have a user spanning >1 Arrow chunk"
    )
    assert got == expect


def test_stream_run_leaves_no_sink_view(spark, sf_dir):
    """A bounded run's memory-sink view is dropped once its result frame
    exists: re-runs must not pin every past run's rows in the catalog."""
    registry.load_all()
    appcache.evict_for("stream_window_tumbling")
    res = registry.QUERIES["stream_window_tumbling"](spark, sf_dir)
    assert res.count() > 0
    names = [t.name for t in spark.catalog.listTables()]
    assert not [n for n in names if n.startswith("stream_result_")], names


def test_events_stream_pins_no_nanos_conf(spark, sf_dir):
    """The legacy nanos-as-long read is pinned only for a footer that
    holds TIMESTAMP(NANOS) columns (sf0.001's events hold none), the way
    ``load_table`` pins it, instead of on every stream read."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    spark.conf.unset(key)
    try:
        SQ.read_events_stream(spark, sf_dir)
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, before)


def _tempdirs_made(monkeypatch) -> list[str]:
    """Record every dir ``appcache.tempdir`` makes from here on (the one
    way package code makes scratch dirs, tmpfs or the tempdir)."""
    made = []
    tempdir = appcache.tempdir

    def recording(prefix, fast=False):
        made.append(tempdir(prefix, fast=fast))
        return made[-1]

    monkeypatch.setattr(appcache, "tempdir", recording)
    return made


@pytest.mark.parametrize(
    "qid",
    # a memory sink, a foreachBatch collector, a two-run restart whose
    # result reads its parquet sink
    ["stream_window_tumbling", "stream_sessionize", "stream_watermark_late_drop"],
)
def test_stream_run_leaves_no_scratch(spark, sf_dir, qid, monkeypatch):
    """Once a stream id returns, no checkpoint or scratch dir of its run
    is left in tmpfs or the tempdir (its staged inputs, built by a first
    run, are kept by design)."""
    registry.load_all()
    run = registry.QUERIES[qid]
    run(spark, sf_dir)
    appcache.evict_for(qid)
    made = _tempdirs_made(monkeypatch)
    assert run(spark, sf_dir).count() > 0
    assert made
    assert [d for d in made if os.path.exists(d)] == []


def test_state_reader_cold_reruns_leave_no_checkpoint(spark, sf_dir, monkeypatch):
    """Each cold re-run of the state reader re-runs its bounded count to
    a checkpoint and reads the state store back from it; the checkpoint
    dir goes once the result is pinned, so re-runs do not pile up
    ``state_inspect_*`` dirs, and the state still equals the oracle."""
    from kdcloganalyzer_spark.oracle import compare, duckdb_con, oracle_sql_for

    registry.load_all()
    run = registry.QUERIES["stream_state_reader"]
    made = _tempdirs_made(monkeypatch)
    con = duckdb_con(sf_dir)
    for _ in range(3):
        appcache.evict_for("stream_state_reader")
        ok, msg = compare(run(spark, sf_dir), con, oracle_sql_for("stream_state_reader", sf_dir))
        assert ok, msg
    inspect = [d for d in made if os.path.basename(d).startswith("state_inspect_")]
    assert len(inspect) == 3, made
    assert [d for d in inspect if os.path.exists(d)] == []


def test_runner_restores_confs_and_drops_its_checkpoint(
    spark, sf_dir, monkeypatch
):
    """The runner scopes the shuffle width, the no-data batch and the
    checkpoint file manager to the run and restores all three, and drops
    its checkpoint, also when a foreachBatch function raises."""

    def confs(s):
        return (s.conf.get(SHUFFLE), s.conf.get(NO_DATA), s.conf.get(CKPT_MANAGER, None))

    before_confs = confs(spark)
    ev = SQ.read_events_stream(spark, sf_dir)
    made = _tempdirs_made(monkeypatch)
    n = ev.groupBy("event_type").count()
    assert SQ._run_to_memory(n, "complete", n_shuffle=7).count() > 0
    assert confs(spark) == before_confs

    seen = []

    def spy(batch):
        seen.append(confs(batch.sparkSession))
        return batch

    assert SQ._collect_batches(ev, spy, n_shuffle=7).count() > 0
    assert set(seen) == {("7", "true", SQ._FS_CKPT_MANAGER)}
    assert confs(spark) == before_confs

    def boom(batch):
        seen.append(confs(spark))
        raise RuntimeError("batch failed")

    seen.clear()
    with pytest.raises(Exception, match="batch failed"):
        SQ._collect_batches(ev, boom, n_shuffle=7, no_data=False)
    assert seen == [("7", "false", SQ._FS_CKPT_MANAGER)]
    assert confs(spark) == before_confs
    assert len(made) == 3
    assert [d for d in made if os.path.exists(d)] == []


def test_every_bounded_run_goes_through_the_runner():
    """No code in the package outside ``_run_bounded`` starts a bounded
    stream or waits for one (docstrings and comments may name them),
    and the old operator layer is gone."""
    import inspect

    assert not (PKG / "streaming").exists()
    lines, start = inspect.getsourcelines(SQ._run_bounded)
    runner = {
        (Path(SQ.__file__).resolve(), n)
        for n in range(start, start + len(lines))
    }
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        with open(path, "rb") as f:
            for tok in tokenize.tokenize(f.readline):
                if (
                    tok.type == tokenize.NAME
                    and tok.string in ("availableNow", "awaitTermination")
                    and (path, tok.start[0]) not in runner
                ):
                    hits.append(f"{path.relative_to(PKG)}:{tok.start[0]}")
    assert hits == []
