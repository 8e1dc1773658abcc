"""Checks for the event-analytics tier (plans/analytics.py) beyond the
DuckDB oracle: sketch accuracy, funnel monotonicity, session invariants.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kdcloganalyzer_spark.plans import registry
from kdcloganalyzer_spark.sources.tables import load_table

registry.load_all()


def test_hll_estimate_within_5pct_of_exact(spark, sf_dir):
    approx = {
        r.event_type: r.approx_users
        for r in registry.QUERIES["agg_hll_sketch_merge"](
            spark, sf_dir
        ).collect()
    }
    exact = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for t, e in exact.items():
        assert abs(approx[t] - e) <= max(1, 0.05 * e), (t, approx[t], e)


def test_funnel_stages_monotonic(spark, sf_dir):
    rows = sorted(
        registry.QUERIES["events_funnel"](spark, sf_dir).collect(),
        key=lambda r: r.stage,
    )
    assert [r.event_type for r in rows] == ["view", "click", "purchase"]
    assert rows[0].n_users >= rows[1].n_users >= rows[2].n_users


def test_sessions_partition_events(spark, sf_dir):
    sess = registry.QUERIES["sessionize_events_gap"](spark, sf_dir)
    total = sess.agg(F.sum("n_events")).collect()[0][0]
    n_events = load_table(spark, sf_dir, "events").count()
    assert total == n_events  # every event lands in exactly one session
    bad = sess.filter(F.col("sess_end") < F.col("sess_start")).count()
    assert bad == 0


def test_latest_by_key_is_unique_per_key(spark, sf_dir):
    df = registry.QUERIES["dedup_latest_by_key"](spark, sf_dir)
    dup = (
        df.groupBy("user_id", "event_type")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_forecast_flat_series_gives_null_mase(spark, tmp_path):
    """A flat daily series has zero naive error: both forms return a
    NULL MASE, as the oracle's integer division does, instead of a
    divide-by-zero."""
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    days = [datetime(2024, 1, 1) + timedelta(days=i) for i in range(21)]
    pq.write_table(
        pa.table({
            "event_id": list(range(len(days))),
            "ts": pa.array(days, pa.timestamp("us")),
            "user_id": [1] * len(days),
            "event_type": ["view"] * len(days),
            "value": [12.5] * len(days),
        }),
        tmp_path / "events.parquet",
    )
    for qid in (
        "events_forecast_seasonal_naive",
        "events_forecast_seasonal_naive_series",
    ):
        (row,) = registry.QUERIES[qid](spark, str(tmp_path)).collect()
        assert row["n_days"] == len(days) - 7, qid
        assert row["naive_abs_err"] == 0, qid
        assert row["mase_micro"] is None, qid
