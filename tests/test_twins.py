"""Scale-path twins: a twin id is its base's builder (or a stage both
call) plus one strategy switch — a series key, a broadcast gate, an
extra sketch aggregate or an envelope stage — so it lives in its base's
module. The result laws between each pair live in the per-module tests."""

from __future__ import annotations

import pytest

from kdcloganalyzer_spark.plans import registry

registry.load_all()

#: twin id -> base id, every batch twin that shares its base's builder
TWINS = {
    "events_forecast_seasonal_naive_series": "events_forecast_seasonal_naive",
    "window_drawdown_series": "window_drawdown",
    "events_bollinger_bands_series": "events_bollinger_bands",
    "events_peak_detection_series": "events_peak_detection",
    "graph_triangle_count_shuffle": "graph_triangle_count",
    "events_calendar_heatmap_hll": "events_calendar_heatmap",
    "pipeline_dedup_rate_hll": "pipeline_dedup_rate_curve",
    "analytics_pareto_concentration_approx": "analytics_pareto_concentration",
    "sessionize_stats_rollup_sketch": "sessionize_stats_rollup",
    "agg_weighted_median_sketch": "agg_weighted_median",
    "events_user_entropy_cms": "events_user_entropy",
    "window_running_distinct_hll": "window_running_distinct",
    "events_dau_mau_stickiness_hll": "events_dau_mau_stickiness",
    "events_rfm_segmentation_approx": "events_rfm_segmentation",
}


@pytest.mark.parametrize("twin,base", sorted(TWINS.items()))
def test_twin_lives_with_its_base(twin, base):
    assert (
        registry.QUERIES[twin].__module__ == registry.QUERIES[base].__module__
    )
