"""Laws for round-9 operators that the oracle compare can't pin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kdcloganalyzer_spark.plans import registry
from kdcloganalyzer_spark.plans.analytics import _coorder_edges
from kdcloganalyzer_spark.plans.round8_ops import (
    lp_initial_labels,
    lp_vote_round,
)
from kdcloganalyzer_spark.plans.round9_ops import (
    _lp_changed,
    lp_converged_labels,
)

registry.load_all()


def test_label_propagation_limit_set_law(spark, sf_dir):
    """The converged loop's stop claim must be real: a manual replay of
    `rounds` synchronous votes reaches a state labels_t with
    labels_t == labels_{t-2} (the limit set), and the returned labels
    are exactly that state (fixed point) or the per-node min over the
    two cycle phases."""
    sym = _coorder_edges(spark, sf_dir)
    labels, rounds, reason = lp_converged_labels(sym, max_rounds=10)
    assert reason in ("fixed_point", "cycle", "cap")
    if reason == "cap":
        return  # nothing claimed beyond the bound
    # Manual replay to round `rounds`.
    replay = lp_initial_labels(sym).localCheckpoint()
    for _ in range(rounds):
        replay = lp_vote_round(sym, replay).localCheckpoint()
    nxt = lp_vote_round(sym, replay).localCheckpoint()
    nxt2 = lp_vote_round(sym, nxt)
    assert _lp_changed(nxt2, replay) == 0  # period divides 2
    if reason == "fixed_point":
        assert _lp_changed(nxt, replay) == 0
        expected = replay
    else:
        assert _lp_changed(nxt, replay) > 0  # genuine 2-cycle
        expected = (
            replay.alias("a")
            .join(nxt.alias("b"), "node")
            .select(
                "node", F.least(F.col("a.lab"), F.col("b.lab")).alias("lab")
            )
        )
    got = sorted((r["node"], r["lab"]) for r in labels.collect())
    want = sorted((r["node"], r["lab"]) for r in expected.collect())
    assert got == want


def test_label_propagation_converged_query_shape(spark, sf_dir):
    """The registered query must report the loop's own rounds/reason,
    and its histogram must equal the one recomputed from
    lp_converged_labels over the same graph."""
    sym = _coorder_edges(spark, sf_dir)
    labels, rounds, reason = lp_converged_labels(sym, max_rounds=10)
    conv = registry.QUERIES["graph_label_propagation_converged"](
        spark, sf_dir
    )
    head = conv.select("n_rounds", "stop_reason").first()
    assert (head["n_rounds"], head["stop_reason"]) == (rounds, reason)
    want = sorted(
        (r["lab"], r["n"])
        for r in labels.groupBy("lab")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    got = sorted(
        (r["community"], r["n_members"]) for r in conv.collect()
    )
    assert got == want


def test_hive_partition_pruning_is_real(spark, sf_dir):
    """scan_hive_partitioned's filter must prune at the DIRECTORY
    level: the executed scan reads files from the o_orderstatus=F
    subdirectory ONLY, and the plan carries a PartitionFilters entry
    on the partition column."""
    from kdcloganalyzer_spark.plans.round9_ops import hive_part_path_for_sf

    registry.QUERIES["scan_hive_partitioned"](spark, sf_dir).collect()
    base = hive_part_path_for_sf(sf_dir)
    pruned = spark.read.parquet(base).where(F.col("o_orderstatus") == "F")
    # executed file set (inputFiles() lists the relation PRE-pruning,
    # so read the files actually touched at execution instead)
    touched = [
        r[0]
        for r in pruned.select(
            F.input_file_name().alias("f")
        ).distinct().collect()
    ]
    assert touched, "staged layout missing"
    assert all("o_orderstatus=F" in f for f in touched), touched[:3]
    all_files = spark.read.parquet(base).inputFiles()
    assert len(all_files) > len(touched)  # other partitions exist unread
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_orderstatus" in plan


@pytest.mark.parametrize(
    "qid", ["pipeline_interleave_sources", "pipeline_interleave_sources_ranged"]
)
@pytest.mark.parametrize(
    "sources,message",
    [
        (["web", None, "books"], "NULL source value"),
        ([f"s{i:02d}" for i in range(65)], "65 sources exceeds"),
    ],
    ids=["null_source", "too_many_sources"],
)
def test_interleave_source_contracts_raise(spark, monkeypatch, qid, sources, message):
    """The bounded-domain contracts are ValueErrors, not asserts, so
    `python -O` cannot strip them."""
    from kdcloganalyzer_spark.sources import tables

    docs = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sources)], "doc_id long, source string"
    )
    monkeypatch.setattr(tables, "load_table", lambda *a, **k: docs)
    with pytest.raises(ValueError, match=f"{qid}: {message}"):
        registry.QUERIES[qid](spark, "/unused/sf0.001")
