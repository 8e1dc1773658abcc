"""Physical-plan shape regressions (SURVEY.md §4: what Catalyst must be
giving us for the 100 TB design to hold).

These don't check answers — the oracle suite does that — they check that
the plans are the plans we designed for: dimension joins broadcast,
predicates reach the parquet scan, aggregations partial-merge before the
exchange, hot expressions stay in whole-stage codegen, and the LSH band
self-joins stay equi-joins (never nested-loop/cartesian).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kdcloganalyzer_spark.plans import registry
from kdcloganalyzer_spark.sources.tables import load_table

registry.load_all()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dim_join_broadcasts(spark, sf_dir):
    plan = _plan(registry.QUERIES["join_broadcast"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    df = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "o_orderstatus" in plan.split(
        "PushedFilters"
    )[1].split("]")[0], plan


def test_column_pruning_reaches_parquet(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema, read_schema
    assert "l_comment" not in read_schema, read_schema


def test_flagship_agg_is_partial_then_final(spark, sf_dir):
    plan = _plan(registry.QUERIES["agg_min_max_count"](spark, sf_dir))
    # partial + final HashAggregate pair around the exchange
    assert plan.count("HashAggregate") >= 2, plan
    assert "Exchange" in plan, plan


def test_hot_path_stays_in_codegen(spark, sf_dir):
    # "*(n)" prefixes mark WholeStageCodegen stages in the plan string.
    plan = _plan(registry.QUERIES["scalar_fn_suite"](spark, sf_dir))
    assert "*(1)" in plan, plan


def test_lsh_band_joins_are_equi_joins(spark, sf_dir):
    for qid in ("dedup_simhash_md5", "dedup_fuzzy_minhash", "dedup_ngram_jaccard_dford"):
        plan = _plan(registry.QUERIES[qid](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in plan, (qid, plan)
        assert "CartesianProduct" not in plan, (qid, plan)


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = _plan(registry.QUERIES["sort_limit_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_partitioned_read_prunes_partitions(spark, sf_dir):
    plan = _plan(registry.QUERIES["sink_partitioned_parquet"](spark, sf_dir))
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "o_orderstatus" in pf, plan


def test_bucketed_join_has_no_join_exchange(spark, sf_dir):
    """Both sides bucketed on the join key ⇒ SortMergeJoin with zero
    Exchange under it; the only Exchange left is the final groupBy's."""
    plan = _plan(registry.QUERIES["join_bucketed"](spark, sf_dir))
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert plan.index("Exchange") < plan.index("SortMergeJoin"), plan


def test_q3_headline_shape(spark, sf_dir):
    plan = _plan(registry.QUERIES["analytics_shipping_priority"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan          # customer dim broadcast
    assert "TakeOrderedAndProject" in plan, plan      # top-10, no global sort
    assert "PushedFilters: [" in plan, plan           # date filters at scans


def test_fanout_operators_spread_before_pair_work(spark, sf_dir):
    """Single-file inputs must be repartitioned (RoundRobin exchange)
    before signature folds / pair joins — otherwise the whole operator
    runs on one core. A table held in one parquet file (one row group)
    scans as ONE partition, and no ``maxPartitionBytes`` can split a row
    group; ``dedup.spread()`` cut dedup_{ngram,simhash,embedding_cosine}
    from ~4.3 s to ~1 s each at sf0.1.

    `dedup_ngram_jaccard` is covered by the spread() unit test below:
    its prefix-join frontend localCheckpoints the spread input, which
    truncates the visible plan to `Scan ExistingRDD` (the repartition
    still ran — inside the checkpointed lineage)."""
    for qid in ("dedup_simhash_md5", "sim_search_lsh"):
        plan = _plan(registry.QUERIES[qid](spark, sf_dir))
        assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan, (
            qid,
            plan,
        )


def test_spread_widens_narrow_and_passes_through_wide(spark, sf_dir):
    """spread(): a single-partition input fans out to defaultParallelism;
    an input already at/above defaultParallelism is returned UNCHANGED
    (no shrinking exchange — the 100 TB guard)."""
    from kdcloganalyzer_spark.operators.dedup import spread

    par = spark.sparkContext.defaultParallelism
    narrow = load_table(spark, sf_dir, "documents").coalesce(1)
    assert narrow.rdd.getNumPartitions() == 1
    assert spread(narrow).rdd.getNumPartitions() == par

    wide = load_table(spark, sf_dir, "documents").repartition(par + 7)
    assert spread(wide) is wide  # pass-through, not merely same count


def test_cli_list_and_explain(spark, sf_dir, capsys):
    """CLI surface: `list` names every registered id; `run --explain`
    prints a physical plan without executing."""
    from kdcloganalyzer_spark.cli import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "agg_min_max_count\toracle" in out
    assert main(["run", "project_narrow", "--sf-dir", sf_dir, "--explain"]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out
    assert main(["run", "nope_not_a_query"]) == 2


def test_bloom_runtime_filter_fires(spark, sf_dir):
    df = registry.QUERIES["join_bloom_runtime"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in plan  # runtime bloom filter reached the scan
    # and the lowered thresholds were restored afterwards
    assert (
        spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )
        != "0"
    )


def test_pq_recall_vs_exact(spark, sf_dir):
    exact = registry.QUERIES["sim_search_cosine"](spark, sf_dir).collect()
    approx = registry.QUERIES["sim_search_pq"](spark, sf_dir).collect()
    ex, pq = {}, {}
    for r in exact:
        ex.setdefault(r.q_id, set()).add(r.vec_id)
    for r in approx:
        pq.setdefault(r.q_id, set()).add(r.vec_id)
    recalls = [len(ex[q] & pq.get(q, set())) / len(ex[q]) for q in ex]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """The day-partitioned fact scan must carry a DynamicPruningExpression
    (DPP subquery from the broadcast dim) so only the dim's surviving 3 of
    30 day directories are read."""
    plan = _plan(
        registry.QUERIES["join_dynamic_partition_pruning"](spark, sf_dir)
    )
    assert "dynamicpruning" in plan.lower(), plan


def test_correlated_subqueries_decorrelate_to_joins(spark, sf_dir):
    """EXISTS → LeftSemi, NOT EXISTS → LeftAnti, correlated scalar COUNT
    → pre-aggregated LeftOuter; no per-row subquery execution shape."""
    plan = _plan(registry.QUERIES["sql_correlated_subquery"](spark, sf_dir))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "LeftOuter" in plan, plan


def test_pricing_summary_partial_aggregates(spark, sf_dir):
    """TPC-H Q1: map-side partial_sum before the exchange; shipdate
    filter pushed to the parquet scan."""
    plan = _plan(
        registry.QUERIES["analytics_pricing_summary"](spark, sf_dir)
    )
    assert "partial_sum" in plan, plan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan


def test_top_paths_takes_ordered_not_global_sort(spark, sf_dir):
    plan = _plan(registry.QUERIES["events_top_paths"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_doc_chunks_zero_exchange(spark, sf_dir):
    """Chunking is a pure map + bounded explode: the only exchange
    allowed is the spread() round-robin, never a hash exchange."""
    plan = _plan(registry.QUERIES["pipeline_doc_chunks"](spark, sf_dir))
    assert "hashpartitioning" not in plan, plan


def test_nested_struct_scan_prunes_subfields(spark, sf_dir):
    """scan_nested_struct: ReadSchema carries only the touched leaves
    (nestedSchemaPruning) and the nested segment predicate reaches the
    parquet scan as a pushed filter."""
    plan = _plan(registry.QUERIES["scan_nested_struct"](spark, sf_dir))
    scan = plan[plan.index("FileScan parquet") :]
    schema = scan.split("ReadSchema: ")[1].split("\n")[0]
    assert "who" in schema and "what" in schema, schema
    assert "ts:timestamp" not in schema and "event_id" not in schema, schema
    assert "EqualTo(who.segment,even)" in scan, scan
