"""Plan pins for the cache tier and fixed-width reader:
sql_cached_table must actually read InMemoryTableScan (not re-scan
parquet), and scan_fixed_width's round-trip must be lossless at the
row level (parse(format(x)) == x), not just in the aggregate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kdcloganalyzer_spark.plans import registry
from kdcloganalyzer_spark.sources.tables import load_table

registry.load_all()


def test_cached_table_reads_memory(spark, sf_dir):
    df = registry.QUERIES["sql_cached_table"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Spark 4 renders the cache read as "Scan In-memory table" under a
    # TableCacheQueryStage (the pre-4 node name InMemoryTableScan is
    # gone). The InMemoryRelation's CHILD legitimately shows the
    # original FileScan — that's the cache-BUILD plan, executed once.
    assert "Scan In-memory table" in plan
    assert "InMemoryRelation" in plan


def test_fixed_width_roundtrip_lossless(spark, sf_dir):
    from kdcloganalyzer_spark.plans.relational import (
        fixed_width_path_for_sf,
    )

    registry.QUERIES["scan_fixed_width"](spark, sf_dir).collect()
    raw = spark.read.text(fixed_width_path_for_sf(sf_dir))
    rec = raw.select(
        F.substring("value", 1, 12).cast("bigint").alias("k"),
        F.substring("value", 14, 14).cast("double").alias("p"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("p"),
    )
    # Exact per-row equality both directions: no parse nulls, and the
    # symmetric difference of the two (k, p) multisets is empty.
    assert rec.where(
        F.col("k").isNull() | F.col("p").isNull()
    ).count() == 0
    assert rec.exceptAll(orders).count() == 0
    assert orders.exceptAll(rec).count() == 0
