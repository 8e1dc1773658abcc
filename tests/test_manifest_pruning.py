"""File-skipping manifest (scan_manifest_pruned): the min/max manifest
must actually SKIP files for a selective interval, never lose rows, and
stay exactly consistent with a full scan of the staged data.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kdcloganalyzer_spark.plans import registry
from kdcloganalyzer_spark.plans.relational import (
    manifest_path_for_sf,
    manifest_pruned_files,
)

registry.load_all()


def test_manifest_prunes_files(spark, sf_dir):
    files, total = manifest_pruned_files(
        spark, sf_dir, lo=None, hi="1996-01-01"
    )
    assert total == 8
    # ~1 year of a 6.5-year range-clustered table: most files skip.
    assert 0 < len(files) < total


def test_pruned_result_equals_full_scan(spark, sf_dir):
    base = manifest_path_for_sf(sf_dir)
    files, _ = manifest_pruned_files(
        spark, sf_dir, lo=None, hi="1996-01-01"
    )
    cutoff = F.lit("1996-01-01").cast("timestamp")
    pruned = (
        spark.read.parquet(*files)
        .where(F.col("o_orderdate") < cutoff)
        .agg(F.count("*").alias("n"), F.sum("o_orderkey").alias("s"))
        .collect()[0]
    )
    full = (
        spark.read.parquet(f"{base}/data")
        .where(F.col("o_orderdate") < cutoff)
        .agg(F.count("*").alias("n"), F.sum("o_orderkey").alias("s"))
        .collect()[0]
    )
    assert pruned["n"] > 0
    assert (pruned["n"], pruned["s"]) == (full["n"], full["s"])


def test_two_sided_interval_overlap_logic(spark, sf_dir):
    """A mid-range window must qualify only overlapping files, and a
    window outside the data range must qualify none."""
    mid, _ = manifest_pruned_files(
        spark, sf_dir, lo="1997-01-01", hi="1997-06-01"
    )
    assert 0 < len(mid) <= 2
    empty, _ = manifest_pruned_files(
        spark, sf_dir, lo="2050-01-01", hi="2051-01-01"
    )
    assert empty == []
