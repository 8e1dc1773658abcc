"""Count-min sketch primitives shared by the batch query
(plans/analytics.py:agg_count_min_sketch) and its streaming twin
(plans/streaming_queries.py:stream_count_min_sketch).

The sketch is d×w counters; hashes are md5-derived and engine-neutral so
DuckDB can replay the whole construction (unlike the opaque-binary
built-in sketches). w = 256 means the bucket IS the first md5 byte of
'<row>:<key>', extractable in portable SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CMS_D, CMS_W = 4, 256


def cms_bucket_sql(key_expr: str, r_expr: str) -> str:
    """DuckDB: first md5 byte of '<r>:<key>' (w=256 → byte 0 IS the
    bucket), via the hex-char strpos trick (no direct byte getter)."""
    m = f"md5(CAST({r_expr} AS VARCHAR) || ':' || {key_expr})"
    return (
        f"((strpos('0123456789abcdef', substr({m}, 1, 1)) - 1) * 16"
        f" + (strpos('0123456789abcdef', substr({m}, 2, 1)) - 1))"
    )


def cms_buckets(key: Column) -> Column:
    """Array of the CMS_D bucket ids for one key — posexplode this to get
    (r, bucket) pairs in a single pass over the stream."""
    return F.array(
        *[
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{r}:"), key)), 1, 2),
                16,
                10,
            )
            .cast("int")
            .alias(f"b{r}")
            for r in range(CMS_D)
        ]
    )


def cms_pairs(keyed: DataFrame) -> DataFrame:
    """(key column named event_type) → one (event_type, r, bucket) row
    per sketch row per record — the single projection both the cell
    build and the point-query side derive from."""
    return keyed.select(
        "event_type", F.posexplode(cms_buckets(F.col("event_type")))
    ).select(
        "event_type",
        F.col("pos").cast("int").alias("r"),
        F.col("col").alias("bucket"),
    )


def cms_cells(keyed: DataFrame) -> DataFrame:
    """(key column named event_type) → (r, bucket, c) cell counts.
    Works identically on batch and streaming DataFrames (the groupBy is
    a streaming-supported stateful aggregation in complete mode)."""
    return cms_pairs(keyed).groupBy("r", "bucket").agg(
        F.count("*").alias("c")
    )
