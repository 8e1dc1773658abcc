"""Query registry: operator id → (spark, sf_dir) → DataFrame, plus oracle SQL.

Operator ids are the stable snake_case ids from SURVEY.md §2; the driver's
correctness gate compares each ``QUERIES[id]`` against ``ORACLES[id]`` run
by DuckDB over the same parquet (row count + schema + order-insensitive
value hash). Ids without an oracle get a weaker rows-only check — keep that
set to genuinely non-SQL-expressible operators.

Conventions that make the hash compare work (driver contract):
- alias every computed column identically in the Spark plan and the SQL;
- round floating-point aggregates (ROUND(x, 2)) on BOTH sides so the
  hash is insensitive to summation order;
- top-k queries use a total tie-break order so the selected set is
  deterministic.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(qid: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query callable under ``qid``, optionally with oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if qid in QUERIES:
            raise ValueError(f"duplicate query id: {qid}")
        QUERIES[qid] = fn
        if oracle is not None:
            ORACLES[qid] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every query module so registration side effects run."""
    from kdcloganalyzer_spark.plans import (  # noqa: F401
        analytics,
        curation,
        kdc_queries,
        llm_pipeline,
        pipeline_ext,
        relational,
        round8_ops,
        round9_ops,
        round10_ops,
        round11_ops,
        round12_ops,
        streaming_queries,
    )
