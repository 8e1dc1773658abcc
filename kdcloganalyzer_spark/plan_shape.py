"""Plan-shape digest: one row of physical-plan counts per batch query id.

``PLAN_SHAPES.json`` at the repo root holds a row for every registered
batch id, built at the test suite's scale (sf0.001) in one JVM with the
test session's settings (``SESSION``).
``python tools/explain_dump.py`` regenerates it and
``tests/test_plan_shapes.py`` fails on any row that no longer matches, so
a plan-changing change shows up as a diff of counts that names
the layer that moved. A row counts, over the plan the engine will run:

- ``exchange.<kind>``: shuffle exchanges by partitioning (``hash``,
  ``range``, ``single``, ``roundrobin``), and ``exchange.broadcast``;
- ``scan.<format>``: file scans by format (``parquet``, ``csv``, ...,
  a DSv2 scan by its class), plus ``scan.rdd`` (a checkpoint read) and
  ``scan.cached`` (an ``InMemoryTableScan``);
- ``join.<kind>``: ``bhj``, ``shj``, ``smj``, ``bnlj``, ``cartesian``;
- ``window``, ``sort``, ``agg.hash``, ``agg.object_hash``, ``agg.sort``,
  ``generate``;
- ``python.<node>``: every Python-evaluation node (``BatchEvalPython``,
  ``ArrowEvalPython``, ``MapInPandas``, ...);
- ``codegen_stages``: whole-stage-codegen stages;
- ``build_actions``: Spark actions run while the DataFrame was built
  (eager checkpoints, collected control scalars; ``BuildCounter`` says
  why actions and not jobs), or ``None`` for an id that reads a memo
  whose ``readers`` do not name it (``readers=None`` included): such a
  memo is warm or cold depending on the ids built before.

Zero counts are left out of a row. How the counts are taken:

- The tree is walked node by node over py4j, never matched as text. An
  adaptive plan contributes its initial plan (the exchanges AQE plans
  before any stage runs) with whole-stage codegen collapsed the way each
  query stage will be; subquery plans are walked too.
- An ``InMemoryTableScan`` is counted as one scan. The cached frame's
  build plan under it ran once, when the cache filled, not on each read
  (a text regex counted 3 exchanges there where 1 ran).
- Counts are a multiset of node kinds, so they do not depend on the
  order of an ``Expand``'s groups, which follows the hash of expression
  ids allocated earlier in the JVM.
- Every memo is cold at each build (``build_row``), so
  ``build_actions`` does not depend on the ids built before. Table
  schemas are read before the first build (``warm_schemas``). An
  ``appcache.stage`` build is not counted: a staged dir outlives the
  process, so whether it is built depends on what ran before, in any
  process.

``py4j_calls`` and ``BuildCounter`` measure that construction layer for
any caller; ``tools/bench_ids.py`` prints both per run.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
from collections import Counter

from pyspark.sql import DataFrame, SparkSession

from kdcloganalyzer_spark import appcache

#: the digest file, at the repo root
SHAPES_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_SHAPES.json"
)
#: the command that rewrites it
REGENERATE = "python tools/explain_dump.py"
#: ``get_spark`` arguments of the test session, which the digest is built in
SESSION = {"master": "local[4]", "shuffle_partitions": 4}

_NODES = {
    "BroadcastExchangeExec": "exchange.broadcast",
    "BroadcastHashJoinExec": "join.bhj",
    "ShuffledHashJoinExec": "join.shj",
    "SortMergeJoinExec": "join.smj",
    "BroadcastNestedLoopJoinExec": "join.bnlj",
    "CartesianProductExec": "join.cartesian",
    "WindowExec": "window",
    "SortExec": "sort",
    "HashAggregateExec": "agg.hash",
    "ObjectHashAggregateExec": "agg.object_hash",
    "SortAggregateExec": "agg.sort",
    "GenerateExec": "generate",
    "WholeStageCodegenExec": "codegen_stages",
    "RDDScanExec": "scan.rdd",
    "ExternalRDDScanExec": "scan.rdd",
    "InMemoryTableScanExec": "scan.cached",
}
_PYTHON_MARKS = ("Python", "Pandas", "InArrow")
#: the rules each AQE query stage gets before it runs, in order
_STAGE_RULES = ("ApplyColumnarRulesAndInsertTransitions", "CollapseCodegenStages")


def batch_ids() -> list[str]:
    """Every registered batch id (stream ids run their stream on build)."""
    from kdcloganalyzer_spark.plans import registry

    registry.load_all()
    return sorted(q for q in registry.QUERIES if not q.startswith("stream"))


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _kind(obj) -> str:
    return obj.getClass().getSimpleName()


def _count(node, row: Counter, rules) -> None:
    cls = _kind(node)
    if cls == "AdaptiveSparkPlanExec":
        plan = node.initialPlan()
        for rule in rules:
            plan = rule.apply(plan)
        return _count(plan, row, rules)
    if cls == "ShuffleExchangeExec":
        part = _kind(node.outputPartitioning()).rstrip("$")  # SinglePartition$
        part = part.removesuffix("Partitioning").removesuffix("Partition")
        row["exchange." + part.lower()] += 1
    elif cls == "FileSourceScanExec":
        row["scan." + node.relation().fileFormat().shortName()] += 1
    elif cls == "BatchScanExec":
        row["scan." + _kind(node.scan())] += 1
    elif cls in _NODES:
        row[_NODES[cls]] += 1
    elif any(m in cls for m in _PYTHON_MARKS):
        row["python." + cls.removesuffix("Exec")] += 1
    for child in itertools.chain(_seq(node.children()), _seq(node.subqueries())):
        _count(child, row, rules)


def shape(df: DataFrame) -> dict[str, int]:
    """The node counts of ``df``'s physical plan (no ``build_actions``)."""
    qe = df._jdf.queryExecution()
    rules = [r for r in _seq(qe.preparations()) if _kind(r) in _STAGE_RULES]
    row: Counter = Counter()
    _count(qe.executedPlan(), row, rules)
    return dict(row)


@contextlib.contextmanager
def py4j_calls():
    """Count py4j round trips in the block: yields a list that holds one
    entry per command sent. Deletes of JVM objects that earlier work
    dropped go through the same client whenever Python collects them,
    so they are left out."""
    from py4j import protocol
    from pyspark import SparkContext

    client = SparkContext._gateway._gateway_client
    send = client.send_command
    delete = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    calls: list[str] = []

    def counting(command, *args, **kwargs):
        if not command.startswith(delete):
            calls.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield calls
    finally:
        client.send_command = send


class BuildCounter:
    """Counts the Spark work a ``count`` block launches. The block runs in
    a fresh job group; the jobs of an ``appcache.stage`` build inside it
    run in another one.

    ``jobs`` is every job of the group. ``actions`` counts each SQL
    execution with a job in the group once, plus each job outside any
    execution (a bare RDD action). AQE runs one action as a job per query
    stage, and how many depends on which stage finishes first:
    ``graph_hits_bipartite`` launched 11 jobs in one build and 12 in
    another of the same JVM, in 2 actions both times."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seq = itertools.count()

    def _group(self, tag: str) -> str:
        gid = f"plan_shape-{next(self._seq)}-{tag}"
        self.sc.setJobGroup(gid, tag)
        return gid

    def _last_execution(self) -> int:
        n = self._sql.executionsCount()  # the store keeps the newest
        return self._sql.executionsList(n - 1, 1).head().executionId() if n else -1

    @contextlib.contextmanager
    def count(self, tag: str):
        """Yields a dict that holds ``jobs`` and ``actions`` once the
        block ends."""
        out: dict[str, int] = {}
        first = self._last_execution() + 1
        gid = self._group(tag)
        stage = appcache.stage

        def staged(path, build):
            def aside(d):
                self._group("stage")
                try:
                    build(d)
                finally:
                    self.sc.setJobGroup(gid, tag)

            return stage(path, aside)

        appcache.stage = staged
        try:
            yield out
        finally:
            appcache.stage = stage
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
            jobs = set(self.sc.statusTracker().getJobIdsForGroup(gid))
            actions, covered = 0, set()
            for eid in range(first, self._last_execution() + 1):
                ex = self._sql.execution(eid)
                if ex.isDefined():
                    ran = set(_seq(ex.get().jobs().keys())) & jobs
                    actions += bool(ran)
                    covered |= ran
            out.update(jobs=len(jobs), actions=actions + len(jobs - covered))


def warm_schemas(spark: SparkSession, sf_dir: str) -> None:
    """Read the schema of every table in ``sf_dir`` into its memo. A
    schema read runs a Spark job once per (app, table); read here, it is
    not booked to whichever id happens to load the table first."""
    import glob

    from kdcloganalyzer_spark.sources.tables import parquet_schema

    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        parquet_schema(spark, path)


def _holds_data(value) -> bool:
    items = value if isinstance(value, tuple) else (value,)
    return any(isinstance(v, DataFrame) for v in items)


def _data_memos() -> list:
    return [m for m in appcache._MEMOS if any(map(_holds_data, m.cache.values()))]


def build_row(spark: SparkSession, qid: str, sf_dir: str, counter: BuildCounter):
    """Build ``qid`` with every memo cold and return ``(row, df)``.

    ``evict_for(qid)`` clears what the bench's cold protocol clears; then
    every other memo's data entries are dropped too. An id that refills a
    memo whose ``readers`` do not name it (``readers=None`` included)
    reads it warm in the bench and in any run after its first, so its
    ``build_actions`` is None."""
    from kdcloganalyzer_spark.plans import registry

    registry.load_all()
    appcache.evict_for(qid)
    for m in _data_memos():
        keys = [k for k, v in m.cache.items() if _holds_data(v)]
        appcache._dict_cache_evictor({k: m.cache.pop(k) for k in keys})()
    with counter.count(qid) as n:
        df = registry.QUERIES[qid](spark, sf_dir)
    row = shape(df)
    unnamed = [
        m for m in _data_memos()
        if m.readers is None or not appcache._matcher(m.readers)(qid)
    ]
    row["build_actions"] = None if unnamed else n["actions"]
    return row, df


def digest(spark: SparkSession, ids: list[str], sf_dir: str,
           progress=None) -> dict[str, dict]:
    """The rows of ``ids``, built in that order in one session;
    ``progress(qid, row)`` is called after each."""
    warm_schemas(spark, sf_dir)
    counter = BuildCounter(spark)
    rows = {}
    for qid in ids:
        rows[qid], _ = build_row(spark, qid, sf_dir, counter)
        if progress:
            progress(qid, rows[qid])
    return rows


def dumps(rows: dict[str, dict]) -> str:
    """The digest as JSON text, one id per line, ids and fields sorted."""
    lines = [
        f"  {json.dumps(q)}: {json.dumps(rows[q], sort_keys=True)}"
        for q in sorted(rows)
    ]
    return "{\n" + ",\n".join(lines) + "\n}\n"


def load() -> dict[str, dict]:
    with open(SHAPES_PATH) as f:
        return json.load(f)


def diff(qid: str, expected: dict, actual: dict) -> str:
    """'' when the rows match, else one line per differing field."""
    fields = sorted(set(expected) | set(actual))
    lines = [
        f"  {k}: {expected.get(k, 0)} -> {actual.get(k, 0)}"
        for k in fields
        if expected.get(k, 0) != actual.get(k, 0)
    ]
    if not lines:
        return ""
    return (
        f"{qid}: plan shape differs from PLAN_SHAPES.json (expected -> now):\n"
        + "\n".join(lines)
        + f"\nIf the change is intended, regenerate with `{REGENERATE}` "
        "and explain the diff."
    )
