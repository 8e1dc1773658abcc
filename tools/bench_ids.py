"""Time a subset of registered queries with bench.py's exact
methodology (3 noop-sink executions, record min + median) so a single
operator can be measured before/after an optimization without paying
the full 405-id suite. Prints one JSON line per id.

``compiles`` is the Janino compile count of each run. A healthy id shows
``[n, 0, 0]``: its warm runs hit the codegen cache. A non-zero count on
runs 2-3 flags generated code that changes from run to run (a literal
that differs per build) or a codegen cache too small for the ids run.

``jit_ms`` and ``gc_ms`` are each run's driver-JVM JIT compile time
(``CompilationMXBean.getTotalCompilationTime``: C1 and C2 compiler
threads, including those that exited during the run) and GC time (summed
over the GC MXBeans), from ``session.jvm_counters``. In ``local[N]`` the
driver JVM is also the executor, so both cover the whole engine. A first
run's ``jit_ms`` is mostly the JIT warming up the id's code paths; warm
runs show what still gets hot enough to compile (``get_spark`` raises
the C2 thresholds, ``session.JIT_OPTIONS``). Compare JIT cost between two
trees here, not from ``/proc`` thread times, which lose the compiler
threads that exit.

``py4j_calls`` and ``build_jobs`` are the construction layer of each
run: the py4j round trips made while ``fn(spark, sf_dir)`` builds the
DataFrame (every ``pyspark.sql.functions`` call and Column operator is
at least one; deletes of dropped JVM objects are not counted), and the
Spark jobs launched in that call (eager ``localCheckpoint``s, collected
control scalars) before the timed write starts, not counting the build
of a staged /tmp input (``appcache.stage``). A cold first run pays the
jobs of the memos it fills; warm runs show what each build repeats.

``plan_chars`` is the length of the last run's executed physical plan
text. Planning and rendering that plan costs CPU on every run, so
a memo that drags its build plan into its readers shows up here as a
plan far longer than the id's own operators.

The first line, ``{"session": {...}}``, is the JVM start:
``session_start_s`` (the ``get_spark`` call) and ``cds``, how that JVM
used the engine's AppCDS archive (``mapped``/``promoted``: a warm start
from the archive; ``dumping``: a cold start that writes it at exit;
``skipped``: a cold start, ``detail`` says why). Compare timings only
between runs that started the same way.

An id that raises is recorded as ``{"error": ...}`` and the run goes on,
so one scale rehearsal can time a whole id list above the broadcast
gates (tools/build_sf1.py / build_sf3.py build the datasets).

Usage:
    python tools/bench_ids.py <id> [<id> ...]
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/bench_ids.py ...
    SPARK_GRAFT_SF_DIR=/tmp/rehearsal/sf1 python tools/bench_ids.py ...

Same env contract as bench.py (SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS).
Not part of the driver contract — a developer tool only.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kdcloganalyzer_spark.plan_shape import BuildCounter, py4j_calls  # noqa: E402
from kdcloganalyzer_spark.plans import registry  # noqa: E402
from kdcloganalyzer_spark.session import (  # noqa: E402
    codegen_compiles,
    get_spark,
    jvm_counters,
    last_launch,
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    ids = sys.argv[1:]
    if not ids:
        print("usage: bench_ids.py <qid> [<qid> ...]", file=sys.stderr)
        sys.exit(2)
    registry.load_all()
    unknown = [q for q in ids if q not in registry.QUERIES]
    if unknown:
        print(f"unknown ids: {unknown}", file=sys.stderr)
        sys.exit(2)
    t0 = time.perf_counter()
    spark = get_spark(app_name="bench_ids")
    start_s = round(time.perf_counter() - t0, 3)
    print(json.dumps({"session": {"session_start_s": start_s, **last_launch}}), flush=True)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(100000).selectExpr("sum(id)").collect()
    out = {}
    counter = BuildCounter(spark)
    for qid in ids:
        fn = registry.QUERIES[qid]
        spark.sparkContext.setJobDescription(f"bench_ids: {qid}")
        runs, compiles, jvm = [], [], {"jit_ms": [], "gc_ms": []}
        build = {"py4j_calls": [], "build_jobs": []}
        try:
            for _ in range(3):
                c0, j0 = codegen_compiles(spark), jvm_counters(spark)
                t0 = time.perf_counter()
                with py4j_calls() as calls, counter.count(qid) as n:
                    df = fn(spark, sf_dir)
                build["py4j_calls"].append(len(calls))
                build["build_jobs"].append(n["jobs"])
                df.write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
                compiles.append(codegen_compiles(spark) - c0)
                j1 = jvm_counters(spark)
                for k in jvm:
                    jvm[k].append(j1[k] - j0[k])
            out[qid] = {
                "min": round(min(runs), 3),
                "median": round(sorted(runs)[1], 3),
                "runs": [round(r, 3) for r in runs],
                "compiles": compiles,
                **build,
                **jvm,
                "plan_chars": len(
                    df._jdf.queryExecution().executedPlan().toString()
                ),
            }
        except Exception as ex:  # noqa: BLE001 — e.g. an OOM above a gate
            # one failing id must not end a scale rehearsal of the rest
            out[qid] = {"error": f"{type(ex).__name__}: {str(ex)[:200]}"}
        print(json.dumps({qid: out[qid]}), flush=True)
    spark.sparkContext.setJobDescription(None)
    print(json.dumps({"all": out}))


if __name__ == "__main__":
    main()
