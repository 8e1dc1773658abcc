"""kdcspark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 12 --trace 0

Workloads (see workloads.py): ``ingest`` (raw KDC logs → sessionized
records parquet) and ``query_mix`` (the KDC report ids over a persisted
records table, plus a cold sample of non-KDC operators and a streaming
id).

One client drives the engine in a closed loop: each op starts when the
previous one has finished. Inputs are generated from ``--seed``; the
engine runs on ``local[nproc]``. After an untimed warm pass, the run
measures whole cycles of ops: as many as ``--seconds`` buys at the
workload's nominal speed, so every run does the same work. Every output
is checked: ingest outputs against an independent reader's digest,
query ids against their DuckDB oracle.

``--trace 0`` reports the end-to-end metrics (set-up time and CPU
seconds per op, see BENCHMARK.json); ``--trace 1`` alternates
plain and traced cycles and reports the per-layer metrics, including the
tracing overhead. Both print any errors, the receipts and a summary of
every end-to-end figure before the final JSON line, and write every op
record to ``perfbench/.work/trace-<workload>-<seed>-<trace>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("ingest", "query_mix")
#: start no new cycle this long after process start, once a first cycle
#: (a plain and a traced one when tracing) is done: a slow host gets
#: fewer cycles, not a run twice as long
SOFT_STOP_S = 75.0
#: stop starting new ops this long after process start (runs must end by 180 s)
HARD_STOP_S = 140.0


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="tiny: small inputs, for the benchmark's own tests")
    p.add_argument("--fault", action="store_true",
                   help="corrupt one output before its check (tests the checks)")
    return p.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Ctx:
    """Run state shared with the workload."""

    def __init__(self, args, work: str):
        self.seed, self.scale, self.fault = args.seed, args.scale, args.fault
        self.trace = bool(args.trace)
        self.work = work
        self.cache = os.path.join(HERE, ".work", "cache")
        os.makedirs(self.cache, exist_ok=True)
        self.slots = len(os.sched_getaffinity(0))
        self.spark = self.status = self.streams = None
        self.phases: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time a set-up phase into the receipts."""
        t = time.perf_counter()
        yield
        self.phases[name] = time.perf_counter() - t

    def engine_totals(self, groups, wall_ms: float) -> dict:
        from probes import stage_totals

        self.status.drain()
        jobs = [j for g in groups for j in self.status.job_ids(g)]
        return stage_totals(self.status.stages(jobs), wall_ms, self.slots)


def common_layers(ops: list[dict]) -> dict:
    from workloads import median

    t = [o for o in ops if o.get("traced") and "error" not in o]
    m = lambda k: median(o.get(k) for o in t)  # noqa: E731
    return {
        "session.jobs_per_op": m("jobs"),
        "session.stages_per_op": m("stages"),
        "session.tasks_per_op": m("tasks"),
        "session.executor_run_ms": m("executor_run_ms"),
        "session.executor_cpu_ms": m("executor_cpu_ms"),
        "session.gc_ms": m("gc_ms"),
        "session.slot_idle_ratio": m("slot_idle_ratio"),
        "session.shuffle_write_bytes": m("shuffle_write_bytes"),
        "session.spill_bytes": m("spill_bytes"),
        "session.driver_gap_ms": m("driver_gap_ms"),
        "plans.build_ms": m("build_ms"),
        "plans.build_jobs": m("build_jobs"),
        "plans.analysis_ms": m("analysis_ms"),
        "plans.optimization_ms": m("optimization_ms"),
        "plans.planning_ms": m("planning_ms"),
        "plans.exec_ms": m("exec_ms"),
        "plans.exchanges": m("exchanges"),
    }


def stop_engine(spark) -> None:
    """Stop Spark, close the JVM gateway and reap every process we started."""
    from pyspark import SparkContext

    from probes import descendants

    me = os.getpid()
    started = [p for p in descendants(me) if p != me]
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:  # JVM ignored EOF: kill it
                proc.kill()
                proc.wait()
    # Python workers re-parent away from the JVM when it exits
    deadline = time.monotonic() + 10
    for sig in (signal.SIGTERM, signal.SIGKILL):
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        for p in alive:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        while alive and time.monotonic() < deadline:
            time.sleep(0.05)
            alive = [p for p in alive if _alive(p)]
        if not alive:
            return
        deadline = time.monotonic() + 5


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def percentile(xs, q: float):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else None


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "kdcloganalyzer_spark")):
        print(f"perfbench: no kdcloganalyzer_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import probes
    from workloads import WORKLOADS, median

    spec = load_spec()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    ctx = Ctx(args, work)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(ctx.slots),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYSPARK_PYTHON=os.environ.get("PYSPARK_PYTHON", sys.executable),
        # every JVM, the launcher too: no /tmp/hsperfdata, temp files here
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    )
    tree = probes.ProcTree().start()
    stat0 = probes.cpu_stat()
    spark = None
    try:
        from kdcloganalyzer_spark.plans import registry

        registry.load_all()
        from inputs import redirect_engine

        redirect_engine(work, args.seed)
        wl = WORKLOADS[args.workload](ctx)
        t = time.perf_counter()
        wl.inputs()
        inputs_s = time.perf_counter() - t

        from kdcloganalyzer_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
        session_start_ms = (time.perf_counter() - t) * 1000.0
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark, ctx.status = spark, probes.SparkStatus(spark)
        if ctx.trace:
            ctx.streams = probes.stream_listener_class()()
            spark.streams.addListener(ctx.streams)
        wl.setup()
        setup_s = probes.process_age_s() - inputs_s

        ops: list[dict] = []
        w0 = time.perf_counter()
        # a fixed amount of work per run: whole cycles, as many as
        # --seconds buys at the workload's nominal speed; traced runs
        # alternate plain and traced cycles, in pairs
        step = 2 if ctx.trace else 1
        cycles = max(1, round(args.seconds / (wl.nominal_cycle_s * step))) * step
        for cycle in range(cycles):
            if cycle >= step and cycle % step == 0 and probes.process_age_s() > SOFT_STOP_S:
                break
            traced = ctx.trace and cycle % 2 == 1
            for _ in range(wl.cycle):
                if ops and probes.process_age_s() > HARD_STOP_S:
                    break
                i = len(ops)
                cpu0 = tree.cpu()
                try:
                    rec = wl.op(i, traced)
                except Exception as e:  # noqa: BLE001 — a failed op is a result
                    rec = {"id": wl.op_id(i), "traced": traced,
                           "error": f"{type(e).__name__}: {e}"[:500],
                           "traceback": traceback.format_exc()[-4000:]}
                rec["cpu_s"] = tree.cpu() - cpu0
                ops.append(rec)
        window_s = time.perf_counter() - w0
        wl.finish(ops)
        layers = wl.layers(ops)
        versions = {
            "python": sys.version.split()[0],
            "pyspark": __import__("pyspark").__version__,
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        }
    finally:
        tree.stop()
        if spark is not None:
            stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)

    done = [o for o in ops if "ms" in o]
    plain_ops = [o for o in done if not o.get("traced")]
    plain = [o["ms"] for o in plain_ops]
    failed = sum(1 for o in ops if "error" in o)
    receipts = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "nproc": ctx.slots, "loadavg": list(os.getloadavg()),
        "steal_pct": probes.steal_pct(stat0, probes.cpu_stat()),
        "inputs_s": inputs_s, "session_start_s": session_start_ms / 1000.0,
        **{f"{k}_s": v for k, v in ctx.phases.items()}, "window_s": window_s, "ops": len(ops),
        **versions,
    }
    # every end-to-end figure, by name and unit; the JSON line carries
    # those BENCHMARK.json bounds: set-up time and CPU per op. Per-op
    # wall time is printed but not bounded: on a shared host it follows
    # the host's CPU steal, run to run, far more than CPU time does
    summary = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (median(plain), "ms"),
        "op_p90_ms": (percentile(plain, 0.9) if len(plain) >= 100 else None, "ms"),
        "op_samples": (len(plain), "count"),
        "ops_per_s": (len(done) / window_s, "1/s"),
        "ingest_lines_per_s": (
            wl.lines * len(plain) / (sum(plain) / 1000.0)
            if args.workload == "ingest" and plain else None, "lines/s"),
        # a mean, not a median: the JIT compiles in the early ops of a
        # run, and every run pays for that in the same ops
        "cpu_s_per_op": (
            sum(o["cpu_s"] for o in plain_ops) / len(plain_ops) if plain_ops else None, "s"),
        "peak_pss_mb": (tree.peak_pss / 2**20, "MiB"),
        "error_rate": (failed / max(1, len(ops)), "ratio"),
    }
    if args.trace:
        traced_p50 = median(o["ms"] for o in done if o.get("traced"))
        values = {
            **common_layers(ops), **layers,
            "session.start_ms": session_start_ms,
            "trace.op_p50_ms": traced_p50,
            "trace.overhead_ms": traced_p50 - median(plain) if traced_p50 and plain else None,
        }
        wanted = spec["per_layer"]
    else:
        values = {k: v for k, (v, _) in summary.items()}
        wanted = spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"]) or 0.0), "unit": m["unit"]}
        for m in wanted
    }
    trace_path = os.path.join(
        HERE, ".work", f"trace-{args.workload}-{args.seed}-{args.trace}.json"
    )
    with open(trace_path, "w") as f:
        json.dump({"receipts": receipts, "summary": summary, "metrics": values,
                   "ops": ops}, f, indent=1, default=str)
    errors = sorted({f"{o['id']}: {o['error']}" for o in ops if "error" in o})
    for e in errors:
        print(f"error: {e}")
    print("receipts:", json.dumps(receipts))
    print("summary: " + ", ".join(
        f"{k}={'n/a' if v is None else f'{v:.6g}'} {u}" for k, (v, u) in summary.items()
    ))
    print(json.dumps({
        "correct": failed == 0 and bool(done),
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
