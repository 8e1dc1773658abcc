"""Steady-state ingest throughput at more than one corpus size.

Runs perfbench's ingest op, ``sessionize(read_log_lines_raw(logs))``
written as parquet, over a seeded synthetic KDC corpus
(``kdc_synth.generate_logs``, 16 files, the last gzipped), in one JVM.
Each size gets 2 untimed warm ops, then ``--ops`` timed ones. At
perfbench's 10k records an op is mostly per-op cost (planning, JIT,
scheduling); at 100k records per-line work dominates, so the second size
shows what a change does to the engine's throughput rather than to its
fixed cost.

One JSON line per op (warm ops carry ``"warm": true``):
- ``wall_s``: the op's wall time;
- ``cpu_s``: CPU of the whole process tree (this Python process, the JVM
  and its Python workers) from ``/proc``; a process that exits keeps the
  CPU it had at its last read;
- ``jit_ms``, ``gc_ms``: the driver JVM's JIT compile and GC time during
  the op (``session.jvm_counters``);
- ``ingest_lines_per_s``: corpus lines over ``wall_s``.
Then one ``{"summary": ...}`` line per size with the medians of the timed
ops.

Usage:
    python tools/ingest_scale.py                      # 10k and 100k records
    python tools/ingest_scale.py --records 100000 --seed 3 --ops 5

``SPARK_GRAFT_CPUS`` defaults to the CPUs this process may run on, as in
perfbench. The corpus and outputs go to a temp dir removed at the end
(``--work DIR`` keeps them, and reuses a corpus already there). A
developer tool, outside the benchmark: it imports nothing from
``perfbench/``.
"""

from __future__ import annotations

import argparse
import gzip
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CLK_TCK = os.sysconf("SC_CLK_TCK")
WARM_OPS = 2
FILES = 16


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces or parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


class TreeCpu:
    """utime + stime of this process and all its descendants, in seconds."""

    def __init__(self):
        self.root = os.getpid()
        self.seen: dict[int, float] = {}

    def __call__(self) -> float:
        stats = {int(p): _stat(int(p)) for p in os.listdir("/proc") if p.isdigit()}
        children: dict[int, list[int]] = {}
        for pid, f in stats.items():
            if f is not None:
                children.setdefault(int(f[1]), []).append(pid)
        todo = [self.root]
        while todo:
            pid = todo.pop()
            f = stats.get(pid)
            if f is not None:
                self.seen[pid] = (int(f[11]) + int(f[12])) / CLK_TCK
            todo.extend(children.get(pid, ()))
        return sum(self.seen.values())


def corpus_lines(log_dir: str) -> int:
    n = 0
    for name in sorted(os.listdir(log_dir)):
        if name.startswith("."):
            continue
        path = os.path.join(log_dir, name)
        with (gzip.open if name.endswith(".gz") else open)(path, "rb") as f:
            n += sum(1 for _ in f)
    return n


def run_size(spark, work: str, records: int, seed: int, ops: int, tree: TreeCpu) -> None:
    from kdcloganalyzer_spark.operators.sessionize import sessionize
    from kdcloganalyzer_spark.session import jvm_counters
    from kdcloganalyzer_spark.sources import kdc_synth
    from kdcloganalyzer_spark.sources.kdc_log import read_log_lines_raw

    logs = os.path.join(work, f"logs-{records}-{seed}")
    kdc_synth.generate_logs(logs, records, n_files=FILES, seed=seed)
    lines = corpus_lines(logs)
    timed = []
    for i in range(WARM_OPS + ops):
        out = os.path.join(work, f"out-{records}-{i}")
        cpu0, jvm0, t0 = tree(), jvm_counters(spark), time.perf_counter()
        sessionize(read_log_lines_raw(spark, logs)).write.mode("overwrite").parquet(out)
        wall = time.perf_counter() - t0
        cpu, jvm = tree() - cpu0, jvm_counters(spark)
        shutil.rmtree(out, ignore_errors=True)
        rec = {
            "records": records, "lines": lines, "seed": seed, "op": i,
            "wall_s": round(wall, 3), "cpu_s": round(cpu, 3),
            "jit_ms": jvm["jit_ms"] - jvm0["jit_ms"], "gc_ms": jvm["gc_ms"] - jvm0["gc_ms"],
            "ingest_lines_per_s": round(lines / wall),
        }
        if i < WARM_OPS:
            rec["warm"] = True
        else:
            timed.append(rec)
        print(json.dumps(rec), flush=True)
    keys = ("wall_s", "cpu_s", "jit_ms", "gc_ms", "ingest_lines_per_s")
    print(json.dumps({"summary": {
        "records": records, "lines": lines, "seed": seed, "ops": len(timed),
        **{k: statistics.median(r[k] for r in timed) for k in keys},
    }}), flush=True)


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--records", type=int, nargs="+", default=[10_000, 100_000])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--ops", type=int, default=5, help="timed ops per size")
    p.add_argument("--work", help="keep the corpus and outputs here")
    args = p.parse_args(argv)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    from kdcloganalyzer_spark.session import get_spark

    work = args.work or tempfile.mkdtemp(prefix="ingest_scale_")
    os.makedirs(work, exist_ok=True)
    tree = TreeCpu()
    spark = get_spark(app_name="ingest_scale",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for records in args.records:
            run_size(spark, work, records, args.seed, args.ops, tree)
    finally:
        spark.stop()
        if not args.work:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
