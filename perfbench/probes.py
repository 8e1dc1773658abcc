"""Measurements taken from outside the engine.

- :class:`ProcTree` reads CPU time and memory (PSS) of this process and every
  descendant (the JVM and its Python workers) from ``/proc``.
- :func:`cpu_stat` reads the host's ``/proc/stat`` counters, for the
  steal receipt.
- :class:`SparkStatus` reads the engine's status store (jobs by job
  group, stage metrics, task run-time quantiles, cached RDD bytes) and
  a DataFrame's ``QueryPlanningTracker``.
- :class:`StreamEvents` is a ``StreamingQueryListener`` that keeps
  every micro-batch progress report.
"""

from __future__ import annotations

import os
import re
import threading
import time

from py4j.protocol import Py4JJavaError

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int, tid: int | None = None) -> list[str] | None:
    path = f"/proc/{pid}/stat" if tid is None else f"/proc/{pid}/task/{tid}/stat"
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces or parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _cpu_s(fields: list[str]) -> float:
    """utime + stime of a ``/proc/.../stat`` line, in seconds."""
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def _pss(pid: int) -> int:
    """Proportional set size in bytes: forked Python workers share pages
    with their parent, and RSS would count those pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc``."""
    start = int(_stat_fields(os.getpid())[19]) / CLK_TCK
    with open("/proc/uptime") as f:
        return float(f.read().split()[0]) - start


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class ProcTree:
    """CPU seconds and peak memory (summed PSS) of a process tree.

    CPU time is read on demand, from the calling thread. Memory is
    sampled in a thread of its own, whose CPU time is left out of the
    tree's: it is the benchmark's cost, not the program's.

    A process that exits between reads keeps the CPU time it had at its
    last read, so totals never go backwards."""

    INTERVAL_S = 0.5

    def __init__(self):
        self.root = os.getpid()
        self._cpu: dict[int, float] = {}
        self._tid: int | None = None
        self._sampler_cpu = 0.0
        self.peak_pss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def cpu(self) -> float:
        """The tree's CPU seconds so far, less the memory sampler's."""
        for pid in descendants(self.root):
            f = _stat_fields(pid)
            if f is not None:
                self._cpu[pid] = _cpu_s(f)
        f = _stat_fields(self.root, self._tid) if self._tid else None
        if f is not None:
            self._sampler_cpu = _cpu_s(f)
        return sum(self._cpu.values()) - self._sampler_cpu

    def _loop(self) -> None:
        self._tid = threading.get_native_id()
        while True:
            pss = sum(_pss(pid) for pid in descendants(self.root))
            self.peak_pss = max(self.peak_pss, pss)
            if self._stop.wait(self.INTERVAL_S):
                return

    def start(self) -> "ProcTree":
        self._thread.start()
        return self

    def stop(self) -> None:
        self.cpu()  # the sampler's last CPU reading, while it still runs
        self._stop.set()
        self._thread.join()


def cpu_stat() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return 100.0 * delta[7] / total if total > 0 else 0.0


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _ms(opt_date) -> float | None:
    return float(opt_date.get().getTime()) if opt_date.isDefined() else None


def union_ms(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


EXCHANGE = re.compile(r"\b(?:Broadcast)?Exchange\b")


class SparkStatus:
    """Reads of the engine's status store and planning tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._seq = 0

    def group(self, tag: str) -> str:
        """Start a fresh job group; jobs launched by this thread join it."""
        self._seq += 1
        gid = f"perfbench-{self._seq}-{tag}"
        self.sc.setJobGroup(gid, tag)
        return gid

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def job_ids(self, gid: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(gid))

    def drain(self) -> None:
        """Wait until the status store has seen every posted event."""
        self._bus.waitUntilEmpty(10_000)

    def stages(self, job_ids) -> list[dict]:
        """Metrics of every stage that ran for ``job_ids``."""
        rows, seen = [], set()
        for jid in job_ids:
            try:
                stage_ids = list(_seq(self._store.job(jid).stageIds()))
            except Py4JJavaError:  # job no longer in the store
                continue
            for sid in stage_ids:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: never attempted
                    continue
                start, end = _ms(sd.submissionTime()), _ms(sd.completionTime())
                if start is None or end is None:
                    continue
                rows.append({
                    "stage": sid,
                    "attempt": sd.attemptId(),
                    "tasks": sd.numCompleteTasks(),
                    "run_ms": sd.executorRunTime(),
                    "cpu_ms": sd.executorCpuTime() / 1e6,
                    "gc_ms": sd.jvmGcTime(),
                    "input_bytes": sd.inputBytes(),
                    "input_records": sd.inputRecords(),
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    "start": start,
                    "end": end,
                })
        return rows

    def task_skew(self, stage: dict) -> float:
        """Max over median task run time of one stage."""
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        opt = self._store.taskSummary(stage["stage"], stage["attempt"], q)
        if not opt.isDefined():
            return 1.0
        run = opt.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 1.0

    def cached_bytes(self) -> int:
        return sum(
            r.memoryUsed() + r.diskUsed() for r in _seq(self._store.rddList(True))
        )

    @staticmethod
    def planning(df) -> dict:
        """Plan ``df`` and read its tracker: phase times and exchange count."""
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        phases = {}
        for kv in _seq(qe.tracker().phases()):
            phases[kv._1()] = float(kv._2().durationMs())
        return {
            "analysis_ms": phases.get("analysis", 0.0),
            "optimization_ms": phases.get("optimization", 0.0),
            "planning_ms": phases.get("planning", 0.0),
            "exchanges": len(EXCHANGE.findall(plan)),
        }


def stage_totals(stages: list[dict], wall_ms: float, slots: int) -> dict:
    """Per-op engine metrics from the stages the op ran."""
    active = union_ms((s["start"], s["end"]) for s in stages)
    run = sum(s["run_ms"] for s in stages)
    return {
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "executor_run_ms": run,
        "executor_cpu_ms": sum(s["cpu_ms"] for s in stages),
        "gc_ms": sum(s["gc_ms"] for s in stages),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "spill_bytes": sum(s["spill_bytes"] for s in stages),
        "input_bytes": sum(s["input_bytes"] for s in stages),
        "input_records": sum(s["input_records"] for s in stages),
        "driver_gap_ms": max(0.0, wall_ms - active),
        "slot_idle_ratio": 1.0 - run / (active * slots) if active > 0 else 0.0,
    }


def stream_listener_class():
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamEvents(StreamingQueryListener):
        """Keeps every progress report; counts started/terminated queries."""

        def __init__(self):
            self.progress: list[dict] = []
            self.started = 0
            self.terminated = 0
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            with self._lock:
                self.started += 1

        def onQueryProgress(self, event):
            p = event.progress
            d = dict(p.durationMs or {})
            with self._lock:
                self.progress.append({
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "trigger_ms": float(d.get("triggerExecution", 0)),
                    "add_batch_ms": float(d.get("addBatch", 0)),
                })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._lock:
                self.terminated += 1

        def take(self, timeout: float = 5.0) -> list[dict]:
            """Progress since the last take, once every started query
            has reported termination (events arrive asynchronously)."""
            deadline = time.monotonic() + timeout
            while time.monotonic() < deadline:
                with self._lock:
                    if self.terminated >= self.started:
                        break
                time.sleep(0.02)
            with self._lock:
                out, self.progress = self.progress, []
            return out

    return StreamEvents
