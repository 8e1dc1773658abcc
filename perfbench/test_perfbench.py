"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The run tests start the real engine at ``--scale tiny`` (about half a
minute each): every workload must emit every metric named in
BENCHMARK.json with its unit, and a corrupted output must be caught.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import reference  # noqa: E402

WORKLOADS = ("ingest", "query_mix")
END_TO_END = (
    "setup_s", "op_p50_ms", "op_p90_ms", "ops_per_s", "ingest_lines_per_s",
    "cpu_s_per_op", "peak_pss_mb", "error_rate",
)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    assert isinstance(out["failed"], int)
    return out


def tiny(workload: str, trace: int, *extra: str) -> subprocess.CompletedProcess:
    return run("--workload", workload, "--seed", "3", "--seconds", "1",
               "--trace", str(trace), "--scale", "tiny", *extra)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    from kdcloganalyzer_spark.sources.kdc_synth import generate_logs

    return generate_logs(str(tmp_path_factory.mktemp("kdc")), 300, n_files=3, seed=5)


def _write_records(rows, path: str) -> None:
    cols = dict(zip(reference.COLUMNS, zip(*rows)))
    cols["ts"] = pa.array(
        [None if t is None else f"{t}" for t in cols["ts"]], pa.string()
    ).cast(pa.timestamp("s")).cast(pa.timestamp("us", tz="UTC"))
    cols["enctypes"] = pa.array(
        [None if e is None else list(e) for e in cols["enctypes"]], pa.list_(pa.string())
    )
    pq.write_table(pa.table({c: cols[c] for c in reference.COLUMNS}), path)


def test_digest_is_order_free_and_catches_a_changed_record(corpus, tmp_path):
    rows = list(reference.corpus_records(corpus))
    assert len(rows) > 250
    expected = reference.digest(rows)
    path = str(tmp_path / "records.parquet")
    _write_records(rows[::-1], path)
    assert reference.digest(reference.parquet_rows(path)) == expected
    bad = rows[1:] + [rows[0][:11] + ("CHANGED",) + rows[0][12:]]
    _write_records(bad, path)
    assert reference.digest(reference.parquet_rows(path)) != expected
    _write_records(rows[1:], path)
    assert reference.digest(reference.parquet_rows(path)) != expected


def test_reader_keeps_last_header_and_first_error():
    lines = [
        "2015-11-22T15:25:20 AS-REQ a@R from IPv4:10.0.0.1 for krbtgt/R@R",
        "2015-11-22T15:25:20 Failed to decrypt PA-DATA -- a@R",
        "2015-11-22T15:25:21 TGS-REQ b@R from IPv4:10.0.0.2 for host/x@R",
        "2015-11-22T15:25:21 UNKNOWN -- b@R",
        "2015-11-22T15:25:21 sending 10 bytes to IPv4:10.0.0.2",
        "2015-11-22T15:25:22 AS-REQ c@R from IPv4:10.0.0.3 for krbtgt/R@R",
    ]
    (rec,) = reference.read_records(lines)
    assert rec[3] == "b" and rec[11] == "BAD_PASSWORD" and rec[9] is False


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_emits_every_end_to_end_metric(workload):
    proc = tiny(workload, 0)
    out = result(proc)
    assert out["correct"] and out["failed"] == 0
    want = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())
    summary = next(x for x in proc.stdout.splitlines() if x.startswith("summary: "))
    for name in END_TO_END:
        assert f"{name}=" in summary
    receipts = json.loads(
        next(x for x in proc.stdout.splitlines() if x.startswith("receipts: "))[10:]
    )
    for key in ("nproc", "loadavg", "steal_pct", "seed", "spark", "python"):
        assert key in receipts


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_traced_run_emits_every_per_layer_metric(workload):
    out = result(tiny(workload, 1))
    assert out["correct"]
    want = {m["name"]: m["unit"] for m in spec()["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["session.start_ms"] > 0 and m["trace.op_p50_ms"] > 0
    assert m["session.jobs_per_op"] >= 1 and m["plans.analysis_ms"] > 0
    if workload == "ingest":
        assert m["sources.lines"] > 0 and m["operators.records_out"] > 0
    if workload == "query_mix":
        assert m["appcache.records_hit_ratio"] == 1.0
        assert m["streaming.batches"] >= 1 and m["streaming.input_rows"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_a_corrupted_output_is_caught(workload):
    out = result(tiny(workload, 0, "--fault"))
    assert not out["correct"] and out["failed"] >= 1


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = run("--workload", "ingest", "--seed", "1", "--seconds", "1",
               "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
