"""``get_spark``'s AppCDS archive (session._CdsLaunch).

Each JVM case starts ``get_spark`` in a child process whose
``XDG_CACHE_HOME`` is a temp dir, so the archive under test is never the
user's. The child stops its JVM and waits for it, so a dump is complete
(or was never made) when the child returns. Five JVMs in all, two of
which dump an archive at exit (~10 s each on 4 cores). Each child also
reads back the JVM's tier-4 JIT thresholds (``session.JIT_OPTIONS``),
whatever the launch did with CDS.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

from kdcloganalyzer_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, re, sys
from pyspark import SparkContext
from kdcloganalyzer_spark import session

extra = json.loads(os.environ.get("KDC_TEST_EXTRA_CONF", "{}"))
spark = session.get_spark(app_name="cds_test", extra_conf=extra)
spark.sparkContext.setLogLevel("ERROR")
jvm = spark.sparkContext._jvm
# what the JVM runs with: Spark adds -XX:+IgnoreUnrecognizedVMOptions, so
# a misspelt flag would be dropped without a word
hotspot = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
tier4 = {n: int(hotspot.getVMOption(n).getValue())
         for n in re.findall(r"-XX:(\w+)=", session.JIT_OPTIONS)}
pid = int(jvm.java.lang.ProcessHandle.current().pid())
with open(f"/proc/{pid}/maps") as f:
    maps = sorted({line.split()[-1] for line in f if ".jsa" in line})
args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
print(json.dumps({
    "launch": session.last_launch,
    "maps": maps,
    "jvm_args": [a for a in args if "share" in a.lower() or "Archive" in a],
    "classpath": jvm.System.getProperty("java.class.path"),
    "tier4": tier4,
    "marker": spark.conf.get("spark.kdc.test.marker", None),
    "sum": spark.range(1000).selectExpr("sum(id) AS s").collect()[0].s,
}))
gw = SparkContext._gateway
proc = gw.proc
spark.stop()
gw.shutdown()
proc.stdin.close()
proc.wait(timeout=120)
"""


#: the four tier-4 thresholds ``get_spark`` launches its JVM with
TIER4 = {
    "Tier4InvocationThreshold": 20000,
    "Tier4MinInvocationThreshold": 2400,
    "Tier4CompileThreshold": 60000,
    "Tier4BackEdgeThreshold": 160000,
}


def _env(cache: str, **extra: str) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET")}
    env.update(XDG_CACHE_HOME=cache, SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2",
               PYTHONPATH=ROOT, **extra)
    return env


def _start(cache: str, **extra: str) -> tuple[dict, str, str]:
    """Run the child: its one JSON line, its whole stdout and stderr."""
    done = subprocess.run([sys.executable, "-c", CHILD], env=_env(cache, **extra),
                          cwd=cache, capture_output=True, text=True, timeout=300)
    assert done.returncode == 0, done.stderr[-3000:]
    return json.loads(done.stdout.splitlines()[-1]), done.stdout, done.stderr


def _cds_dir(cache: str) -> str:
    old = os.environ.get("XDG_CACHE_HOME")
    os.environ["XDG_CACHE_HOME"] = cache
    try:
        return session.cds_dir()
    finally:
        if old is None:
            del os.environ["XDG_CACHE_HOME"]
        else:
            os.environ["XDG_CACHE_HOME"] = old


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


@pytest.fixture(scope="module")
def scratch():
    """Parent of every case's cache: the archives are 100+ MB each, so
    they go when the module is done, not with pytest's kept temp dirs."""
    d = tempfile.mkdtemp(prefix="kdc_cds_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def miss_then_hit(scratch):
    """A first start on an empty cache (beside a stale key dir), then a
    second start on what the first one left."""
    cache = tempfile.mkdtemp(dir=scratch)
    d = _cds_dir(cache)
    stale = os.path.join(os.path.dirname(d), "0123456789abcdef")
    os.makedirs(stale)
    open(os.path.join(stale, "app.jsa"), "w").close()
    first, out1, _ = _start(cache)
    left = sorted(os.listdir(d))
    stale_left = os.path.exists(stale)
    second, out2, _ = _start(cache)
    return {"cache": cache, "dir": d, "first": first, "left": left, "stale_left": stale_left,
            "second": second, "after": sorted(os.listdir(d)), "stdout": [out1, out2]}


def test_miss_dumps_to_tmp_and_prunes_stale_key(miss_then_hit):
    r = miss_then_hit
    assert r["first"]["launch"]["cds"] == "dumping"
    assert r["first"]["sum"] == 499500
    assert r["first"]["tier4"] == TIER4
    assert not any(r["dir"] in m for m in r["first"]["maps"])
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in r["first"]["jvm_args"])
    assert "app.jsa" not in r["left"]
    assert [f for f in r["left"] if f.endswith(".jsa.tmp")], r["left"]
    assert not r["stale_left"]
    assert len(r["stdout"][0].splitlines()) == 1, r["stdout"][0]


def test_next_start_promotes_and_maps_archive(miss_then_hit):
    r = miss_then_hit
    archive = os.path.join(r["dir"], "app.jsa")
    assert r["second"]["launch"] == {"cds": "promoted", "detail": archive}
    assert archive in r["second"]["maps"]
    assert r["second"]["sum"] == 499500
    assert r["second"]["tier4"] == TIER4
    assert not [f for f in r["after"] if f.endswith((".jsa.tmp", ".json"))], r["after"]
    assert len(r["stdout"][1].splitlines()) == 1, r["stdout"][1]


def test_truncated_dump_of_dead_writer_is_deleted(miss_then_hit, scratch):
    """A dump cut short (a killed JVM) must never be mapped: mapping it
    kills the JVM with SIGBUS. Same classpath as the archive's writer, so
    the probe rejects it for the truncation alone."""
    r = miss_then_hit
    cache = tempfile.mkdtemp(dir=scratch)
    d = _cds_dir(cache)
    os.makedirs(d)
    tag = os.path.join(d, f"app.{_dead_pid()}.0badf00d")
    with open(os.path.join(r["dir"], "app.jsa"), "rb") as src, open(tag + ".jsa.tmp", "wb") as dst:
        dst.write(src.read(os.path.getsize(src.name) // 2))
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    with open(tag + ".json", "w") as f:
        json.dump({"pids": [_dead_pid()], "java": java,
                   "classpath": r["second"]["classpath"]}, f)
    # a caller's own tier-4 threshold comes after the engine's, so it wins
    caller = {"spark.driver.extraJavaOptions": "-XX:Tier4InvocationThreshold=5000"}
    out, _, _ = _start(cache, KDC_TEST_EXTRA_CONF=json.dumps(caller))
    assert out["tier4"] == {**TIER4, "Tier4InvocationThreshold": 5000}
    assert not os.path.exists(tag + ".jsa.tmp")
    assert not glob.glob(os.path.join(cache, "hs_err*")), "the probe's crash left a report"
    assert not any(".jsa.tmp" in m or d in m for m in out["maps"]), out["maps"]
    assert out["launch"]["cds"] == "dumping"
    assert out["sum"] == 499500


def test_user_conf_dir_gets_no_cds_flags(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.kdc.test.marker  kept\n")
    out, _, _ = _start(str(tmp_path), SPARK_CONF_DIR=str(conf))
    assert out["launch"]["cds"] == "skipped"
    assert "spark-defaults.conf" in out["launch"]["detail"]
    assert out["jvm_args"] == []
    assert out["tier4"] == TIER4
    assert out["marker"] == "kept"
    assert not os.path.exists(tmp_path / "kdcloganalyzer_spark")


def test_rejected_archive_keeps_stdout_clean(miss_then_hit, scratch):
    """An archive dumped under another cache root records that root's
    conf dir on its classpath, so this JVM rejects it. HotSpot's warning
    about it must not reach stdout, which the JVM shares with Python."""
    cache = tempfile.mkdtemp(dir=scratch)
    d = _cds_dir(cache)
    os.makedirs(d)
    shutil.copy(os.path.join(miss_then_hit["dir"], "app.jsa"), d)
    out, stdout, stderr = _start(cache)
    assert out["launch"]["cds"] == "mapped"
    assert out["sum"] == 499500
    assert out["tier4"] == TIER4
    assert not any(d in m for m in out["maps"])
    assert len(stdout.splitlines()) == 1, stdout
    assert "Unable to use shared archive" in stderr


def test_builder_conf_reads_cpus_per_call(monkeypatch):
    """``SPARK_GRAFT_CPUS`` set after import sizes both the task slots
    and the shuffle partitions (the shuffle count used to be frozen at
    import)."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    conf = session.builder_conf()
    assert conf["spark.master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert session.builder_conf(shuffle_partitions=5)["spark.sql.shuffle.partitions"] == "5"
    assert not hasattr(session, "DEFAULT_SHUFFLE_PARTITIONS")


def test_caller_java_options_survive(monkeypatch, tmp_path):
    extra = {"spark.driver.extraJavaOptions": "-Dkdc.test=1"}
    conf = session.builder_conf(extra_conf=extra, java_options="-Xshare:auto")
    assert conf["spark.driver.extraJavaOptions"] == "-Dkdc.test=1 -Xshare:auto"
    # engine options, then the caller's (HotSpot keeps a flag's last
    # occurrence), then CDS
    conf = session.builder_conf(extra_conf=extra, java_options="-Xshare:auto",
                                engine_options=session.JIT_OPTIONS)
    assert conf["spark.driver.extraJavaOptions"] == (
        f"{session.JIT_OPTIONS} -Dkdc.test=1 -Xshare:auto")
    # what get_spark builds with once its JVM runs: no options
    assert "spark.driver.extraJavaOptions" not in session.builder_conf()
    # a caller that already chooses a CDS mode gets nothing added
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    launch = session._CdsLaunch.plan({"spark.driver.extraJavaOptions": "-Xshare:off"})
    assert (launch.path, launch.options) == ("skipped", "")
    assert not glob.glob(str(tmp_path / "kdcloganalyzer_spark"))
