"""SparkSession factory with scale-appropriate defaults.

The defaults target the driver's bench box (local[32], 128 GiB) but every
knob is chosen to also be the right call on a 1000-executor cluster:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
Arrow for any Python exchange, and a shuffle-partition count that AQE can
coalesce downward rather than a hardcoded small one it can't raise.

Every CLI run, bench run and test session starts one fresh gateway JVM,
and starting it (loading and linking Spark's classes) was the largest
fixed cost left. So a launch from ``get_spark`` starts from a dynamic
AppCDS archive it builds itself (``_CdsLaunch``): it maps a checked
archive, or on a miss asks that JVM to dump one at exit. The archive
lives in ``${XDG_CACHE_HOME:-~/.cache}/kdcloganalyzer_spark/cds/<key>/``,
keyed on the JDK, pyspark and the Spark jars. Delete that directory, or
pass ``-Xshare:off`` in ``spark.driver.extraJavaOptions``, for a cold JVM.

Those JVMs are also short-lived (one CLI run, test session or bench run),
and most of their CPU went to JIT compiles of driver code (Catalyst rules,
the scheduler, py4j, serialization) that each run calls only a few hundred
times. So a launch from ``get_spark`` also raises HotSpot's tier-4 (C2)
thresholds (``JIT_OPTIONS``): lukewarm driver code stays in C1, per-row
loops still reach C2. They go before the caller's
``spark.driver.extraJavaOptions``, so a caller's own ``-XX:Tier4...`` wins;
they reach only the driver JVM (in ``local[N]`` also the executor).
``jvm_counters`` reads the JVM's compile and GC time.

``builder_conf`` also turns off PySpark's DataFrame debugging
(``spark.python.sql.dataFrameDebugging.enabled=false``). PySpark 4.1 wraps
every ``pyspark.sql.functions`` call to record its Python call site for
error messages: an active-session lookup, a reflective lookup of the JVM's
``PySparkCurrentOrigin``, a conf read, a stack walk and a set/clear pair.
Measured on 4 vCPU: ``F.col("x")`` took 13 py4j round trips (1.1-1.6 ms)
with it and 3 (0.30-0.44 ms) without; building the 12 KDC report ids of
perfbench's query_mix over warm memos (sf0.01) took 2,562 → 1,052 round
trips and 0.17-0.20 → 0.07-0.13 s of Python CPU. The cost: an error's
"DataFrame query context" no longer names the Python file and line that
built the failing expression; the error class and the Python traceback
are unchanged. The conf is a static SQL conf, so a plain
``SparkSession.builder`` session (how ``__spark_entry__`` is called)
keeps debugging on, and PySpark reads it once per process, on the first
wrapped call made with an active session.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import hashlib
import json
import logging
import os
import secrets
import shutil
import subprocess

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

#: local[N] task slots (and shuffle partitions) when SPARK_GRAFT_CPUS is unset
DEFAULT_CPUS = "32"
#: whole-stage codegen class cache (``spark.sql.codegen.cache.maxEntries``,
#: an LRU, Spark default 100). Sized to the engine's generated-code working
#: set, measured on 4 cores: one ingest op compiles 30 classes, one perfbench
#: query_mix cycle ~180-220, and one pass over all 408 registered ids at
#: sf0.001 ~4,300 (metaspace after that pass: 262 MB, against 232 MB at 100).
#: At 100 the query_mix cycle evicted every id's classes before the id ran
#: again, so each warm run recompiled 2-35 byte-identical classes (a Janino
#: compile each, then the JIT warming the fresh class up again). 8,192 is ~2x
#: the full registry. Static: read once per JVM when codegen first runs, so
#: it only takes effect through ``get_spark``'s builder; a plain
#: ``SparkSession.builder`` session (how ``__spark_entry__`` is called) keeps
#: Spark's 100.
CODEGEN_CACHE_ENTRIES = 8192
#: HotSpot's four tier-4 (C2) thresholds, 4x their JDK 17 defaults (5000,
#: 600, 15000, 40000); the tier-3 (C1) thresholds and the compiler-thread
#: count are the JDK's. Measured on 4 vCPU with perfbench: C1/C2 compiling
#: was 0.5-0.75 s of each 0.78-0.98 s query_mix op and 2.4-3.0 s of each
#: 3.6-4.3 s ingest op, ~80% of it C2 compiling driver code that each op
#: runs a few hundred times. With these (medians of 6 seeds, then of 10
#: pairs): query_mix ``cpu_s_per_op`` 0.885 -> 0.653 s and 0.882 -> 0.670 s,
#: ingest 4.031 -> 3.571 s and 3.853 -> 3.496 s; ``setup_s`` flat to +4%.
#: The price is wall time: lukewarm driver code runs longer as profiled
#: tier-3 code (query_mix op p50 +8%). At 100k records an ingest op went
#: 11.3 -> 9.6 s CPU and 4.2 -> 3.7 s wall. C1 only
#: (``-XX:TieredStopAtLevel=1``) raised that op to 17.4 s CPU; 8x raised
#: query_mix ``setup_s``. Only a JVM that ``get_spark`` launches gets them.
#: Spark adds ``-XX:+IgnoreUnrecognizedVMOptions``, so a misspelt flag here
#: is dropped without a word (``tests/test_session_cds.py`` reads each one
#: back).
JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=20000 -XX:Tier4MinInvocationThreshold=2400 "
    "-XX:Tier4CompileThreshold=60000 -XX:Tier4BackEdgeThreshold=160000"
)

#: how the last JVM launched by ``get_spark`` used the CDS archive:
#: ``{"cds": "mapped" | "promoted" | "dumping" | "skipped", "detail": ...}``
last_launch: dict[str, str] = {}


def builder_conf(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    java_options: str = "",
    engine_options: str = "",
) -> dict[str, str]:
    """The session conf ``get_spark`` builds with. ``SPARK_GRAFT_CPUS`` is
    read here, once per call, for both the task slots and the shuffle
    partitions. The caller's ``spark.driver.extraJavaOptions`` is kept,
    with ``engine_options`` before it (HotSpot keeps a flag's last
    occurrence, so the caller's win) and ``java_options`` after it."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_CPUS)
    conf = {
        "spark.master": master or f"local[{cpus}]",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        # Adaptive execution: coalesce post-shuffle partitions, split skewed
        # joins, convert to broadcast at runtime. Essential at 100 TB.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow batches for any pandas UDF / toPandas exchange.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Timestamps: keep everything session-tz independent.
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        # No Python call-site capture per functions call (module docstring).
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        **(extra_conf or {}),
    }
    opts = " ".join(
        o for o in (engine_options, conf.get("spark.driver.extraJavaOptions", ""), java_options)
        if o
    )
    if opts:
        conf["spark.driver.extraJavaOptions"] = opts
    return conf


def get_spark(
    app_name: str = "kdcloganalyzer_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults."""
    from pyspark import SparkContext

    conf = builder_conf(master, shuffle_partitions, extra_conf)
    launch = None
    if SparkContext._gateway is None:  # this call starts the JVM
        launch = _CdsLaunch.plan(conf)
        conf = builder_conf(master, shuffle_partitions, extra_conf,
                            java_options=launch.options, engine_options=JIT_OPTIONS)
    builder = SparkSession.builder.appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    if launch is None:
        spark = builder.getOrCreate()
    else:
        with launch.environment():
            spark = builder.getOrCreate()
        launch.started(spark)
    # Streaming checkpoint base on tmpfs when available: the bounded
    # bench/test streams are commit-latency-bound (measured −20-25% per
    # stateful query vs /tmp-on-disk), and a checkpoint that must
    # survive a DRIVER restart doesn't belong on local disk either —
    # on a real cluster this conf points at object storage / HDFS and
    # durability comes from that filesystem, not the local one. Each
    # query start gets its own random subdir under the base; the base
    # is removed at interpreter exit (appcache.tempdir), matching the
    # fresh-checkpoint-per-invocation contract every bounded stream
    # here uses. Explicit per-query checkpointLocation options (the
    # restart-semantics tests) override this base and are untouched.
    if not spark.conf.get("spark.sql.streaming.checkpointLocation", None):
        from kdcloganalyzer_spark import appcache

        spark.conf.set(
            "spark.sql.streaming.checkpointLocation",
            appcache.tempdir("kdcspark_ckpt_", fast=True),
        )
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles so far in this JVM (Spark's ``CodegenMetrics``
    compilation-time histogram count). A codegen-cache hit compiles
    nothing, so the difference across a warm re-run is its cache misses."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def jvm_counters(spark: SparkSession) -> dict[str, int]:
    """The driver JVM's ``jit_ms`` (JIT compile time,
    ``CompilationMXBean.getTotalCompilationTime``) and ``gc_ms`` (collection
    time summed over the GC MXBeans) so far; differences across a run are
    its compile and GC cost. Both count threads that have exited (C2
    compiler threads come and go), which ``/proc`` task times do not."""
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return {
        "jit_ms": int(mgmt.getCompilationMXBean().getTotalCompilationTime()),
        "gc_ms": sum(int(gc.getCollectionTime()) for gc in mgmt.getGarbageCollectorMXBeans()),
    }


# -- AppCDS -----------------------------------------------------------------
#
# Measured on 4 vCPU (JDK 17, pyspark 4.1.2, perfbench): ``get_spark`` 7.0 →
# 3.4 s of wall time, the first ingest op 9.6 → 6.7 s; warm ops do not
# change. The dumping JVM starts slower (10.7 s) and writes its archive at
# exit (~10 s for 137 MB; 137-216 MB, after one query to a whole test run).
#
# Rules the scheme follows, each learned from a JVM that misbehaved:
# - JDK 17 will not dump when a non-empty directory is on the classpath,
#   and Spark's launcher puts $SPARK_CONF_DIR first. The launch points it
#   at an empty ``conf/`` beside the archive, but only when the real conf
#   dir holds nothing but ``*.template`` files: a user's spark-defaults.conf
#   or log4j2.properties is never dropped. The other classpath sources
#   (extraClassPath, *_CONF_DIR, --driver-class-path) skip CDS.
# - Mapping a truncated archive kills the JVM with SIGBUS, -Xshare:auto or
#   not. The dumping JVM writes ``app.<pid>.<rand>.jsa.tmp``; a later launch
#   renames it to ``app.jsa`` only once its writer is gone and a
#   ``java -Xshare:on`` probe with the writer's exact classpath maps it.
#   No JVM but the probe ever maps a ``.tmp``. While a writer is alive,
#   launches start without CDS and start no second dump.
# - HotSpot logs warnings to stdout, which the gateway JVM shares with
#   Python (a rejected archive, a class the dump skips): ``_JVM_LOG``.
#   (A dump that fails anyway prints its "Hint:" lines to stdout.)

#: every JVM log line at warning or above goes to stderr, not stdout; the
#: ``cds`` tag's warnings (~600 "Skipping <class>" lines from each dump)
#: are dropped, its errors and ``cds,dynamic`` (a rejected archive) kept
_JVM_LOG = "-Xlog:disable -Xlog:all=warning:stderr -Xlog:cds=error:stderr"
#: caller options that already choose a CDS mode: then add nothing
_CDS_OPTIONS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
#: environment that puts more entries (possibly directories) on the
#: driver classpath
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")


def _cds_root() -> str:
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(cache, "kdcloganalyzer_spark", "cds")


def _cds_key(spark_home: str) -> str:
    """Digest of what an archive's classes come from: the JDK (its
    ``release`` file), pyspark and every Spark jar's name, size and mtime."""
    import pyspark

    java_home = os.environ.get("JAVA_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("java") or "java"))
    )
    h = hashlib.sha256(f"{java_home}\0{pyspark.__version__}\0".encode())
    with contextlib.suppress(OSError), open(os.path.join(java_home, "release"), "rb") as f:
        h.update(f.read())
    for jar in sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar"))):
        st = os.stat(jar)
        h.update(f"{os.path.basename(jar)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def cds_dir() -> str:
    """This install's archive directory (it need not exist yet)."""
    from pyspark.find_spark_home import _find_spark_home

    return os.path.join(_cds_root(), _cds_key(_find_spark_home()))


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # another user's process: alive
        pass
    return True


def _maps(tmp: str, writer: dict) -> bool:
    """Whether a JVM maps the finished dump ``tmp``. The probe needs the
    writer's exact classpath: a different jar order is a mismatch. A cut
    dump crashes the probe, which then leaves no crash report behind."""
    try:
        cmd = [writer["java"], "-Xshare:on", f"-XX:SharedArchiveFile={tmp}",
               f"-XX:ErrorFile={os.devnull}", "-XX:-CreateCoredumpOnCrash",
               "-cp", writer["classpath"], "-version"]
        done = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                              stderr=subprocess.DEVNULL, timeout=60)
    except (KeyError, TypeError, OSError, subprocess.TimeoutExpired):
        return False
    return done.returncode == 0


def _write_json(path: str, obj: dict) -> None:
    with open(path + ".part", "w") as f:
        json.dump(obj, f)
    os.replace(path + ".part", path)


class _CdsLaunch:
    """How one JVM launch uses the archive: ``plan`` decides, under a lock
    on the key dir, ``environment`` wraps the launch, ``started`` records a
    dumping JVM for the launch that later promotes its dump."""

    def __init__(self, path: str, detail: str, options: str = "",
                 conf_dir: str | None = None, writer: str | None = None):
        self.path, self.detail, self.options = path, detail, options
        self.conf_dir, self.writer = conf_dir, writer

    @classmethod
    def plan(cls, conf: dict[str, str]) -> _CdsLaunch:
        from pyspark.find_spark_home import _find_spark_home

        opts = conf.get("spark.driver.extraJavaOptions", "")
        spark_home = _find_spark_home()
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        with contextlib.suppress(OSError):
            kept = sorted(n for n in os.listdir(conf_dir) if not n.endswith(".template"))
            if kept:
                return cls("skipped", f"{conf_dir} holds {kept[0]}")
        if any(o in opts for o in _CDS_OPTIONS):
            return cls("skipped", "extraJavaOptions choose a CDS mode")
        env = [v for v in _CLASSPATH_ENV if os.environ.get(v)]
        if os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell") != "pyspark-shell":
            env.append("PYSPARK_SUBMIT_ARGS")
        if env or "spark.driver.extraClassPath" in conf:
            return cls("skipped", f"classpath extended by {env or 'extraClassPath'}")
        if "PYSPARK_GATEWAY_PORT" in os.environ:
            return cls("skipped", "a JVM is already running")
        d = cds_dir()
        try:
            os.makedirs(os.path.join(d, "conf"), exist_ok=True)
            with open(os.path.join(d, "lock"), "a") as lock:
                fcntl.flock(lock, fcntl.LOCK_EX)
                return cls._decide(d)
        except OSError as e:
            return cls("skipped", f"archive dir unusable: {e}")

    @classmethod
    def _decide(cls, d: str) -> _CdsLaunch:
        archive = os.path.join(d, "app.jsa")
        writing = promoted = False
        for side in glob.glob(os.path.join(d, "app.*.json")):
            tmp = side[: -len(".json")] + ".jsa.tmp"
            try:
                with open(side) as f:
                    writer = json.load(f)
            except (OSError, ValueError):
                writer = {}
            if any(_alive(p) for p in writer.get("pids", [])):
                writing = True
                continue
            if os.path.exists(tmp) and not os.path.exists(archive) and _maps(tmp, writer):
                os.replace(tmp, archive)
                promoted = True
            for f in (tmp, side):
                with contextlib.suppress(FileNotFoundError):
                    os.remove(f)
        # a dump whose writer record is gone (its launcher died before
        # recording the JVM) is never trusted
        for tmp in glob.glob(os.path.join(d, "app.*.jsa.tmp")):
            if not os.path.exists(tmp[: -len(".jsa.tmp")] + ".json"):
                os.remove(tmp)
        conf_dir = os.path.join(d, "conf")
        if os.path.exists(archive):
            return cls("promoted" if promoted else "mapped", archive,
                       f"-XX:SharedArchiveFile={archive} -Xshare:auto {_JVM_LOG}", conf_dir)
        if writing:
            return cls("skipped", "another JVM is still writing the archive")
        root, key = os.path.split(d)
        for other in os.listdir(root):
            if other != key:
                shutil.rmtree(os.path.join(root, other), ignore_errors=True)
        tag = os.path.join(d, f"app.{os.getpid()}.{secrets.token_hex(4)}")
        # the launcher stands for the JVM until ``started`` records it
        _write_json(tag + ".json", {"pids": [os.getpid()]})
        return cls("dumping", tag + ".jsa.tmp",
                   f"-XX:ArchiveClassesAtExit={tag}.jsa.tmp {_JVM_LOG}", conf_dir, tag + ".json")

    @contextlib.contextmanager
    def environment(self):
        """``SPARK_CONF_DIR`` pointed at the empty conf dir for the launch
        (pyspark copies ``os.environ`` when it starts the JVM)."""
        saved = os.environ.get("SPARK_CONF_DIR")
        if self.conf_dir:
            os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            yield
        except BaseException:
            if self.writer:  # no JVM: nothing will be dumped
                with contextlib.suppress(OSError):
                    os.remove(self.writer)
            raise
        finally:
            if saved is None:
                os.environ.pop("SPARK_CONF_DIR", None)
            else:
                os.environ["SPARK_CONF_DIR"] = saved

    def started(self, spark: SparkSession) -> None:
        last_launch.clear()
        last_launch.update(cds=self.path, detail=self.detail)
        log.info("CDS %s: %s", self.path, self.detail)
        if not self.writer:
            return
        jvm = spark.sparkContext._jvm
        _write_json(self.writer, {
            "pids": [int(jvm.java.lang.ProcessHandle.current().pid())],
            "java": os.path.join(jvm.System.getProperty("java.home"), "bin", "java"),
            "classpath": jvm.System.getProperty("java.class.path"),
        })
