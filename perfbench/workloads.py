"""The two workloads: what one op is, how it is checked, what it traces.

Each workload has four steps, which ``run.py`` calls in order:

- ``inputs``: benchmark-side input generation (not part of ``setup_s``);
- ``setup``: engine-side preparation and one untimed warm pass;
- ``op``: one timed operation, plain or traced;
- ``finish``: output checks that must stay out of the timed window.

The engine is driven only through its public entry points:
``sources.kdc_log.read_log_lines_raw``, ``operators.sessionize.sessionize``,
``plans.registry.QUERIES``, ``plans.kdc_queries.kdc_records``,
``appcache.evict_for`` and ``oracle``.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time

import reference
from inputs import star_tables

KDC_IDS = (
    "first_last_auth_per_user", "auth_count_per_user", "tgs_count_per_service",
    "first_last_use_per_service", "most_common_errors", "users_few_services",
    "top_n_kdc_entities", "counters_observe", "agg_tagged_union",
    "kdc_failed_auth_burst", "kdc_password_spray", "kdc_account_lockout",
)
#: non-KDC ids, run cold: the dedup, cms (a round-N plan module) and
#: multimodal operators, and the streaming layer
ENGINE_IDS = (
    "dedup_minhash_pairs_md5", "events_user_entropy_cms", "multimodal_decode",
    "stream_window_tumbling",
)
#: ids whose result the engine caches; evict_for must clear it before each op
STREAM_IDS = ("stream_window_tumbling",)

SCALES = {
    # ingest records / files; the query sf dir and the KDC corpus size
    # the engine derives from its name
    "full": {"records": 10_000, "files": 16, "sf": "sf0.01", "kdc_records": 10_000},
    "tiny": {"records": 2_000, "files": 4, "sf": "sf0.001", "kdc_records": 1_000},
}


def now_ms() -> float:
    return time.perf_counter() * 1000.0


def median(xs):
    xs = sorted(x for x in xs if x is not None)
    if not xs:
        return None
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2.0


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    #: ops of one cycle; a run measures whole cycles
    cycle = 1
    #: typical seconds per cycle on a 4-core host: ``--seconds`` buys
    #: round(seconds / nominal) cycles, the same work on every run
    nominal_cycle_s = 1.0

    def __init__(self, ctx):
        self.ctx = ctx

    def inputs(self) -> None:
        pass

    def setup(self) -> None:
        pass

    def op(self, i: int, traced: bool) -> dict:
        raise NotImplementedError

    def op_id(self, i: int) -> str:
        return self.name

    def traced(self, build, sink) -> dict:
        """Build, plan and run one op, each phase in its own job group."""
        st = self.ctx.status
        gb = st.group("build")
        t0 = now_ms()
        df = build()
        t1 = now_ms()
        rec = st.planning(df)
        t2 = now_ms()
        gx = st.group("exec")
        sink(df)
        t3 = now_ms()
        st.clear_group()
        rec.update(self.ctx.engine_totals([gb, gx], t3 - t0))
        rec.update(
            ms=t3 - t0, build_ms=t1 - t0, exec_ms=t3 - t2,
            build_jobs=len(st.job_ids(gb)),
            jobs=len(st.job_ids(gb)) + len(st.job_ids(gx)),
        )
        return rec

    def finish(self, ops: list[dict]) -> None:
        pass

    def layers(self, ops: list[dict]) -> dict:
        return {}


# --- ingest -------------------------------------------------------------------


class Ingest(Workload):
    """Raw multi-line KDC logs → sessionized records table as parquet."""

    name = "ingest"
    nominal_cycle_s = 2.5

    def inputs(self) -> None:
        from kdcloganalyzer_spark.sources import kdc_synth

        c = self.ctx
        sc = SCALES[c.scale]
        self.logs = os.path.join(c.work, "logs")
        kdc_synth.generate_logs(self.logs, sc["records"], n_files=sc["files"], seed=c.seed)
        self.lines = reference.corpus_lines(self.logs)
        self.expected = self._reference_digest(kdc_synth.__file__, sc)
        self.out_root = os.path.join(c.work, "out")

    def _reference_digest(self, synth_src: str, sc: dict) -> str:
        """Digest of the independent reader's records, cached per seed."""
        h = hashlib.md5()
        for p in (reference.__file__, synth_src):
            with open(p, "rb") as f:
                h.update(f.read())
        key = f"ingest-{sc['records']}-{sc['files']}-{self.ctx.seed}-{h.hexdigest()[:12]}"
        path = os.path.join(self.ctx.cache, key)
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        d = reference.corpus_digest(self.logs)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(d)
        os.replace(tmp, path)
        return d

    def _records(self):
        from kdcloganalyzer_spark.operators.sessionize import sessionize
        from kdcloganalyzer_spark.sources.kdc_log import read_log_lines_raw

        return sessionize(read_log_lines_raw(self.ctx.spark, self.logs))

    def setup(self) -> None:
        """Untimed ops: the first pays the cold JIT, the second lets the
        op time settle."""
        out = os.path.join(self.out_root, "warm")
        for n in range(1, 3):
            with self.ctx.phase(f"warm{n}"):
                self._records().write.mode("overwrite").parquet(out)
        shutil.rmtree(out, ignore_errors=True)

    def op(self, i: int, traced: bool) -> dict:
        out = os.path.join(self.out_root, f"op{i}")
        rec = {"id": "ingest", "out": out, "traced": traced}
        if not traced:
            t0 = now_ms()
            self._records().write.mode("overwrite").parquet(out)
            rec["ms"] = now_ms() - t0
            return rec
        rec.update(self._decompose())
        rec.update(self.traced(
            self._records, lambda df: df.write.mode("overwrite").parquet(out)
        ))
        rec["records_write_ms"] = rec["ms"] - rec["sessionize_total_ms"]
        return rec

    def _decompose(self) -> dict:
        """Scan, scan+features and scan+features+sessionize, each to a
        noop sink: the differences are the per-layer times."""
        from pyspark.sql import functions as F

        from kdcloganalyzer_spark.functions.kdc_parse import line_features
        from kdcloganalyzer_spark.sources.kdc_log import read_log_lines_raw

        st, spark = self.ctx.status, self.ctx.spark

        def timed(tag, build):
            gid = st.group(tag)
            t0 = now_ms()
            noop_write(build())
            ms = now_ms() - t0
            st.clear_group()
            st.drain()
            return ms, st.stages(st.job_ids(gid))

        scan_ms, scan_st = timed("scan", lambda: read_log_lines_raw(spark, self.logs))
        feat_ms, _ = timed("features", lambda: read_log_lines_raw(spark, self.logs).select(
            *[v.alias(k) for k, v in line_features(F.col("line")).items()]
        ))
        sess_ms, sess_st = timed("sessionize", self._records)
        heaviest = max(sess_st, key=lambda s: s["run_ms"], default=None)
        return {
            "scan_ms": scan_ms,
            "lines": sum(s["input_records"] for s in scan_st),
            "input_bytes": sum(s["input_bytes"] for s in scan_st),
            "line_features_ms": feat_ms - scan_ms,
            "sessionize_ms": sess_ms - feat_ms,
            "sessionize_total_ms": sess_ms,
            "sessionize_shuffle_bytes": sum(s["shuffle_write_bytes"] for s in sess_st),
            "sessionize_task_skew": st.task_skew(heaviest) if heaviest else 1.0,
        }

    def finish(self, ops: list[dict]) -> None:
        for rec in ops:
            if "error" in rec:
                continue
            rows = list(reference.parquet_rows(rec["out"]))
            if self.ctx.fault and rec is ops[0]:
                rows = rows[1:]
            got = reference.digest(rows)
            rec["records_out"] = len(rows)
            if got != self.expected:
                rec["error"] = f"records digest {got} != reference {self.expected}"
            shutil.rmtree(rec["out"], ignore_errors=True)

    def layers(self, ops: list[dict]) -> dict:
        t = [o for o in ops if o.get("traced") and "error" not in o]
        m = lambda k: median(o.get(k) for o in t)  # noqa: E731
        out = {
            "sources.scan_ms": m("scan_ms"),
            "sources.lines": m("lines"),
            "sources.input_bytes": m("input_bytes"),
            "functions.line_features_ms": m("line_features_ms"),
            "operators.sessionize_ms": m("sessionize_ms"),
            "operators.records_out": m("records_out"),
            "operators.sessionize_shuffle_bytes": m("sessionize_shuffle_bytes"),
            "operators.sessionize_task_skew": m("sessionize_task_skew"),
            "plans.records_write_ms": m("records_write_ms"),
            "plans.rows_out": m("records_out"),
        }
        if out["sources.lines"]:
            out["operators.records_per_line"] = out["operators.records_out"] / out["sources.lines"]
        return out


# --- registered queries -------------------------------------------------------


class QueryMix(Workload):
    """Read side: the README/Tier-2 KDC ids over a persisted records table,
    plus a cold sample of non-KDC operators and a streaming id, in a
    seed-shuffled order.

    One op builds the id's DataFrame and writes it to a noop sink. The
    records persist is built in set-up and never evicted; every other id
    is made cold with ``appcache.evict_for`` before each op. Every id is
    compared once per run against its DuckDB oracle, in the warm pass; a
    failed compare fails every op of that id."""

    name = "query_mix"
    ids = KDC_IDS + ENGINE_IDS
    nominal_cycle_s = 8.5

    def inputs(self) -> None:
        from kdcloganalyzer_spark.plans import kdc_queries

        c = self.ctx
        sc = SCALES[c.scale]
        sf = sc["sf"]
        self.sf_dir = star_tables(
            os.path.join(c.work, "tables", sf), float(sf[2:]), c.seed
        )
        corpus = kdc_queries.synth_dir_for_sf(self.sf_dir)  # the seeded corpus
        if not corpus.endswith(f"_{sc['kdc_records']}"):
            # the engine reads the size from the first "sf<n>" in the path
            raise RuntimeError(f"KDC corpus {corpus} for {self.sf_dir} has the wrong size")
        self.order = list(self.ids)
        random.Random(c.seed).shuffle(self.order)
        self.cycle = len(self.order)
        self.rows: dict[str, int] = {}
        self.bad: dict[str, str] = {}
        self.hits = self.probes = 0

    def op_id(self, i: int) -> str:
        return self.order[i % len(self.order)]

    def _warm_and_check(self) -> None:
        from kdcloganalyzer_spark import appcache, oracle
        from kdcloganalyzer_spark.plans.registry import QUERIES

        con = oracle.duckdb_con(self.sf_dir)
        for qid in self.order:
            if qid in ENGINE_IDS:
                appcache.evict_for(qid)
            df = QUERIES[qid](self.ctx.spark, self.sf_dir)
            sql = oracle.oracle_sql_for(qid, self.sf_dir)
            if self.ctx.fault and not self.bad:
                df = df.unionByName(df.limit(1))
            ok, msg = oracle.compare(df, con, sql)
            if not ok:
                self.bad[qid] = msg
            if self.ctx.trace:
                self.rows[qid] = con.execute(f"SELECT count(*) FROM ({sql}) AS t").fetchone()[0]
        con.close()

    def op(self, i: int, traced: bool) -> dict:
        from kdcloganalyzer_spark import appcache
        from kdcloganalyzer_spark.plans.registry import QUERIES

        c, qid = self.ctx, self.op_id(i)
        rec = {"id": qid, "traced": traced}
        evicted = appcache.evict_for(qid) if qid in ENGINE_IDS else False
        if qid in STREAM_IDS and not evicted:
            raise RuntimeError(f"evict_for({qid}) cleared no cache: the op would time a lookup")
        rec["evictions"] = int(evicted)
        if qid in self.bad:
            rec["error"] = self.bad[qid]
        if not traced:
            t0 = now_ms()
            noop_write(QUERIES[qid](c.spark, self.sf_dir))
            rec["ms"] = now_ms() - t0
            return rec
        if c.streams:
            c.status.drain()
            c.streams.take(timeout=0)
        self._probe_records()
        rec.update(self.traced(
            lambda: QUERIES[qid](c.spark, self.sf_dir), noop_write
        ))
        rec.update(cached_bytes=c.status.cached_bytes(), rows_out=self.rows.get(qid))
        batches = c.streams.take() if c.streams else []
        if batches:
            rec.update(
                batches=len(batches),
                batch_ms=[b["trigger_ms"] for b in batches],
                add_batch_ms=[b["add_batch_ms"] for b in batches],
                trigger_overhead_ms=[b["trigger_ms"] - b["add_batch_ms"] for b in batches],
                input_rows=sum(b["rows"] for b in batches),
            )
        return rec

    def setup(self) -> None:
        from kdcloganalyzer_spark.plans.kdc_queries import kdc_records

        with self.ctx.phase("records_build"):
            kdc_records(self.ctx.spark, self.sf_dir)
        with self.ctx.phase("warm_check"):
            self._warm_and_check()

    def _probe_records(self) -> None:
        """One kdc_records call in its own job group: a hit launches no job."""
        from kdcloganalyzer_spark.plans.kdc_queries import kdc_records

        st = self.ctx.status
        gid = st.group("records")
        kdc_records(self.ctx.spark, self.sf_dir)
        st.clear_group()
        self.probes += 1
        self.hits += not st.job_ids(gid)

    def layers(self, ops: list[dict]) -> dict:
        t = [o for o in ops if o.get("traced") and "error" not in o]
        m = lambda k: median(o.get(k) for o in t)  # noqa: E731
        out = {
            "appcache.records_hit_ratio": self.hits / self.probes if self.probes else None,
            "plans.rows_out": m("rows_out"),
            "appcache.cached_bytes": m("cached_bytes"),
            "appcache.evictions": m("evictions"),
        }
        s = [o for o in t if o.get("batches")]
        if s:
            flat = lambda k: [x for o in s for x in o[k]]  # noqa: E731
            out.update({
                "streaming.batches": median(o["batches"] for o in s),
                "streaming.batch_ms_p50": median(flat("batch_ms")),
                "streaming.add_batch_ms": median(flat("add_batch_ms")),
                "streaming.trigger_overhead_ms": median(flat("trigger_overhead_ms")),
                "streaming.input_rows": median(o["input_rows"] for o in s),
            })
        return out


WORKLOADS = {w.name: w for w in (Ingest, QueryMix)}
