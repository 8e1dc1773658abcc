"""Seeded benchmark inputs and the engine's scratch-path redirect.

Everything the benchmark feeds the engine is a pure function of the
seed: the star-schema tables (same names, column types and value
domains as the repo's synthetic test parquet, FIXTURES.md §3) and the
Heimdal KDC corpora (the engine's own ``kdc_synth.generate_logs``,
called with the benchmark seed).

The engine stages some derived inputs (the KDC corpus for an sf, the
materialized records parquet, streaming checkpoints) under fixed
``/tmp`` and ``/dev/shm`` roots. :func:`redirect_engine` rebases those
onto the run's own work directory, so a run reads and writes only inside
its checkout and never sees another checkout's (or another seed's)
staged files.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream "
    "merge data join customer vector"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_ADJ = ["blue", "red", "green", "small", "large", "shiny", "old", "new"]
P_NOUN = ["anvil", "bolt", "ring", "widget", "gear", "nut", "spring", "valve"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return (d * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def star_tables(out_dir: str, sf: float, seed: int) -> str:
    """Write the ten star-schema tables for scale factor ``sf`` into ``out_dir``.

    Row counts follow the FIXTURES.md sizing (lineitem 6M x sf, orders
    1.5M x sf, events 1M x sf, documents 50k x sf, ...). About one
    document in ten is a one-word edit of an earlier one, so the
    near-duplicate operators have pairs to find.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), min(2000, int(50_000 * sf))
    n_users = max(20, int(15_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [
            f"{P_ADJ[a]} {P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    ts0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    ev_ts = np.sort(rng.integers(ts0, ts0 + span, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(np.minimum(rng.exponential(40.0, n_ev), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 90))))
        texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out_dir


def redirect_engine(work: str, seed: int) -> None:
    """Point the engine's fixed scratch roots at ``work`` and seed its
    per-sf KDC corpus.

    Call after ``registry.load_all()`` and before ``get_spark``: module-
    level bindings imported by name (``from ... import
    synth_dir_for_sf``) are rebound in every loaded engine module, so the
    plans, the streaming queries and ``oracle.oracle_sql_for`` all see
    the same redirected paths, and the session's streaming checkpoint
    base is created under ``work``.
    """
    import tempfile

    from kdcloganalyzer_spark import appcache
    from kdcloganalyzer_spark.sources import kdc_synth

    scratch = os.path.join(work, "tmp")
    os.makedirs(scratch, exist_ok=True)
    tempfile.tempdir = scratch

    def rebase(path: str) -> str:
        if path.startswith("/tmp/"):
            return os.path.join(scratch, path[len("/tmp/"):])
        return path

    orig_synth_path = kdc_synth.synth_path_for_sf

    def synth_path_for_sf(sf_dir: str) -> str:
        return rebase(orig_synth_path(sf_dir))

    def synth_dir_for_sf(sf_dir: str) -> str:
        out = synth_path_for_sf(sf_dir)
        n = int(out.rsplit("_", 1)[1])
        return kdc_synth.generate_logs(out, n, seed=seed)

    orig_tempdir = appcache.tempdir
    # keyed by id(): rebinding compares identity, and not every callable
    # a module holds is hashable
    patched = {
        id(orig_synth_path): synth_path_for_sf,
        id(kdc_synth.synth_dir_for_sf): synth_dir_for_sf,
        # fast=True would put streaming checkpoints on /dev/shm
        id(orig_tempdir): lambda prefix, fast=False: orig_tempdir(prefix),
    }

    def rebased(fn):
        return lambda sf_dir: rebase(fn(sf_dir))

    mods = [
        m for n, m in sys.modules.items()
        if n.startswith("kdcloganalyzer_spark") and m is not None
    ]
    for mod in mods:
        for attr, val in vars(mod).items():
            if (
                attr.endswith("_path_for_sf")
                and callable(val)
                and id(val) not in patched
                and getattr(val, "__module__", "") == mod.__name__
            ):
                patched[id(val)] = rebased(val)
    for mod in mods:
        for attr, val in list(vars(mod).items()):
            if id(val) in patched:
                setattr(mod, attr, patched[id(val)])
