"""Law tests for the round-12 operators — invariants the value oracles
alone do not pin (HLL-twin agreement with the exact forms)."""

from __future__ import annotations

import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kdcloganalyzer_spark.plans import registry

registry.load_all()


def test_running_distinct_hll_matches_exact_twin(spark, sf_dir):
    """The HLL twin must emit exactly the exact twin's rows (same
    running counts) and every sketch estimate must sit inside the
    declared envelope (at the events type domain the sketch is in
    exact coupon mode, so the estimates are the counts)."""
    hll = registry.QUERIES["window_running_distinct_hll"](spark, sf_dir)
    exact = registry.QUERIES["window_running_distinct"](spark, sf_dir)
    assert hll.where(~F.col("hll_in_envelope")).count() == 0
    joined = exact.alias("e").join(
        hll.alias("h"), ["event_id", "user_id"], "full"
    )
    diverged = joined.where(
        (F.col("e.n_types_seen") != F.col("h.n_types_seen"))
        | F.col("e.n_types_seen").isNull()
        | F.col("h.n_types_seen").isNull()
    )
    assert diverged.count() == 0


def test_dau_mau_hll_matches_exact_twin(spark, sf_dir):
    """The HLL twin's reported metric columns must equal the exact
    twin's (the sketch path only feeds the envelope flag), and the
    flag must be TRUE on every month."""
    hll = registry.QUERIES["events_dau_mau_stickiness_hll"](spark, sf_dir)
    exact = registry.QUERIES["events_dau_mau_stickiness"](spark, sf_dir)
    assert hll.where(~F.col("hll_in_envelope")).count() == 0
    cols = ["month", "mau", "sum_dau", "n_days", "stickiness_micro"]
    assert (
        hll.select(*cols).exceptAll(exact.select(*cols)).count() == 0
        and exact.select(*cols).exceptAll(hll.select(*cols)).count() == 0
    )


def test_running_distinct_hll_single_window_node(spark, sf_dir):
    """The sketch and the exact set must share ONE Window operator (the
    swap adds zero shuffles): exactly one Window node in the plan."""
    df = registry.QUERIES["window_running_distinct_hll"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window [") == 1, plan


def test_user_entropy_matches_python_replay(spark, sf_dir):
    """h_micro must equal the sequential Python replay of the micro-nat
    idiom (per-term round(ln(c/n)*1e6), integer-weighted sum, one
    trunc-div), be 0 for single-type users, and never exceed ln(types)."""
    import math

    from kdcloganalyzer_spark.sources.tables import load_table

    rows = registry.QUERIES["events_user_entropy"](spark, sf_dir).collect()
    ev = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .count()
        .collect()
    )
    by_user: dict = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r["count"])
    assert rows and len(rows) == len(by_user)
    for r in rows:
        cs = by_user[r["user_id"]]
        n = sum(cs)
        num = -sum(c * round(math.log(c / n) * 1_000_000) for c in cs)
        assert r["n_events"] == n
        assert r["n_types"] == len(cs)
        assert r["h_micro"] == num // n, r
        if len(cs) == 1:
            assert r["h_micro"] == 0
        assert r["h_micro"] <= math.log(len(cs)) * 1_000_000 + 1


def test_customer_nrr_cross_foots(spark, sf_dir):
    """nrr is the single scaled div of the emitted integers; churned
    cents never exceed the base; every month's base is positive."""
    rows = registry.QUERIES["analytics_customer_nrr"](
        spark, sf_dir
    ).collect()
    assert rows
    for r in rows:
        assert r["base_cents"] > 0
        assert 0 <= r["churned_cents"] <= r["base_cents"]
        assert (
            r["nrr_micro"]
            == r["retained_cents"] * 1_000_000 // r["base_cents"]
        )
        assert r["expansion_cents"] <= r["retained_cents"]


def test_abc_classification_partitions_parts(spark, sf_dir):
    """The 3x3 matrix partitions the part population and the revenue
    mass exactly; class labels stay in their domains."""
    from kdcloganalyzer_spark.sources.tables import load_table

    out = registry.QUERIES["analytics_abc_classification"](
        spark, sf_dir
    ).collect()
    li = load_table(spark, sf_dir, "lineitem")
    n_parts = li.select("l_partkey").distinct().count()
    assert sum(r["n_parts"] for r in out) == n_parts
    assert {r["cls_abc"] for r in out} <= {"A", "B", "C"}
    assert {r["cls_xyz"] for r in out} <= {"X", "Y", "Z"}
    from kdcloganalyzer_spark.plans.relational import _rev_e4

    total = li.agg(F.sum(_rev_e4()).cast("bigint").alias("t")).collect()[
        0
    ]["t"]
    assert sum(r["rev_e4"] for r in out) == total


def test_url_suite_component_consistency(spark, sf_dir):
    """Every row's components must reassemble consistently: authority =
    host:8443, path inside the url, decode only rewrites %20."""
    rows = registry.QUERIES["fn_url_suite"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["authority"] == r["host"] + ":8443"
        assert r["proto"] == "https"
        assert r["q_decoded"] == r["q_raw"].replace("%20", " ")
        assert r["path"].startswith("/path/")
        assert r["ref"].startswith("frag")


def test_neyman_allocation_laws(spark, sf_dir):
    """Allocations must sum exactly to the budget, selection fills the
    allocation up to stratum size, and the milli-weight replays from
    the stratum stats."""
    import math

    from kdcloganalyzer_spark.plans.round12_ops import _NEYMAN_K
    from kdcloganalyzer_spark.sources.tables import load_table

    rows = registry.QUERIES["sample_stratified_neyman"](
        spark, sf_dir
    ).collect()
    assert sum(r["n_alloc"] for r in rows) == _NEYMAN_K
    stats = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").alias("s"),
            F.sum(F.col("n_chars") * F.col("n_chars")).alias("qq"),
        )
        .collect()
    )
    by_src = {r["source"]: r for r in stats}
    for r in rows:
        st = by_src[r["source"]]
        assert r["n_docs"] == st["n"]
        var_num = st["n"] * st["qq"] - st["s"] * st["s"]
        w = math.floor(abs(math.sqrt(float(var_num)) * 1000) + 0.5)
        assert r["w_milli"] == w, (r["source"], r["w_milli"], w)
        assert r["n_selected"] == min(r["n_alloc"], r["n_docs"])


def test_coreset_kcenter_laws(spark, sf_dir):
    """16 distinct centers; the selection distances are non-increasing
    (each new center can only shrink every dmin); the final coverage
    radius never exceeds the last selection distance."""
    rows = sorted(
        registry.QUERIES["sample_coreset_kcenter"](spark, sf_dir).collect(),
        key=lambda r: r["step"],
    )
    assert [r["step"] for r in rows] == list(range(16))
    assert len({r["vec_id"] for r in rows}) == 16
    sel = [r["d2_sel_r6"] for r in rows[1:]]
    assert all(a >= b for a, b in zip(sel, sel[1:])), sel
    assert all(r["cover_d2_r6"] == rows[0]["cover_d2_r6"] for r in rows)
    assert rows[0]["cover_d2_r6"] <= sel[-1]


def test_pca_power_iteration_matches_numpy(spark, sf_dir):
    """Replaying the exact integer iteration in pure Python must
    reproduce the top-10 report, and the Rayleigh quotient must be
    non-decreasing across rounds (the invariant every power-iteration
    step guarantees — this synthetic corpus is near-isotropic, so a
    convergence-to-PC1 floor would be unmeetable by ANY rank-1 method;
    see the operator docstring)."""
    import math

    import numpy as np

    from kdcloganalyzer_spark.plans.round12_ops import (
        _PCA_ROUNDS,
        _PCA_SCALE,
        _duck_round_half_away,
    )
    from kdcloganalyzer_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").collect()
    x = np.array(
        [[float(v) for v in r["embedding"]] for r in emb], dtype="float64"
    )
    ids = np.array([r["vec_id"] for r in emb])
    s = _PCA_SCALE
    q = np.array(
        [[_duck_round_half_away(v * s) for v in row] for row in x],
        dtype="int64",
    )
    n = len(q)
    mbar = np.array(
        [_duck_round_half_away(float(int(c)) / n) for c in q.sum(axis=0)],
        dtype="int64",
    )
    c = q - mbar
    cf = c.astype("float64")
    cov = cf.T @ cf

    def rayleigh(vec):
        u = np.array(vec, dtype="float64")
        return float(u @ cov @ u) / float(u @ u)

    v = [s] * 64
    rq = [rayleigh(v)]
    for _ in range(_PCA_ROUNDS):
        dots = c @ np.array(v, dtype="int64")
        w = np.array(
            [int(math.floor(float(int(d)) / 268435456.0)) for d in dots],
            dtype="int64",
        )
        sd = c.T @ w
        t = [int(math.floor(float(int(x_)) / 1024.0)) for x_ in sd]
        acc = 0.0
        for td in t:
            acc += float(td) * float(td)
        nrm = math.sqrt(acc)
        v = [_duck_round_half_away(float(td) / nrm * s) for td in t]
        rq.append(rayleigh(v))
    proj = c @ np.array(v, dtype="int64")
    order = np.lexsort((ids, -np.abs(proj)))[:10]
    expect = [(int(ids[i]), int(proj[i])) for i in order]
    got = sorted(
        registry.QUERIES["embed_pca_power_iteration"](spark, sf_dir)
        .collect(),
        key=lambda r: r["rank"],
    )
    assert [(r["vec_id"], r["proj_q"]) for r in got] == expect
    # Rayleigh quotient non-decreasing (tiny slack for the integer
    # re-quantization each round) and strictly improved overall.
    for a, b in zip(rq, rq[1:]):
        assert b >= a * (1 - 1e-9), rq
    assert rq[-1] > rq[0]


def test_footer_stats_cross_foot(spark, sf_dir):
    """Footer value counts must sum to the table's row count for every
    column, min <= max, and the column set is the declared one."""
    from kdcloganalyzer_spark.plans.round12_ops import _FOOTER_COLS
    from kdcloganalyzer_spark.sources.tables import load_table

    rows = registry.QUERIES["scan_parquet_footer_stats"](
        spark, sf_dir
    ).collect()
    n = load_table(spark, sf_dir, "lineitem").count()
    per_col: dict = {}
    for r in rows:
        per_col.setdefault(r["column_name"], 0)
        per_col[r["column_name"]] += r["n_values"]
        assert r["min_q"] <= r["max_q"]
        assert r["null_count"] == 0
    assert set(per_col) == set(_FOOTER_COLS)
    assert all(v == n for v in per_col.values()), per_col


def test_price_index_cross_foots(spark, sf_dir):
    """Fisher must be the rounded geometric mean of the emitted integer
    indices; baskets are bounded by the base year's parts; the base
    year itself is excluded."""
    import math

    rows = registry.QUERIES["analytics_price_index"](
        spark, sf_dir
    ).collect()
    assert rows
    from kdcloganalyzer_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    y0 = li.agg(F.min(F.year("l_shipdate"))).collect()[0][0]
    n0 = (
        li.where(F.year("l_shipdate") == y0)
        .select("l_partkey")
        .distinct()
        .count()
    )
    for r in rows:
        assert r["yr"] > y0
        assert 0 < r["n_parts"] <= n0
        f = math.floor(
            abs(
                math.sqrt(
                    float(r["laspeyres_micro"] * r["paasche_micro"])
                )
            )
            + 0.5
        )
        assert r["fisher_micro"] == f
        assert min(r["laspeyres_micro"], r["paasche_micro"]) <= f <= max(
            r["laspeyres_micro"], r["paasche_micro"]
        )


def test_holt_linear_matches_python_replay(spark, sf_dir):
    """The batched Spark recursion must equal the sequential two-state
    integer recurrence replayed in Python, and the forecast column must
    be l + b exactly."""
    import math

    rows = (
        registry.QUERIES["analytics_holt_linear"](spark, sf_dir)
        .orderBy("day")
        .collect()
    )
    assert rows
    l = b = None
    for r in rows:
        x = r["n_events"] * 1_000_000
        if l is None:
            l, b = x, 0
        else:
            ln = math.floor((x + 3 * (l + b)) / 4)
            b = math.floor((ln - l + 3 * b) / 4)
            l = ln
        assert r["level_micro"] == l, (r["day"], r["level_micro"], l)
        assert r["trend_micro"] == b
        assert r["forecast_next_micro"] == l + b


def test_tokenizer_fertility_consistent_with_per_doc(spark, sf_dir):
    """Per-lang counts must equal the per-doc tokenize id's counts
    rolled up by language, and each ratio must be the single scaled
    div of its integers (fertility >= 1: a word is >= 1 token)."""
    from kdcloganalyzer_spark.sources.tables import load_table

    fert = registry.QUERIES["pipeline_tokenizer_fertility"](
        spark, sf_dir
    ).collect()
    per_doc = registry.QUERIES["pipeline_bpe_tokenize"](spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    agg = {
        r["lang"]: r
        for r in per_doc.join(docs, "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("n_words").alias("w"),
            F.sum("n_bpe_tokens").alias("t"),
            F.sum("n_chars_az").alias("c"),
        )
        .collect()
    }
    assert fert and len(fert) == len(agg)
    for r in fert:
        a = agg[r["lang"]]
        assert (r["n_words"], r["n_tokens"], r["n_chars"]) == (
            a["w"],
            a["t"],
            a["c"],
        )
        assert r["fertility_micro"] == r["n_tokens"] * 1_000_000 // r["n_words"]
        assert r["fertility_micro"] >= 1_000_000
        assert (
            r["chars_per_token_micro"]
            == r["n_chars"] * 1_000_000 // r["n_tokens"]
        )


def test_drawdown_laws(spark, sf_dir):
    """Peak is the running max (non-decreasing), drawdown is zero at
    every new peak and never negative, relative micro is the scaled
    div of the emitted integers."""
    rows = (
        registry.QUERIES["window_drawdown"](spark, sf_dir)
        .orderBy("period")
        .collect()
    )
    assert rows
    peak = -1
    for r in rows:
        peak = max(peak, r["rev_cents"])
        assert r["peak_cents"] == peak
        assert r["drawdown_cents"] == peak - r["rev_cents"] >= 0
        assert (
            r["drawdown_micro"]
            == r["drawdown_cents"] * 1_000_000 // r["peak_cents"]
        )


def test_audio_energy_matches_struct_replay(spark, sf_dir):
    """Energy/peak must equal a struct-unpack replay of the 16-bit LE
    interpretation of the text bytes, and rms_milli must be the rounded
    sqrt(energy/n)*1000."""
    import math
    import struct

    from kdcloganalyzer_spark.sources.tables import load_table

    rows = {
        r["doc_id"]: r
        for r in registry.QUERIES["multimodal_audio_energy"](
            spark, sf_dir
        ).collect()
    }
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .limit(25)
        .collect()
    )
    assert rows
    for d in docs:
        b = d["text"].encode("utf-8")
        b = b[: len(b) // 2 * 2]
        s = list(struct.unpack(f"<{len(b) // 2}h", b))
        r = rows[d["doc_id"]]
        assert r["n_samples"] == len(s)
        assert r["energy_q"] == sum(x * x for x in s)
        assert r["peak_q"] == (max(abs(x) for x in s) if s else 0)
        rms = math.floor(
            math.sqrt(r["energy_q"] / r["n_samples"]) * 1000 + 0.5
        )
        assert r["rms_milli"] == rms


def test_bollinger_matches_rolling_replay(spark, sf_dir):
    """The integer breach test must equal a Python rolling-window
    replay, and a breach implies |x·n − S| exceeds 2·sqrt(n·Q − S²)."""
    rows = (
        registry.QUERIES["events_bollinger_bands"](spark, sf_dir)
        .orderBy("day")
        .collect()
    )
    assert rows
    xs = [r["n_events"] for r in rows]
    for i, r in enumerate(rows):
        win = xs[max(0, i - 6) : i + 1]
        n, s, q = len(win), sum(win), sum(x * x for x in win)
        assert r["win_n"] == n
        assert r["mean_milli"] == s * 1000 // n
        assert r["var_num"] == n * q - s * s
        dev = xs[i] * n - s
        assert r["breach_hi"] == (dev > 0 and dev * dev > 4 * (n * q - s * s))
        assert r["breach_lo"] == (dev < 0 and dev * dev > 4 * (n * q - s * s))


def test_hits_matches_python_replay(spark, sf_dir):
    """The integer max-normalized HITS iteration replayed in Python
    must produce the same top-5 hubs and authorities, and each side's
    best score is exactly the 2^20 normalizer."""
    from kdcloganalyzer_spark.plans.round12_ops import (
        _HITS_ROUNDS,
        _HITS_S,
    )
    from kdcloganalyzer_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    ed = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
        .collect()
    )
    edges = [(r["o_custkey"], r["l_suppkey"]) for r in ed]
    h = {c: _HITS_S for c, _ in edges}
    a: dict = {}
    for _ in range(_HITS_ROUNDS):
        a = {}
        for c, sp in edges:
            a[sp] = a.get(sp, 0) + h[c]
        m = max(a.values())
        a = {k: v * _HITS_S // m for k, v in a.items()}
        h = dict.fromkeys(h, 0)
        for c, sp in edges:
            h[c] += a[sp]
        m = max(h.values())
        h = {k: v * _HITS_S // m for k, v in h.items()}
    top = lambda d: sorted(d.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    got = registry.QUERIES["graph_hits_bipartite"](spark, sf_dir).collect()
    hubs = sorted(
        [r for r in got if r["kind"] == "hub"], key=lambda r: r["rank"]
    )
    auths = sorted(
        [r for r in got if r["kind"] == "authority"],
        key=lambda r: r["rank"],
    )
    assert [(r["node_id"], r["score_q"]) for r in hubs] == top(h)
    assert [(r["node_id"], r["score_q"]) for r in auths] == top(a)
    assert hubs[0]["score_q"] == _HITS_S
    assert auths[0]["score_q"] == _HITS_S


def test_zipf_slope_matches_python_replay(spark, sf_dir):
    """The OLS micro-slope must equal a full-precision Python replay of
    the integer algebra, and a Zipf curve slopes downward."""
    import math

    from kdcloganalyzer_spark.sources.tables import load_table

    r = registry.QUERIES["text_zipf_slope"](spark, sf_dir).collect()[0]
    docs = load_table(spark, sf_dir, "documents").collect()
    from collections import Counter
    import re

    wc = Counter(
        w
        for d in docs
        for w in re.sub(r"[^a-z]+", " ", d["text"].lower()).split()
        if w
    )
    ranked = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))
    pts = [
        (
            round(math.log(i + 1) * 1_000_000),
            round(math.log(f) * 1_000_000),
        )
        for i, (_, f) in enumerate(ranked)
    ]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    num, den = n * sxy - sx * sy, n * sxx - sx * sx
    slope = abs(num) * 1_000_000 // den * (1 if num >= 0 else -1)
    assert r["n_words"] == n
    assert r["sum_lnr_micro"] == sx
    assert r["sum_lnf_micro"] == sy
    assert r["slope_micro"] == slope
    assert r["slope_micro"] < 0


def test_new_vs_repeat_cross_foots(spark, sf_dir):
    """new + repeat cents partition the month's revenue; the first
    month is 100% new; the share is the scaled div of the integers."""
    rows = (
        registry.QUERIES["analytics_new_vs_repeat"](spark, sf_dir)
        .orderBy("month")
        .collect()
    )
    assert rows
    first = rows[0]
    assert first["repeat_cents"] == 0
    assert first["n_new"] == first["n_customers"]
    for r in rows:
        total = r["new_cents"] + r["repeat_cents"]
        assert total > 0
        assert 0 <= r["n_new"] <= r["n_customers"]
        assert (
            r["repeat_share_micro"]
            == r["repeat_cents"] * 1_000_000 // total
        )


def test_padding_waste_cross_foots(spark, sf_dir):
    """Buckets partition the corpus; capacities are powers of two >=
    every member; waste is the scaled div of the emitted integers."""
    from kdcloganalyzer_spark.sources.tables import load_table

    rows = registry.QUERIES["pipeline_padding_waste"](
        spark, sf_dir
    ).collect()
    docs = load_table(spark, sf_dir, "documents")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    assert sum(r["sum_chars"] for r in rows) == (
        docs.agg(F.sum("n_chars")).collect()[0][0]
    )
    for r in rows:
        cap = r["bucket_cap"]
        assert cap & (cap - 1) == 0 and cap > 0  # power of two
        assert r["max_chars"] <= cap
        assert cap // 2 < r["max_chars"] or cap == 1
        assert r["capacity"] == r["n_docs"] * cap
        assert (
            r["waste_micro"]
            == (r["capacity"] - r["sum_chars"]) * 1_000_000 // r["capacity"]
        )


def test_burstiness_matches_python_replay(spark, sf_dir):
    """Replay gaps per user in Python; the cross-multiplied bursty flag
    and the scaled CV^2 must match exactly."""
    from kdcloganalyzer_spark.sources.tables import load_table

    rows = {
        r["user_id"]: r
        for r in registry.QUERIES["events_burstiness_class"](
            spark, sf_dir
        ).collect()
    }
    ev = (
        load_table(spark, sf_dir, "events")
        .orderBy("user_id", "ts", "event_id")
        .select(
            "user_id", F.unix_micros("ts").alias("us")
        )
        .collect()
    )
    gaps: dict = {}
    prev: dict = {}
    for r in ev:
        u = r["user_id"]
        if u in prev:
            gaps.setdefault(u, []).append(r["us"] - prev[u])
        prev[u] = r["us"]
    checked = 0
    for u, g in gaps.items():
        if len(g) < 2:
            assert u not in rows
            continue
        n, sg, qg = len(g), sum(g), sum(x * x for x in g)
        r = rows[u]
        assert r["n_gaps"] == n
        assert r["mean_gap_us"] == sg // n
        assert r["bursty"] == (n * qg - sg * sg > sg * sg)
        assert r["cv2_micro"] == (n * qg - sg * sg) * 1_000_000 // (sg * sg)
        checked += 1
    assert checked == len(rows)


def test_cuped_matches_python_replay(spark, sf_dir):
    """θ and the adjusted means must equal a pure-Python replay of the
    declared integer op sequence over per-user (pre, post) cents."""
    import hashlib

    from kdcloganalyzer_spark.plans.round12_ops import _CUPED_SPLIT
    from kdcloganalyzer_spark.sources.tables import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type", "value")
        .collect()
    )
    split = _CUPED_SPLIT
    users: dict = {}
    for r in ev:
        u = users.setdefault(r["user_id"], [0, 0])
        if r["event_type"] != "purchase":
            continue
        cents = int(round(r["value"] * 100))
        if str(r["ts"]) < f"{split} 00:00:00":
            u[0] += cents
        else:
            u[1] += cents

    def arm(uid):
        h = int(hashlib.md5(f"exp1#{uid}".encode()).hexdigest()[:15], 16)
        return "control" if h % 2 == 0 else "treatment"

    n = len(users)
    sx = sum(x for x, _ in users.values())
    sy = sum(y for _, y in users.values())
    sxy = sum(x * y for x, y in users.values())
    sxx = sum(x * x for x, _ in users.values())
    den = n * sxx - sx * sx
    num = n * sxy - sx * sy
    theta = (
        0
        if den == 0
        else abs(num) * 1_000_000 // den * (1 if num >= 0 else -1)
    )
    rows = {
        r["variant"]: r
        for r in registry.QUERIES["events_cuped_adjusted"](
            spark, sf_dir
        ).collect()
    }
    assert set(rows) == {"control", "treatment"}
    for v, r in rows.items():
        grp = [(x, y) for (u, (x, y)) in users.items() if arm(u) == v]
        na = len(grp)
        sxa, sya = sum(x for x, _ in grp), sum(y for _, y in grp)
        assert r["n_users"] == na
        assert (r["pre_cents"], r["post_cents"]) == (sxa, sya)
        assert r["theta_micro"] == theta
        mean_post = sya * 1_000_000 // na
        assert r["mean_post_micro"] == mean_post
        inner = sxa * 1_000_000 // na - sx * 1_000_000 // n
        adj = mean_post - _trunc_div(theta * inner, 1_000_000)
        assert r["adj_mean_micro"] == adj, (v, r["adj_mean_micro"], adj)


def _trunc_div(a: int, b: int) -> int:
    """Spark `div` / DuckDB `//`-on-integers semantics: truncate toward
    zero (Python's // floors)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def test_anova_dow_matches_python_replay(spark, sf_dir):
    """The scaled sum-of-squares decomposition must match a Python
    replay, partition (between <= total), and bound eta^2 in [0, 1e6]."""
    from kdcloganalyzer_spark.sources.tables import load_table

    r = registry.QUERIES["analytics_anova_dow"](spark, sf_dir).collect()[0]
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.count("*").alias("x"))
        .select(F.dayofweek("day").alias("dow"), "x")
        .collect()
    )
    groups: dict = {}
    for row in d:
        groups.setdefault(row["dow"], []).append(row["x"])
    n = sum(len(v) for v in groups.values())
    s = sum(sum(v) for v in groups.values())
    q = sum(x * x for v in groups.values() for x in v)
    k = len(groups)
    p = 1
    for v in groups.values():
        p *= len(v)
    a = sum(sum(v) ** 2 * (p // len(v)) for v in groups.values())
    ssb = n * a - s * s * p
    sst = (n * q - s * s) * p
    assert r["n_days"] == n and r["n_groups"] == k
    assert r["ss_between_np"] == ssb
    assert r["ss_total_np"] == sst
    assert 0 <= ssb <= sst
    assert r["eta2_micro"] == ssb * 1_000_000 // sst
    assert 0 <= r["eta2_micro"] <= 1_000_000
    assert r["f_milli"] == ssb * (n - k) * 1000 // ((sst - ssb) * (k - 1))


def test_survivorship_merge_laws(spark, sf_dir):
    """Survivor is the group's min doc_id; langs/sources are sorted
    unions; canonical_lang is the tie-broken group mode; only
    multi-copy groups emit."""
    from kdcloganalyzer_spark.sources.tables import load_table

    rows = registry.QUERIES["dedup_survivorship_merge"](
        spark, sf_dir
    ).collect()
    assert rows
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.array_join(F.slice(F.split("text", " "), 1, 8), " ").alias("fp"),
    ).collect()
    groups: dict = {}
    for d in docs:
        groups.setdefault(d["fp"], []).append(d)
    multi = {
        min(g, key=lambda d: d["doc_id"])["doc_id"]: g
        for g in groups.values()
        if len(g) > 1
    }
    assert {r["survivor_id"] for r in rows} == set(multi)
    from collections import Counter

    for r in rows:
        g = multi[r["survivor_id"]]
        assert r["n_copies"] == len(g)
        assert r["langs"] == ",".join(sorted({d["lang"] for d in g}))
        assert r["sources"] == ",".join(sorted({d["source"] for d in g}))
        cnt = Counter(d["lang"] for d in g)
        best = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        assert r["canonical_lang"] == best


def test_autocorr_lag7_matches_python_replay(spark, sf_dir):
    """The scaled ACF must equal the exact integer replay, and sit in
    the mathematically valid window (|r| bounded by the Cauchy-Schwarz
    unit with the partial-pair slack)."""
    from kdcloganalyzer_spark.sources.tables import load_table

    r = registry.QUERIES["events_autocorr_lag7"](spark, sf_dir).collect()[
        0
    ]
    xs = [
        row["x"]
        for row in load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count("*").alias("x"))
        .orderBy("day")
        .collect()
    ]
    n, s = len(xs), sum(xs)
    num = sum(
        (xs[i] * n - s) * (xs[i + 7] * n - s) for i in range(n - 7)
    )
    den = sum((x * n - s) ** 2 for x in xs)
    expect = abs(num) * 1_000_000 // den * (1 if num >= 0 else -1)
    assert r["n_days"] == n
    assert r["n_pairs"] == n - 7
    assert r["acf7_micro"] == expect
    assert -1_000_000 <= r["acf7_micro"] <= 1_000_000


def test_byte_histogram_cross_foots(spark, sf_dir):
    """Counts must sum to the corpus byte total and match a Python
    bincount replay on every byte value."""
    from collections import Counter

    from kdcloganalyzer_spark.sources.tables import load_table

    rows = {
        r["byte_value"]: r["n"]
        for r in registry.QUERIES["multimodal_byte_histogram"](
            spark, sf_dir
        ).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select("text").collect()
    cnt: Counter = Counter()
    for d in docs:
        cnt.update(d["text"].encode("utf-8"))
    assert rows == dict(cnt)


def test_chi2_matches_python_replay(spark, sf_dir):
    """chi2_micro must equal the per-cell floored-term replay, and the
    dof/cell bookkeeping must match the contingency shape."""
    from collections import Counter

    from kdcloganalyzer_spark.sources.tables import load_table

    r = registry.QUERIES["analytics_chi2_independence"](
        spark, sf_dir
    ).collect()[0]
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("lang", "source")
        .collect()
    )
    obs = Counter((d["lang"], d["source"]) for d in docs)
    rt = Counter(d["lang"] for d in docs)
    ct = Counter(d["source"] for d in docs)
    n = len(docs)
    chi2 = sum(
        (o * n - rt[lg] * ct[src]) ** 2 * 1_000_000
        // (n * rt[lg] * ct[src])
        for (lg, src), o in obs.items()
    )
    assert r["n_rows"] == len(rt)
    assert r["n_cols"] == len(ct)
    assert r["n_cells"] == len(obs)
    assert r["dof"] == (len(rt) - 1) * (len(ct) - 1)
    assert r["chi2_micro"] == chi2


def test_execute_immediate_equals_static(spark, sf_dir):
    """The dynamic statement must return exactly the static plan's
    frame (same rows, same aliases)."""
    from kdcloganalyzer_spark.sources.tables import load_table

    dyn = registry.QUERIES["sql_execute_immediate"](spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    static = (
        li.where(F.col("l_quantity") >= 30)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("rev_cents"),
        )
    )
    assert dyn.exceptAll(static).count() == 0
    assert static.exceptAll(dyn).count() == 0


def test_stream_bollinger_equals_batch_twin(spark, sf_dir):
    """The streaming split (in-stream daily counts + batch band math)
    must reproduce the batch id's frame exactly."""
    st = registry.QUERIES["stream_bollinger_bands"](spark, sf_dir)
    bt = registry.QUERIES["events_bollinger_bands"](spark, sf_dir)
    assert st.exceptAll(bt).count() == 0
    assert bt.exceptAll(st).count() == 0


def test_mann_whitney_matches_scipy_free_replay(spark, sf_dir):
    """U2 values must match a pure-Python average-rank replay, cross-
    foot to 2·n_w·n_d, and AUC must be the scaled division."""
    from kdcloganalyzer_spark.sources.tables import load_table

    r = registry.QUERIES["analytics_mann_whitney"](spark, sf_dir).collect()[
        0
    ]
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.count("*").alias("x"))
        .select(F.dayofweek("day").isin(1, 7).alias("w"), "x")
        .collect()
    )
    vals = sorted((row["x"], row["w"]) for row in d)
    # doubled average ranks
    r2 = {}
    i = 0
    while i < len(vals):
        j = i
        while j < len(vals) and vals[j][0] == vals[i][0]:
            j += 1
        rr = (i + 1) + j  # 2*avg rank = first + last
        for k in range(i, j):
            r2[k] = rr
        i = j
    r2w = sum(r2[k] for k, (x, w) in enumerate(vals) if w)
    nw = sum(1 for _, w in vals if w)
    nd = len(vals) - nw
    u2w = r2w - nw * (nw + 1)
    assert (r["n_weekend"], r["n_weekday"]) == (nw, nd)
    assert r["u2_weekend"] == u2w
    assert r["u2_weekday"] == 2 * nw * nd - u2w
    assert r["u2_weekend"] + r["u2_weekday"] == 2 * nw * nd
    assert r["auc_micro"] == u2w * 1_000_000 // (2 * nw * nd)
    assert r["weekend_higher"] == (u2w > nw * nd)


def test_spearman_matches_python_replay(spark, sf_dir):
    """num/den parts must equal a doubled-rank replay; rho is bounded
    by the exact Cauchy-Schwarz inequality num^2 <= den_x*den_y."""
    from kdcloganalyzer_spark.sources.tables import load_table

    r = registry.QUERIES["analytics_spearman_corr"](
        spark, sf_dir
    ).collect()[0]
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "v"
            ),
        )
        .collect()
    )

    def ranks2(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        out = [0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and vals[order[j]] == vals[order[i]]:
                j += 1
            rr = (i + 1) + j
            for k in range(i, j):
                out[order[k]] = rr
            i = j
        return out

    rx = ranks2([row["cnt"] for row in d])
    ry = ranks2([row["v"] for row in d])
    n = len(d)
    sx, sy = sum(rx), sum(ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    sxx = sum(a * a for a in rx)
    syy = sum(b * b for b in ry)
    num = n * sxy - sx * sy
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    assert r["n_days"] == n
    assert (r["num"], r["den_x"], r["den_y"]) == (num, dx, dy)
    assert num * num <= dx * dy
    assert -1_000_000 <= r["rho_micro"] <= 1_000_000
    assert r["strong_positive"] == (4 * num * num > dx * dy and num > 0)


def test_multichar_sep_roundtrip_lossless(spark, sf_dir):
    """The ||-separated round trip must reproduce the parquet rollup
    row-for-row (the oracle's claim, re-pinned engine-side)."""
    from kdcloganalyzer_spark.sources.tables import load_table

    got = registry.QUERIES["scan_csv_multichar_sep"](spark, sf_dir)
    want = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.sum("doc_id").cast("bigint").alias("key_sum"),
        )
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_dedup_rate_curve_laws(spark, sf_dir):
    """Nested prefixes are monotone in docs AND uniques; the full
    quartile equals the corpus totals; rates are the scaled divs."""
    from kdcloganalyzer_spark.sources.tables import load_table

    rows = sorted(
        registry.QUERIES["pipeline_dedup_rate_curve"](
            spark, sf_dir
        ).collect(),
        key=lambda r: r["quartile"],
    )
    assert [r["quartile"] for r in rows] == [0, 1, 2, 3]
    docs = load_table(spark, sf_dir, "documents")
    n_total = docs.count()
    u_total = docs.select(
        F.md5(F.array_join(F.slice(F.split("text", " "), 1, 8), " "))
    ).distinct().count()
    assert rows[3]["n_docs"] == n_total
    assert rows[3]["n_unique"] == u_total
    for a, b in zip(rows, rows[1:]):
        assert a["n_docs"] <= b["n_docs"]
        assert a["n_unique"] <= b["n_unique"]
    for r in rows:
        assert r["n_unique"] <= r["n_docs"]
        assert (
            r["dup_rate_micro"]
            == (r["n_docs"] - r["n_unique"]) * 1_000_000 // r["n_docs"]
        )


def test_zip_probe_matches_struct_replay(spark, sf_dir):
    """Parsed fields must equal a struct-based replay of the declared
    local-header layout, including the variable-offset name read."""
    import struct

    from kdcloganalyzer_spark.sources.tables import load_table

    rows = {
        r["doc_id"]: r
        for r in registry.QUERIES["multimodal_zip_probe"](
            spark, sf_dir
        ).collect()
    }
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .limit(20)
        .collect()
    )
    for d in docs:
        payload = d["text"].encode("utf-8")
        name = f"doc_{d['doc_id']}.txt".encode()
        hdr = (
            b"PK\x03\x04"
            + struct.pack(
                "<HHHHHIIIHH",
                20, 0, 8, 0, 0, 0, len(payload), len(payload),
                len(name), 0,
            )
        )
        z = hdr + name + payload
        # independent parse
        method = struct.unpack("<H", z[8:10])[0]
        plen = struct.unpack("<I", z[22:26])[0]
        nlen = struct.unpack("<H", z[26:28])[0]
        mname = z[30 : 30 + nlen].decode()
        r = rows[d["doc_id"]]
        assert r["magic_ok"]
        assert r["method"] == method == 8
        assert r["payload_len"] == plen == len(payload)
        assert r["member_name"] == mname
        assert r["data_offset"] == 30 + nlen


def test_peak_detection_matches_python_replay(spark, sf_dir):
    """Peaks and prominences must equal a sequential scan replay of
    the declared rules over the ordered daily series."""
    from kdcloganalyzer_spark.sources.tables import load_table

    got = {
        str(r["day"]): r
        for r in registry.QUERIES["events_peak_detection"](
            spark, sf_dir
        ).collect()
    }
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count("*").alias("x"))
        .orderBy("day")
        .collect()
    )
    xs = [r["x"] for r in d]
    expect = {}
    for i in range(1, len(xs) - 1):
        if xs[i] > xs[i - 1] and xs[i] > xs[i + 1]:
            lmin = min(xs[max(0, i - 3) : i])
            rmin = min(xs[i + 1 : i + 4])
            expect[str(d[i]["day"])] = (
                xs[i],
                lmin,
                rmin,
                xs[i] - max(lmin, rmin),
            )
    assert set(got) == set(expect)
    for k, (x, lm, rm, prom) in expect.items():
        r = got[k]
        assert (
            r["n_events"],
            r["left_min3"],
            r["right_min3"],
            r["prominence"],
        ) == (x, lm, rm, prom)
        assert r["prominence"] >= 1


def test_gate_ablation_consistent_with_funnel(spark, sf_dir):
    """The cube must partition the corpus, its shares must sum to ~1e6,
    and summing cells under the funnel's cumulative predicates must
    reproduce the funnel report's stage counts exactly."""
    cells = registry.QUERIES["pipeline_gate_ablation"](
        spark, sf_dir
    ).collect()
    funnel = {
        r["stage"]: (r["n_docs"], r["n_tokens"])
        for r in registry.QUERIES["pipeline_corpus_funnel"](
            spark, sf_dir
        ).collect()
    }
    tot_docs = sum(c["n_docs"] for c in cells)
    assert tot_docs == funnel[0][0]
    assert sum(c["n_tokens"] for c in cells) == funnel[0][1]
    preds = {
        1: lambda c: c["q_keep"],
        2: lambda c: c["q_keep"] and c["d_keep"],
        3: lambda c: c["q_keep"] and c["d_keep"] and c["l_keep"],
        4: lambda c: c["q_keep"]
        and c["d_keep"]
        and c["l_keep"]
        and c["s_keep"],
    }
    for stage, pred in preds.items():
        n = sum(c["n_docs"] for c in cells if pred(c))
        t = sum(c["n_tokens"] for c in cells if pred(c))
        assert (n, t) == funnel[stage], stage
    share_sum = sum(c["share_micro"] for c in cells)
    assert 1_000_000 - len(cells) <= share_sum <= 1_000_000


def test_aes_roundtrip_and_padding_law(spark, sf_dir):
    """Decrypted group keys must equal the raw source domain with the
    raw counts, and ciphertext length must follow PKCS#7."""
    from kdcloganalyzer_spark.sources.tables import load_table

    rows = {
        r["source"]: r
        for r in registry.QUERIES["fn_aes_roundtrip"](
            spark, sf_dir
        ).collect()
    }
    raw = {
        r["source"]: r["count"]
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .count()
        .collect()
    }
    assert set(rows) == set(raw)
    for src, r in rows.items():
        assert r["n"] == raw[src]
        assert r["cipher_len"] == (len(src.encode()) // 16 + 1) * 16


def test_haar_wavelet_matches_python_replay(spark, sf_dir):
    """The pyramid must match a pure-Python unnormalized Haar replay
    on the zero-padded daily series; mass is conserved at every
    level; Parseval-style L2 bookkeeping holds per level."""
    from kdcloganalyzer_spark.sources.tables import load_table

    rows = {
        r["level"]: r
        for r in registry.QUERIES["events_haar_wavelet"](
            spark, sf_dir
        ).collect()
    }
    xs = [
        r["x"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count("*").alias("x"))
        .orderBy("day")
        .collect()
    ]
    a = xs + [0] * (32 - len(xs))
    total = sum(a)
    for level in range(1, 6):
        s = [a[2 * i] + a[2 * i + 1] for i in range(len(a) // 2)]
        d = [a[2 * i] - a[2 * i + 1] for i in range(len(a) // 2)]
        r = rows[level]
        assert r["n_coeffs"] == len(s)
        assert r["l1_detail"] == sum(abs(v) for v in d)
        assert r["l2_detail"] == sum(v * v for v in d)
        assert r["approx_mass"] == sum(s) == total
        a = s


def test_kendall_tau_matches_python_replay(spark, sf_dir):
    """C/D/tie counts must equal the O(n^2) Python replay; the triple
    identity C + D + ties-adjusted must exhaust n0; the strength flag
    is the exact cross-multiplication."""
    from kdcloganalyzer_spark.sources.tables import load_table

    r = registry.QUERIES["analytics_kendall_tau"](spark, sf_dir).collect()[
        0
    ]
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count("*").alias("x"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "y"
            ),
        )
        .orderBy("day")
        .collect()
    )
    pts = [(row["x"], row["y"]) for row in d]
    n = len(pts)
    C = D = tx = ty = 0
    for i in range(n):
        for j in range(i + 1, n):
            sx = (pts[j][0] > pts[i][0]) - (pts[j][0] < pts[i][0])
            sy = (pts[j][1] > pts[i][1]) - (pts[j][1] < pts[i][1])
            if sx * sy > 0:
                C += 1
            elif sx * sy < 0:
                D += 1
            if sx == 0:
                tx += 1
            if sy == 0:
                ty += 1
    n0 = n * (n - 1) // 2
    assert r["n0"] == n0
    assert (r["concordant"], r["discordant"]) == (C, D)
    assert (r["tied_x"], r["tied_y"]) == (tx, ty)
    assert -1_000_000 <= r["tau_b_micro"] <= 1_000_000
    assert r["strong_positive"] == (
        4 * (C - D) ** 2 > (n0 - tx) * (n0 - ty) and C > D
    )


def test_calendar_heatmap_cross_foots(spark, sf_dir):
    """Cells partition the corpus; the grid stays within 7x24; every
    distinct-user count is bounded by its cell count."""
    from kdcloganalyzer_spark.sources.tables import load_table

    rows = registry.QUERIES["events_calendar_heatmap"](
        spark, sf_dir
    ).collect()
    ev = load_table(spark, sf_dir, "events")
    assert sum(r["n"] for r in rows) == ev.count()
    assert len(rows) <= 7 * 24
    for r in rows:
        assert 1 <= r["dow"] <= 7 and 0 <= r["hour"] <= 23
        assert 1 <= r["n_users"] <= r["n"]


def test_haar_wavelet_rejects_more_than_32_days(spark, tmp_path):
    """The 32-slot frame would silently drop day 33+: a 33-day events
    table must raise, also under ``python -O`` (so not an assert)."""
    day0 = datetime.datetime(2024, 1, 1)
    pd.DataFrame(
        {
            "event_id": range(33),
            "ts": [day0 + datetime.timedelta(days=i, hours=1) for i in range(33)],
            "user_id": [1] * 33,
            "event_type": ["view"] * 33,
            "value": [1.0] * 33,
            "props": ["{}"] * 33,
        }
    ).to_parquet(tmp_path / "events.parquet", index=False)
    with pytest.raises(ValueError, match="33 days"):
        registry.QUERIES["events_haar_wavelet"](spark, str(tmp_path))
