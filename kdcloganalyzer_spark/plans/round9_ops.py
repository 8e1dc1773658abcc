"""Round-9 operators: convergence-driven iteration and other additions
beyond the reference's declared surface (README.md:4-13) that a 100 TB
warehouse / training-data pipeline runs in production.

Conventions match plans/round8_ops.py: integer micro-units for anything
that hashes across engines, control scalars collected driver-side, hot
paths in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kdcloganalyzer_spark import appcache
from kdcloganalyzer_spark.plans.registry import query
from kdcloganalyzer_spark.sources.kdc_synth import sf_label
from kdcloganalyzer_spark.sources.tables import cents

# ---------------------------------------------------------------------------
# Label propagation iterated to a fixed point
# ---------------------------------------------------------------------------


def _lp_changed(a: DataFrame, b: DataFrame) -> int:
    return (
        a.alias("n")
        .join(b.alias("p"), "node")
        .where(F.col("n.lab") != F.col("p.lab"))
        .count()
    )


def _lp_step_checkpoint(nxt2: DataFrame, labels: DataFrame):
    """(node, lab, prev) eagerly checkpointed with the changed-label
    count OBSERVED on the materialization pass itself — the
    connected-components idiom (operators/dedup.py): convergence
    detection rides the checkpoint action instead of paying a separate
    node-keyed join+count action per step (r16, guide §2.1/§5 — the
    loop's fixed cost is its eager actions)."""
    from pyspark.sql import Observation

    obs = Observation()
    step = (
        nxt2.join(
            labels.select("node", F.col("lab").alias("prev")), "node"
        )
        .observe(
            obs,
            F.sum((F.col("lab") != F.col("prev")).cast("long")).alias(
                "changed"
            ),
        )
        .localCheckpoint()
    )
    return step, int(obs.get["changed"] or 0)


def lp_converged_labels(
    sym: DataFrame, max_rounds: int = 10
) -> tuple[DataFrame, int, str]:
    """Synchronous label propagation iterated to its LIMIT SET:
    either a fixed point (no node changes its label) or the period-2
    limit cycle synchronous LP is known to enter on bipartite structure
    (Raghavan et al. 2007 note the oscillation; the co-order
    customer-supplier graph here IS bipartite, and measurably settles
    into all-nodes-flip-every-round by round ~4). Returns
    (labels, rounds_run, stop_reason in {'fixed_point','cycle','cap'}).

    The loop advances TWO votes per step — labels_{t+2} =
    vote(vote(labels_t)) as ONE fused lazy plan with a single eager
    localCheckpoint — because comparing labels_{t+2} against labels_t
    detects BOTH stop conditions in one node-keyed count join (equal ∧
    fixed point, equal ∧ 2-cycle); one extra lazy vote then separates
    the two. Halving the checkpoint/count cadence matters: eager
    materialization is the loop's fixed cost (BFS discipline —
    operators/graph.py:bfs_distances, lineage O(1), no session-conf
    mutation, AQE right-sizes the per-round shuffles).

    On a 2-cycle the returned labels are canonicalized as the per-node
    MIN over the two phases, so the result is a function of the graph,
    not of which phase the detector happened to stop in."""
    from pyspark.sql import Observation

    from kdcloganalyzer_spark.plans.round8_ops import (
        lp_initial_labels,
        lp_vote_round,
    )

    # Node count for the broadcast gate rides the init checkpoint's own
    # materialization (r16) — no separate count() action.
    obs0 = Observation()
    labels = (
        lp_initial_labels(sym)
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    # Size-gate the per-round broadcast of the node-sized label table
    # (checkpointed frames carry no stats, so the explicit hint is the
    # only way — the bfs_distances rule); beyond the gate fall back to
    # the plain co-partitioned shuffle join.
    bcast = int(obs0.get["n"]) <= 2_000_000
    rounds = 0
    while rounds + 2 <= max_rounds:
        step, changed = _lp_step_checkpoint(
            lp_vote_round(sym, lp_vote_round(sym, labels, bcast), bcast),
            labels,
        )
        rounds += 2
        nxt2 = step.select("node", "lab")
        if changed == 0:
            # limit set reached at period 1 or 2: ONE more vote — its
            # phase comparison also observed on its own checkpoint.
            stepped, moved = _lp_step_checkpoint(
                lp_vote_round(sym, nxt2, bcast), nxt2
            )
            if moved == 0:
                return nxt2, rounds, "fixed_point"
            # 2-cycle: canonicalize as the per-node min over the two
            # phases — both already sit on the stepped checkpoint
            # (lab = phase b, prev = phase a), so no extra join.
            canon = stepped.select(
                "node", F.least("lab", "prev").alias("lab")
            )
            return canon, rounds, "cycle"
        labels = nxt2
    return labels, rounds, "cap"


@query("graph_label_propagation_converged")
def graph_label_propagation_converged(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Community detection by synchronous label propagation iterated TO
    ITS LIMIT SET with delta-count early exit — the production
    iteration story for the graph tier (graph_label_propagation is the
    3-round unrolled, oracle-checkable form; this one runs until the
    labeling stops evolving: fixed point, or the period-2 limit cycle
    synchronous LP provably enters on bipartite graphs like this
    customer-supplier one, canonicalized as per-node min over the two
    phases; capped at 10 rounds as the backstop).

    Rows-only by design: the round count is data-dependent, so the
    result isn't expressible as fixed SQL (aggregation inside a
    recursive CTE is not portable). Laws pytest-pinned instead
    (tests/test_round9_ops.py): (1) limit-set — a manual replay
    confirms labels_{t} == labels_{t-2} at the reported round and the
    canonical output equals the min over the two phases; (2) a
    fixed-point stop admits no further label change; (3) the
    registered query reports the loop's own rounds/reason.

    Scale: each step is TWO fused vote rounds (edges-with-labels
    shuffle + partial-agg'd vote count + per-node argmax, exactly the
    unrolled form's plan) behind one eager checkpoint and one
    node-keyed count join; quiet graphs pay their mixing time, not a
    configured worst case, and the emitted n_rounds/stop_reason
    columns make truncation observable downstream.

    Cost note (BASELINE r9): this corpus cycles at round 6, so the
    loop pays ~2x the unrolled 3-round form by construction — the
    honest price of convergence-driven iteration, linear per round
    with the early exit, not a scale defect."""
    from kdcloganalyzer_spark.plans.analytics import _coorder_edges

    sym = _coorder_edges(spark, sf_dir)
    labels, rounds, reason = lp_converged_labels(sym, max_rounds=10)
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.min("node").alias("min_member"),
            F.max("node").alias("max_member"),
        )
        .withColumn("n_rounds", F.lit(rounds).cast("int"))
        .withColumn("stop_reason", F.lit(reason))
    )


# ---------------------------------------------------------------------------
# Training-mix curation: quota sampling and deterministic interleave
# ---------------------------------------------------------------------------


@query(
    "pipeline_quota_sampler",
    oracle="""
    SELECT doc_id, source, CAST(rk AS INT) AS sample_rank FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    ) WHERE rk <= 120
    """,
)
def pipeline_quota_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source QUOTA sampling for training-mix curation: every source
    contributes at most 120 documents, chosen by the deterministic
    md5(doc_id) rank — the reproducible stand-in for 'uniformly at
    random per source' that survives reruns, backfills and engine
    changes (the sampling decision is a pure function of the key, the
    same contract as sample_stratified_md5, but with an exact per-group
    COUNT cap, which Bernoulli sampling cannot give).

    Scale: one shuffle on source + a rank window. Sources are few and
    can be huge (the classic skew), so at 100 TB the window form is
    replaced by the two-phase top-K: per-partition TakeOrdered(quota)
    partial results, then a quota-sized merge per source — same
    semantics, no full per-source sort; AQE skew-split covers the
    window form in the meantime. The md5 rank also means INCREMENTAL
    ingestion keeps prior picks stable except at the quota boundary."""
    from kdcloganalyzer_spark.sources.tables import load_table
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= 120)
        .withColumn("sample_rank", F.col("sample_rank").cast("int"))
    )


def source_index(docs: DataFrame, qid: str) -> tuple[int, Column]:
    """(source count, literal map source → dense index in sort order),
    from one bounded collect of the distinct ``docs.source`` values.

    Bounded-domain contract, failed loud (ADVICE r15): a NULL source
    has no sort position and create_map rejects NULL keys, and the
    literal map stays cheap only up to ~64 sources (the repo's measured
    codegen-recompile bound for fresh literal expressions) — above
    that, switch to a broadcast join against the collected (source,
    idx) frame. Both raise ValueError naming ``qid``."""
    sources = [row[0] for row in docs.select("source").distinct().collect()]
    if any(s is None for s in sources):
        raise ValueError(
            f"{qid}: NULL source value — the dense source index requires "
            "non-null sources"
        )
    if len(sources) > 64:
        raise ValueError(
            f"{qid}: {len(sources)} sources exceeds the literal-map codegen "
            "bound; use a broadcast-join index"
        )
    sources.sort()
    idx_map = F.create_map(
        *[lit for i, s in enumerate(sources) for lit in (F.lit(s), F.lit(i))]
    )
    return len(sources), idx_map


@query(
    "pipeline_interleave_sources",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rk,
             dense_rank() OVER (ORDER BY source) - 1 AS src_idx,
             count(DISTINCT source) OVER () AS n_src
      FROM documents
    )
    SELECT doc_id, source,
           CAST(rk * n_src + src_idx AS BIGINT) AS mix_pos
    FROM ranked
    """,
)
def pipeline_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ROUND-ROBIN interleave of corpus sources — the
    'mix the sources evenly through the epoch' ordering every
    multi-corpus training run needs (a plain concat trains on source A
    for hours before seeing B; a global random shuffle loses source
    balance in any prefix). Each document's global mix position is
    rk * n_sources + source_index, with rk the deterministic md5 rank
    within its source: any PREFIX of the ordering is source-balanced
    to within one document, and the whole ordering is a pure function
    of the keys (reproducible epochs).

    Scale: one shuffle on source for the rank window plus two
    broadcast-sized side computations (source index, source count) —
    at 100 TB the writer sorts by mix_pos into shards
    (repartitionByRange), which is exactly pipeline_global_shuffle's
    story with a balance guarantee instead of a random one."""
    from kdcloganalyzer_spark.sources.tables import load_table
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    # r15: ONE bounded collect supplies both control values (source
    # count and each source's dense index = position in sort order) —
    # the old form paid a count() action plus a distinct+rank subtree
    # inside the main job, i.e. two extra documents scans and a join.
    n_src, idx_map = source_index(docs, "pipeline_interleave_sources")
    return (
        docs.withColumn("rk", F.row_number().over(w) - 1)
        .select(
            "doc_id",
            "source",
            (
                F.col("rk") * n_src
                + F.element_at(idx_map, F.col("source"))
            )
            .cast("long")
            .alias("mix_pos"),
        )
    )


# ---------------------------------------------------------------------------
# Text analysis: co-occurrence lift and within-doc repetition
# ---------------------------------------------------------------------------


@query(
    "text_cooccurrence_lift",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' ')))
               AS w
      FROM documents
    ), df AS (
      SELECT w, count(*) AS n FROM words GROUP BY w
    ), vocab AS (
      SELECT w, n FROM df
      QUALIFY row_number() OVER (ORDER BY n DESC, w) <= 40
    ), doc_vocab AS (
      SELECT wo.doc_id, wo.w, v.n FROM words wo JOIN vocab v ON v.w = wo.w
    ), pairs AS (
      SELECT a.w AS w_a, b.w AS w_b, a.n AS n_a, b.n AS n_b,
             count(*) AS n_ab
      FROM doc_vocab a JOIN doc_vocab b
        ON a.doc_id = b.doc_id AND a.w < b.w
      GROUP BY a.w, b.w, a.n, b.n
    ), total AS (SELECT count(*) AS n_docs FROM documents)
    SELECT w_a, w_b, CAST(n_ab AS BIGINT) AS n_ab,
           CAST(n_ab * n_docs * 1000000 // (n_a * n_b) AS BIGINT)
             AS lift_micro
    FROM pairs CROSS JOIN total
    WHERE n_ab >= 5
    """,
)
def text_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word co-occurrence LIFT over the top-40-df vocabulary: for word
    pairs appearing together in >= 5 documents, lift = P(a,b) /
    (P(a)·P(b)) as the exact integer micro-ratio n_ab·N·1e6 //
    (n_a·n_b) — the PMI-style association score behind phrase mining
    and topic drift monitors, kept order-free by integer
    cross-multiplication (no log, no float division).

    Scale: the vocabulary CAP is the plan's safety valve — pair
    explosion is bounded by |vocab|² per doc, not |doc words|²; the
    per-doc pair join is an equi-join on doc_id between two
    vocab-filtered projections of the same exploded table (broadcast
    vocab), and the pair aggregate partial-combines to <= |vocab|²
    rows. At 100 TB the vocab comes from a frequency sketch pass and
    the cap rises with cluster memory, not with corpus size."""
    from kdcloganalyzer_spark.sources.tables import load_table
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # control scalar
    words = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.lower(F.col("text")), " "))
        ).alias("w"),
    )
    df_tab = words.groupBy("w").agg(F.count("*").alias("n"))
    vw = Window.orderBy(F.desc("n"), "w")
    vocab = (
        df_tab.withColumn("rk", F.row_number().over(vw))
        .where(F.col("rk") <= 40)
        .drop("rk")
    )
    # r15: the self-join's two sides are structurally different, so
    # without this checkpoint each side re-ran the corpus explode ⋈
    # vocab (4 documents scans total). The vocab-filtered projection
    # is ≤ 40·|docs| rows — the cheap thing to materialize; the raw
    # word explode stays lazy (corpus-sized checkpoints lose — the
    # quality_bigram_lm A/B).
    doc_vocab = words.join(F.broadcast(vocab), "w").localCheckpoint()
    a = doc_vocab.select(
        "doc_id", F.col("w").alias("w_a"), F.col("n").alias("n_a")
    )
    b = doc_vocab.select(
        "doc_id", F.col("w").alias("w_b"), F.col("n").alias("n_b")
    )
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("w_a") < F.col("w_b"))
        .groupBy("w_a", "w_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= 5)
    )
    return pairs.select(
        "w_a",
        "w_b",
        F.col("n_ab").cast("long").alias("n_ab"),
        F.expr(f"CAST(n_ab * {n_docs} * 1000000 div (n_a * n_b) AS BIGINT)")
        .alias("lift_micro"),
    )


@query(
    "quality_repetition_ngrams",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws
      FROM documents WHERE doc_id % 4 = 0
    ), grams AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(ws) - 2),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS g3
      FROM toks WHERE len(ws) >= 3
    )
    SELECT doc_id,
           CAST(len(g3) AS BIGINT) AS n3,
           CAST(len(list_distinct(g3)) AS BIGINT) AS d3,
           CAST((len(g3) - len(list_distinct(g3))) * 1000000 // len(g3)
                AS BIGINT) AS rep_micro
    FROM grams
    """,
)
def quality_repetition_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document 3-gram repetition rate (the Gopher 'repetition'
    quality signal class — machine-generated and boilerplate text
    repeats itself): per doc, total 3-grams, distinct 3-grams, and the
    duplicated fraction as exact integer micro-units. Complements
    text_ngram_novelty (CROSS-doc n-gram novelty) — this one needs no
    corpus state at all.

    Scale: embarrassingly parallel — a per-row codegen expression
    (pre-shifted slice zip for the 3-grams, the arrays_zip idiom from
    the verify notes; array_distinct per row), no shuffle anywhere, so
    it rides the scan of whatever pipeline stage already reads the
    text. The %4 slice keeps the bench row bounded; production runs
    unsliced."""
    from kdcloganalyzer_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 4 == 0
    )
    ws = F.split(F.lower(F.col("text")), " ")
    toks = docs.select("doc_id", ws.alias("ws")).where(F.size("ws") >= 3)
    # all three slices must be EXACTLY size-2 long: arrays_zip pads the
    # shorter arrays with NULL up to the longest, which would fabricate
    # a trailing 2-word gram.
    g3 = F.expr(
        "transform(arrays_zip(slice(ws, 1, size(ws) - 2),"
        " slice(ws, 2, size(ws) - 2), slice(ws, 3, size(ws) - 2)),"
        " s -> concat_ws(' ', s['0'], s['1'], s['2']))"
    )
    out = toks.select("doc_id", g3.alias("g3"))
    return out.select(
        "doc_id",
        F.size("g3").cast("long").alias("n3"),
        F.size(F.array_distinct("g3")).cast("long").alias("d3"),
        F.expr(
            "CAST((size(g3) - size(array_distinct(g3))) * 1000000"
            " div size(g3) AS BIGINT)"
        ).alias("rep_micro"),
    )


# ---------------------------------------------------------------------------
# Sweep-line concurrency, table profiling, decile lift
# ---------------------------------------------------------------------------


@query(
    "window_concurrency_peak",
    oracle="""
    WITH iv AS (
      SELECT event_type, epoch_us(ts) AS s_us,
             epoch_us(ts) + CAST(round(value * 1000000) AS BIGINT) AS e_us
      FROM events
    ), deltas AS (
      SELECT event_type, s_us AS t_us, 1 AS delta FROM iv
      UNION ALL
      SELECT event_type, e_us, -1 FROM iv
    ), runs AS (
      SELECT event_type, t_us,
             sum(delta) OVER (PARTITION BY event_type
                              ORDER BY t_us, delta
                              ROWS UNBOUNDED PRECEDING) AS conc
      FROM deltas
    ), peaks AS (
      SELECT event_type, max(conc) AS peak FROM runs GROUP BY event_type
    )
    SELECT r.event_type, CAST(p.peak AS BIGINT) AS peak_concurrency,
           CAST(min(r.t_us) AS BIGINT) AS first_peak_us
    FROM runs r JOIN peaks p
      ON p.event_type = r.event_type AND r.conc = p.peak
    GROUP BY r.event_type, p.peak
    """,
)
def window_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak CONCURRENCY per event type via the sweep-line: each event
    occupies [ts, ts + value seconds); +1/-1 deltas, a running sum in
    sweep order (end-before-start at equal instants — the half-open
    interval convention), then the maximum and its FIRST time. The
    capacity-planning primitive (max simultaneous sessions/jobs/calls)
    that naive self-joins quadratically botch.

    Determinism note: the sweep ORDER BY (t, delta) has ties only
    between EQUAL deltas, whose prefix sums are permutation-invariant —
    so the peak and its first time are total functions of the data (the
    storage-order sweep in tests/test_oracle_determinism.py pins this).

    Scale: 2 rows per event through one partial-agg'd
    union-explode, one event_type-partitioned running-sum window, and a
    tiny peak join — the same one-exchange shape as
    analytics_order_backlog_curve, per type instead of global. 100 TB:
    the window key (event_type) is low-cardinality, so hot types
    AQE-skew-split; for a GLOBAL peak the same sweep runs over
    range-partitioned time slices with per-slice carry-in offsets."""
    from kdcloganalyzer_spark.sources.tables import load_table
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    s_us = F.unix_micros("ts")
    e_us = s_us + F.round(F.col("value") * 1000000).cast("long")
    iv = ev.select("event_type", s_us.alias("s_us"), e_us.alias("e_us"))
    # r15: the +1/-1 endpoint rows as a 2-struct explode instead of a
    # union of two projections — the union re-read the events scan once
    # per branch (generator form scans once; same multiset).
    deltas = iv.select(
        "event_type",
        F.explode(
            F.array(
                F.struct(
                    F.col("s_us").alias("t_us"), F.lit(1).alias("delta")
                ),
                F.struct(
                    F.col("e_us").alias("t_us"), F.lit(-1).alias("delta")
                ),
            )
        ).alias("td"),
    ).select("event_type", "td.t_us", "td.delta")
    w = Window.partitionBy("event_type").orderBy("t_us", "delta").rowsBetween(
        Window.unboundedPreceding, 0
    )
    runs = deltas.withColumn("conc", F.sum("delta").over(w))
    wp = Window.partitionBy("event_type")
    return (
        runs.withColumn("peak", F.max("conc").over(wp))
        .where(F.col("conc") == F.col("peak"))
        .groupBy("event_type", F.col("peak").cast("long").alias("peak_concurrency"))
        .agg(F.min("t_us").cast("long").alias("first_peak_us"))
    )


@query(
    "quality_profile_columns",
    oracle="""
    WITH src AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
             o_orderdate, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT 'o_orderkey' AS col_name,
           CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_null,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_val,
           CAST(max(o_orderkey) AS VARCHAR) AS max_val
    FROM src
    UNION ALL
    SELECT 'o_custkey', count(*) - count(o_custkey),
           count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM src
    UNION ALL
    SELECT 'o_orderstatus', count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus),
           min(o_orderstatus), max(o_orderstatus)
    FROM src
    UNION ALL
    SELECT 'o_orderpriority', count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority),
           min(o_orderpriority), max(o_orderpriority)
    FROM src
    UNION ALL
    SELECT 'o_orderdate', count(*) - count(o_orderdate),
           count(DISTINCT o_orderdate),
           CAST(min(o_orderdate) AS VARCHAR),
           CAST(max(o_orderdate) AS VARCHAR)
    FROM src
    UNION ALL
    SELECT 'o_totalprice_cents', count(*) - count(cents),
           count(DISTINCT cents),
           CAST(min(cents) AS VARCHAR), CAST(max(cents) AS VARCHAR)
    FROM src
    """,
)
def quality_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic TABLE PROFILER (the first thing any pipeline runs on an
    unfamiliar dataset): per column, null count, exact distinct count,
    and min/max rendered as canonical strings — money profiled as
    integer cents (a raw double min/max string is engine-formatting-
    dependent; the cents idiom keeps the profile hash-comparable).

    Scale: ONE pass computes all null counts and min/max (they fold
    into a single partial-mergeable aggregate); the exact distincts are
    the expensive part — Spark's multi-count-distinct EXPAND multiplies
    the scan by the column count, so the plan profiles each column's
    distinct as its own partial-agg'd pass over a column-pruned scan
    (6 cheap scans beat one 6x expand — the fn_collation_group lesson),
    and at 100 TB the distincts swap to approx_count_distinct pass-
    for-pass with the same plan shape."""
    from kdcloganalyzer_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    src = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        "o_orderdate",
        cents("o_totalprice").alias("o_totalprice_cents"),
    )
    parts = []
    for c in src.columns:
        parts.append(
            src.select(c).agg(
                F.lit(c).alias("col_name"),
                (F.count(F.lit(1)) - F.count(c)).cast("long").alias("n_null"),
                F.countDistinct(c).cast("long").alias("n_distinct"),
                F.min(c).cast("string").alias("min_val"),
                F.max(c).cast("string").alias("max_val"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@query(
    "analytics_decile_lift",
    oracle="""
    WITH scored AS (
      SELECT user_id,
             CAST(sum(round(value * 100)) AS BIGINT) AS score_cents,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS responded
      FROM events GROUP BY user_id
    ), ranked AS (
      SELECT user_id, score_cents, responded,
             row_number() OVER (ORDER BY score_cents DESC, user_id) AS rn,
             count(*) OVER () AS n_users,
             sum(responded) OVER () AS n_resp
      FROM scored
    )
    SELECT CAST((rn - 1) * 10 // n_users AS INT) AS decile,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(responded) AS BIGINT) AS n_responders,
           CAST(sum(responded) * 1000000 // count(*) AS BIGINT)
             AS response_rate_micro,
           CAST(sum(responded) * max(n_users) * 1000000
                // NULLIF(count(*) * max(n_resp), 0) AS BIGINT)
             AS lift_micro
    FROM ranked
    GROUP BY (rn - 1) * 10 // n_users
    """,
)
def analytics_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECILE LIFT TABLE — the model-evaluation staple: users ranked by
    an engagement score (here total event value in cents, integer from
    the start), cut into 10 explicit-formula deciles
    ((rank-1)*10 // N — NOT ntile, whose remainder distribution is a
    spec detail worth not depending on), and per decile the response
    rate ('purchase' reached) and lift vs the base rate, both as exact
    integer micro-ratios.

    Scale: one user-keyed partial agg for scores, one global rank — the
    global window is the known chokepoint, so at 100 TB the rank swaps
    to pipeline_global_shuffle's bucket-offset construction (the exact
    same positions, no single-partition sort); everything after the
    rank is decile-keyed partial aggregation."""
    from kdcloganalyzer_spark.sources.tables import load_table
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    scored = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100)).cast("long").alias("score_cents"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("responded"),
    )
    n_users, n_resp = scored.agg(
        F.count("*"), F.sum("responded")
    ).first()  # control scalars (one driver-side row)
    # a corpus with zero 'purchase' rows has no base rate: emit NULL
    # lift (the oracle's NULLIF denominator agrees) instead of crashing
    # on int(None) / dividing by zero
    n_resp = int(n_resp or 0)
    w = Window.orderBy(F.desc("score_cents"), "user_id")
    ranked = scored.withColumn("rn", F.row_number().over(w))
    dec = F.expr(f"CAST((rn - 1) * 10 div {n_users} AS INT)")
    lift = (
        F.expr(
            f"CAST(sum(responded) * {int(n_users)} * 1000000"
            f" div (count(*) * {n_resp}) AS BIGINT)"
        )
        if n_resp
        else F.lit(None).cast("bigint")
    )
    return (
        ranked.groupBy(dec.alias("decile"))
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("responded").cast("long").alias("n_responders"),
            F.expr("CAST(sum(responded) * 1000000 div count(*) AS BIGINT)")
            .alias("response_rate_micro"),
            lift.alias("lift_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Hive-partitioned directory scan with partition-dir pruning
# ---------------------------------------------------------------------------


def hive_part_path_for_sf(sf_dir: str) -> str:
    """Deterministic staged dir for the hive-partitioned orders layout
    (one o_orderstatus=<v> subdirectory per status). Path only —
    ``stage_hive_part`` writes it."""
    return f"/tmp/hive_part_orders_v1_{sf_label(sf_dir, '0.001')}"


DRIVER_HIVEPART = hive_part_path_for_sf("/root/testdata/sf0.01")


def stage_hive_part(spark: SparkSession, sf_dir: str) -> str:
    """Stage the orders as o_orderstatus=<v>/ subdirectories, money as
    integer cents."""
    from kdcloganalyzer_spark.sources.tables import load_table

    def build(d: str) -> None:
        (
            load_table(spark, sf_dir, "orders")
            .select(
                "o_orderpriority",
                cents("o_totalprice").alias("cents"),
                "o_orderstatus",
            )
            .coalesce(1)
            .write.mode("overwrite")
            .partitionBy("o_orderstatus")
            .parquet(d)
        )

    return appcache.stage(hive_part_path_for_sf(sf_dir), build)


@query(
    "scan_hive_partitioned",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM read_parquet('{DRIVER_HIVEPART}/*/*.parquet', hive_partitioning=1)
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderstatus, o_orderpriority
    """,
)
def scan_hive_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned DIRECTORY layout + partition-dir PRUNING — the
    single most important at-scale scan optimization (a predicate on
    the partition column eliminates whole directories at PLANNING time;
    no footer, no row group, no byte of the pruned partitions is ever
    read). The orders feed is staged once per sf as
    o_orderstatus=<v>/ subdirectories; the query filters one status and
    the plan's PartitionFilters prove only that directory is scanned
    (pinned by tests/test_round9_ops.py via inputFiles()). The DuckDB
    twin reads the same staged layout with hive_partitioning=1.

    Complements sink_partitioned_parquet (the WRITE side of this
    layout) and scan_manifest_pruned (min/max file skipping WITHIN a
    partition — the two prunings compose at 100 TB: partition dirs
    first, file stats second, row groups third).

    Scale: pruning is O(partitions) metadata work at planning; the
    scan cost is proportional to the SELECTED partition only. Money is
    staged as integer cents (engine-neutral)."""
    base = stage_hive_part(spark, sf_dir)
    df = spark.read.parquet(base).where(F.col("o_orderstatus") == "F")
    return df.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# Point-in-time (SCD2 validity) join
# ---------------------------------------------------------------------------


@query(
    "join_point_in_time",
    oracle="""
    WITH views AS (
      SELECT user_id, event_id, ts,
             CAST(floor(value / 50) AS INT) AS tier
      FROM events WHERE event_type = 'view' AND user_id < 400
    ), ordered AS (
      SELECT user_id, event_id, ts, tier,
             lag(tier) OVER w AS prev_tier
      FROM views WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), runs AS (
      SELECT user_id, ts, tier,
             sum(CASE WHEN prev_tier IS NULL OR prev_tier <> tier
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS version
      FROM ordered
    ), intervals AS (
      SELECT user_id, CAST(version AS INT) AS version,
             min(tier) AS tier, min(ts) AS valid_from
      FROM runs GROUP BY user_id, version
    ), dim AS (
      SELECT user_id, version, tier, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id
                                    ORDER BY version) AS valid_to
      FROM intervals
    ), purchases AS (
      SELECT event_id, user_id, ts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' AND user_id < 400
    )
    SELECT p.event_id, p.user_id, p.cents,
           CAST(d.version AS INT) AS version,
           CAST(d.tier AS INT) AS tier
    FROM purchases p LEFT JOIN dim d
      ON d.user_id = p.user_id
     AND p.ts >= d.valid_from
     AND (d.valid_to IS NULL OR p.ts < d.valid_to)
    """,
)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME join — the feature-store / training-data
    correctness primitive: each purchase is attributed to the dimension
    version that was valid AT ITS TIMESTAMP (the user's engagement tier,
    an SCD2 run over their 'view' events), never to a later one — the
    lookahead-leakage bug this operator class exists to prevent.
    Purchases before the user's first view keep NULL version/tier (LEFT
    join: 'segment unknown at purchase time' is a real category, not a
    dropped row).

    Plan shape: the dimension build is dim_scd2_build's one-exchange
    window stack (lag + running sum + groupBy + lead all on one user_id
    partitioning); the PIT join itself is an EQUI join on user_id with
    the validity range as residual join predicates — Catalyst plans
    SMJ/BHJ on the key (never a BNLJ; half-open [from, to) intervals
    partition each user's timeline, so at most one version matches).

    Scale: dimension rows = attribute CHANGES (sublinear in events);
    the fact side shuffles once on user_id — or broadcasts the
    dimension when it fits, the common case. 100 TB feature stores run
    exactly this join per training example; the [from, to) convention
    plus the (ts, event_id) total order keep it deterministic under
    ties (the storage-order sweep pins that)."""
    from kdcloganalyzer_spark.sources.tables import load_table
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 400)
    views = ev.where(F.col("event_type") == "view").select(
        "user_id",
        "event_id",
        "ts",
        F.floor(F.col("value") / 50).cast("int").alias("tier"),
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (
        views.withColumn("prev_tier", F.lag("tier").over(wo))
        .withColumn(
            "chg",
            F.when(
                F.col("prev_tier").isNull()
                | (F.col("prev_tier") != F.col("tier")),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "version",
            F.sum("chg").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    intervals = runs.groupBy("user_id", "version").agg(
        F.min("tier").alias("tier"), F.min("ts").alias("valid_from")
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    dim = intervals.select(
        "user_id",
        F.col("version").cast("int").alias("version"),
        F.col("tier").cast("int").alias("tier"),
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
    )
    pur = ev.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        cents("value").alias("cents"),
    )
    d = dim.alias("d")
    p = pur.alias("p")
    joined = p.join(
        d,
        (F.col("p.user_id") == F.col("d.user_id"))
        & (F.col("p.ts") >= F.col("d.valid_from"))
        & (F.col("d.valid_to").isNull() | (F.col("p.ts") < F.col("d.valid_to"))),
        "left",
    )
    return joined.select(
        F.col("p.event_id").alias("event_id"),
        F.col("p.user_id").alias("user_id"),
        "cents",
        F.col("d.version").alias("version"),
        F.col("d.tier").alias("tier"),
    )


# ---------------------------------------------------------------------------
# Corrupt-file-tolerant parquet scan
# ---------------------------------------------------------------------------


def corrupt_scan_path_for_sf(sf_dir: str) -> str:
    """Deterministic staged dir holding two good parquet files and one
    corrupt (non-parquet bytes behind a .parquet name) — the layout a
    100 TB lake ingest inevitably produces."""
    return f"/tmp/corrupt_scan_v1_{sf_label(sf_dir, '0.001')}"


DRIVER_CORRUPT = corrupt_scan_path_for_sf("/root/testdata/sf0.01")


def stage_corrupt_scan(spark: SparkSession, sf_dir: str) -> str:
    """Stage nation ⋈ region as ``good-0.parquet`` and ``good-1.parquet``
    (n_nationkey parity) beside ``broken.parquet``, garbage bytes."""
    import os
    import shutil

    from kdcloganalyzer_spark.sources.tables import load_table

    def build(d: str) -> None:
        nation = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        region = load_table(spark, sf_dir, "region").select(
            "r_regionkey", "r_name"
        )
        joined = nation.join(
            region, nation["n_regionkey"] == region["r_regionkey"]
        ).select("n_nationkey", "n_name", "r_regionkey")
        for i in (0, 1):
            tmp = f"{d}/part{i}"
            half = joined.where(F.col("n_nationkey") % 2 == i)
            half.coalesce(1).write.mode("overwrite").parquet(tmp)
            src = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
            shutil.move(f"{tmp}/{src}", f"{d}/good-{i}.parquet")
            shutil.rmtree(tmp, ignore_errors=True)
        with open(f"{d}/broken.parquet", "wb") as f:
            f.write(b"PAR1 this is not a parquet footer" * 40)

    return appcache.stage(corrupt_scan_path_for_sf(sf_dir), build)


@query(
    "scan_corrupt_tolerant",
    oracle=f"""
    SELECT r_regionkey, count(*) AS n_nations,
           min(n_name) AS first_nation, max(n_name) AS last_nation
    FROM read_parquet(['{DRIVER_CORRUPT}/good-0.parquet',
                       '{DRIVER_CORRUPT}/good-1.parquet'])
    GROUP BY r_regionkey
    """,
)
def scan_corrupt_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-file-TOLERANT scan: a directory where one .parquet file
    is garbage bytes (a truncated upload, a half-written object — the
    fact of life at lake scale) is read with ``ignoreCorruptFiles`` so
    the two good files' rows survive and the job doesn't die. The
    oracle reads ONLY the good files explicitly, so a hash match proves
    tolerance dropped exactly the corrupt file and nothing else —
    distinct from scan_csv_malformed, which quarantines corrupt ROWS
    inside well-formed files.

    The toggle is the per-read datasource OPTION (no session-conf
    mutation), paired with an EXPLICIT schema: schema inference also
    reads footers and dies on the corrupt one before the option can
    apply (measured — UNABLE_TO_INFER_SCHEMA), which is itself the
    production rule this operator encodes: tolerant reads declare
    their schema. Footer validation then happens at task start, so the
    corrupt file costs one failed-open, not a retry storm.

    Scale: at 100 TB this flag is the difference between a nightly
    10k-file load surviving one bad object and re-running; the paired
    practice is a dead-letter sweep that lists files the scan skipped
    (here: the staged dir minus the scan's input files)."""
    base = stage_corrupt_scan(spark, sf_dir)
    df = (
        spark.read.schema(
            "n_nationkey int, n_name string, r_regionkey int"
        )
        .option("ignoreCorruptFiles", "true")
        .parquet(base)
    )
    return df.groupBy("r_regionkey").agg(
        F.count("*").alias("n_nations"),
        F.min("n_name").alias("first_nation"),
        F.max("n_name").alias("last_nation"),
    )
