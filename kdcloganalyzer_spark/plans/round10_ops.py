"""Round-10 operators: the 100 TB swap forms the r9 curation samplers
promised (VERDICT r9 item 5), plus later r10 additions.

Both swap forms produce EXACTLY the rows of their window-form siblings
(`pipeline_quota_sampler`, `pipeline_interleave_sources`) and therefore
share their DuckDB oracles verbatim — the same exact-twin pattern as
events_rfm_segmentation_approx vs its exact form: the oracle certifies
the swap changed the PLAN, not the answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kdcloganalyzer_spark import appcache
from kdcloganalyzer_spark.plans.registry import query
from kdcloganalyzer_spark.sources.tables import cents
from kdcloganalyzer_spark.plans.round9_ops import source_index

# Shared oracle texts (identical rows => identical SQL twin).
QUOTA_ORACLE = """
    SELECT doc_id, source, CAST(rk AS INT) AS sample_rank FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    ) WHERE rk <= 120
"""

INTERLEAVE_ORACLE = """
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
"""


@query("pipeline_quota_sampler_twophase", oracle=QUOTA_ORACLE)
def pipeline_quota_sampler_twophase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source quota sampling via the TWO-PHASE top-K — the 100 TB
    form `pipeline_quota_sampler`'s docstring promises. The window form
    shuffles the FULL corpus onto |sources| reducers and sorts each
    source's entire population; with few, huge sources that is the
    canonical skew bottleneck. Here phase 1 runs INSIDE each input
    split with zero movement: an Arrow-batched ``mapInPandas`` keeps
    only each batch's per-source 120 smallest (md5, doc_id) keys, so at
    most quota × batches × sources candidate rows ever leave the scan —
    at 100 TB that is the difference between shuffling the corpus and
    shuffling kilobytes per task. Phase 2 ranks the surviving
    candidates with the same total order and keeps the true top-120;
    because every phase-1 survivor set contains its split's true
    per-source top-120, the merge is exact (mergeable bottom-k, the
    law test_consistent_topk_is_mergeable_bottom_k pins for the md5
    rank family).

    The md5 sort key is computed JVM-side (codegen) BEFORE the Python
    boundary; pandas only nsmallest-selects. Output == the window form
    row-for-row, so this shares its oracle verbatim."""
    from kdcloganalyzer_spark.operators.dedup import spread
    from kdcloganalyzer_spark.sources.tables import load_table
    from pyspark.sql.window import Window

    quota = 120
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ).withColumn("k", F.md5(F.col("doc_id").cast("string")))

    def local_topk(batches):  # closure: executors lack repo on sys.path
        for pdf in batches:
            if pdf.empty:
                continue
            yield (
                pdf.sort_values(["k", "doc_id"])
                .groupby("source", sort=False)
                .head(120)
            )

    cand = docs.mapInPandas(
        local_topk, "doc_id bigint, source string, k string"
    )
    w = Window.partitionBy("source").orderBy("k", "doc_id")
    return (
        cand.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= quota)
        .select(
            "doc_id", "source", F.col("sample_rank").cast("int").alias(
                "sample_rank"
            )
        )
    )


@query("pipeline_interleave_sources_ranged", oracle=INTERLEAVE_ORACLE)
def pipeline_interleave_sources_ranged(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round-robin source interleave with the RANGE-SHARDED writer — the
    100 TB form `pipeline_interleave_sources`' docstring promises. The
    mix position is the same pure key function (rk × n_sources +
    source_index), but instead of leaving a logically-ordered frame for
    a downstream global sort, the epoch is MATERIALIZED as range shards:
    ``repartitionByRange(mix_pos)`` samples split points and gives every
    shard a disjoint, ordered slice of the epoch, each sorted within
    itself — a trainer streams shard 0..N-1 and sees the exact
    interleave with NO single-partition sort anywhere (the same
    bucket-writer story as pipeline_global_shuffle, with a balance
    guarantee instead of a random one). The read-back proves the
    shards reassemble the identical epoch: output == the window form
    row-for-row, same oracle verbatim.

    Scale: one shuffle on source for the rank window, one range
    exchange for the writer (sampled split points, so shards stay
    balanced even though early mix positions are denser); shard count
    scales with the cluster, not the corpus."""

    from kdcloganalyzer_spark.sources.tables import load_table
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    # r15: ONE bounded collect supplies both control values (source
    # count and dense index = position in sort order) — same rewrite
    # and bounded-domain contract as pipeline_interleave_sources; drops
    # a count() action, two extra documents scans and the broadcast join.
    n_src, idx_map = source_index(docs, "pipeline_interleave_sources_ranged")
    epoch = (
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
    out = appcache.tempdir(prefix="interleave_shards_")
    (
        epoch.repartitionByRange(8, "mix_pos")
        .sortWithinPartitions("mix_pos")
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.parquet(out).select("doc_id", "source", "mix_pos")


# ---------------------------------------------------------------------------
# KMV (bottom-k minimum values) distinct sketch with set operations
# ---------------------------------------------------------------------------

_KMV_K = 64
_POW60 = 1 << 60  # md5-60bit hash space (the repo's cross-engine idiom)


@query(
    "agg_kmv_distinct_setops",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               AS h, user_id
      FROM events WHERE event_type IN ('click', 'view')
    ),
    sets AS (
      SELECT 'click' AS set_name, h FROM h WHERE event_type = 'click'
      UNION ALL
      SELECT 'view', h FROM h WHERE event_type = 'view'
      UNION ALL
      SELECT 'union', h FROM (SELECT DISTINCT h FROM h)
    ),
    sk AS (
      SELECT set_name, h,
             row_number() OVER (PARTITION BY set_name ORDER BY h) AS rn,
             count(*) OVER (PARTITION BY set_name) AS n_hashes
      FROM sets
    ),
    est AS (
      SELECT set_name,
             CAST(CASE WHEN max(n_hashes) < {_KMV_K} THEN max(n_hashes)
                  ELSE ({_KMV_K} - 1)
                       * ({_POW60} // max(CASE WHEN rn = {_KMV_K}
                                               THEN h END))
                  END AS BIGINT) AS kmv_est
      FROM sk WHERE rn <= {_KMV_K} GROUP BY set_name
    ),
    exact AS (
      SELECT 'click' AS set_name,
             count(DISTINCT user_id) FILTER (event_type = 'click') AS ex
      FROM events
      UNION ALL
      SELECT 'view', count(DISTINCT user_id) FILTER (event_type = 'view')
      FROM events
      UNION ALL
      SELECT 'union', count(DISTINCT user_id)
      FROM events WHERE event_type IN ('click', 'view')
    )
    SELECT est.set_name, est.kmv_est, CAST(exact.ex AS BIGINT) AS exact
    FROM est JOIN exact USING (set_name)
    UNION ALL
    SELECT 'intersect',
           CAST((SELECT sum(CASE WHEN set_name = 'union' THEN -kmv_est
                                 ELSE kmv_est END) FROM est) AS BIGINT),
           CAST((SELECT count(*) FROM
                   (SELECT user_id FROM events WHERE event_type = 'click'
                    INTERSECT
                    SELECT user_id FROM events WHERE event_type = 'view'))
                AS BIGINT)
    """,
)
def agg_kmv_distinct_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k minimum values) distinct-count sketch with SET
    OPERATIONS — the mergeable sketch family member HLL cannot give
    you: keeping the k smallest md5 hashes of a set supports union
    (bottom-k of concatenated sketches) and, via inclusion-exclusion,
    intersection estimates, all from kilobytes of state. The estimator
    is (k−1) · (2^60 div h_k) with h_k the k-th smallest 60-bit hash
    (integer-division form so every value stays an exact BIGINT — the
    float form (k−1)·2^60/h_k would be engine-rounding-dependent), and
    degrades to the EXACT distinct count whenever a set holds fewer
    than k hashes (sf0.001's 15 users exercise the fallback; sf0.01+
    exercise the estimator). Deterministic end-to-end: the md5-60bit
    idiom means DuckDB replays the sketch CONTENT, not just a bound —
    the oracle hash-verifies the estimates themselves.

    Scale: one distinct-hash aggregation per set (partial-combined;
    the distinct table is |users|-sized, not |events|-sized), then a
    bottom-k window over hashes — mergeable bottom-k, so at 100 TB
    phase 1 keeps per-partition k-minima and only k × partitions rows
    reach the final merge (the pipeline_quota_sampler_twophase
    pattern; test_consistent_topk pins the merge law). r15: the
    per-user membership flags collapse in ONE events pass behind an
    eager checkpoint — the old form re-scanned events four times (the
    sketch branches, the 3-way EXPAND exact aggregate, and the
    intersect semi-join), and every exact count is now a sum of the
    same flag table."""
    from kdcloganalyzer_spark.sources.tables import load_table
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view")
    )
    h60 = F.expr(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10)"
        " AS BIGINT)"
    )
    # One pass: per-user set-membership flags + the 60-bit hash
    # (|users|-sized, eagerly checkpointed — every branch below reads
    # this table, never raw events).
    u = (
        ev.groupBy("user_id")
        .agg(
            F.max(F.col("event_type") == "click").alias("is_c"),
            F.max(F.col("event_type") == "view").alias("is_v"),
        )
        .withColumn("h", h60)
        .localCheckpoint()
    )
    ex = u.agg(
        F.sum(F.col("is_c").cast("bigint")).alias("click"),
        F.sum(F.col("is_v").cast("bigint")).alias("view"),
        F.count("*").alias("union"),
        F.sum((F.col("is_c") & F.col("is_v")).cast("bigint")).alias(
            "inter"
        ),
    ).collect()[0]
    sets = (
        u.where("is_c")
        .select(F.lit("click").alias("set_name"), "h")
        .unionByName(
            u.where("is_v").select(F.lit("view").alias("set_name"), "h")
        )
        .unionByName(
            u.select("h")
            .distinct()
            .select(F.lit("union").alias("set_name"), "h")
        )
    )
    w = Window.partitionBy("set_name").orderBy("h")
    cw = Window.partitionBy("set_name")
    sk = sets.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_hashes", F.count("*").over(cw)
    )
    est = (
        sk.where(F.col("rn") <= _KMV_K)
        .groupBy("set_name")
        .agg(
            F.when(
                F.max("n_hashes") < _KMV_K, F.max("n_hashes")
            )
            .otherwise(
                (_KMV_K - 1)
                * F.expr(
                    f"{_POW60}L div max(CASE WHEN rn = {_KMV_K} "
                    "THEN h END)"
                )
            )
            .cast("bigint")
            .alias("kmv_est")
        )
    )
    exact = spark.createDataFrame(
        [
            ("click", int(ex["click"])),
            ("view", int(ex["view"])),
            ("union", int(ex["union"])),
        ],
        "set_name string, exact bigint",
    )
    named = est.join(F.broadcast(exact), "set_name").select(
        "set_name", "kmv_est", F.col("exact").cast("bigint").alias("exact")
    )
    # intersect row: inclusion-exclusion on the three estimates; exact
    # from the same one-pass flag aggregate (bounded control scalars)
    r = {x["set_name"]: x["kmv_est"] for x in est.collect()}
    inter = spark.createDataFrame(
        [
            (
                "intersect",
                int(r["click"] + r["view"] - r["union"]),
                int(ex["inter"]),
            )
        ],
        "set_name string, kmv_est bigint, exact bigint",
    )
    return named.unionByName(inter)


# ---------------------------------------------------------------------------
# Balanced-class downsampling
# ---------------------------------------------------------------------------


@query(
    "sample_balanced_class",
    oracle="""
    WITH counts AS (
      SELECT lang, count(*) AS c FROM documents GROUP BY lang
    ),
    ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    )
    SELECT doc_id, lang, CAST(rk AS INT) AS sample_rank
    FROM ranked WHERE rk <= (SELECT min(c) FROM counts)
    """,
)
def sample_balanced_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BALANCED-CLASS downsampling — equalize class populations for
    training by capping every class at the SMALLEST class's count
    (here: per-language document counts; en dominates ~2.5:1). The
    per-class pick is the deterministic md5(doc_id) rank, so the
    balanced set is a pure function of the data (rerun-stable,
    backfill-stable — the same contract as pipeline_quota_sampler,
    with the quota DERIVED from the data instead of configured).

    Scale: one partial-agg'd count per class (a |classes|-row control
    aggregate, collected driver-side — the sanctioned scalar pattern:
    a lazy 1-row join would plan a BNLJ), one source-keyed rank
    window; the skew/two-phase story is pipeline_quota_sampler_
    twophase's, verbatim, since the plan shape is identical once the
    quota scalar is bound."""
    from kdcloganalyzer_spark.sources.tables import load_table
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    m = (
        docs.groupBy("lang")
        .count()
        .agg(F.min("count"))
        .collect()[0][0]
    )  # control scalar: the minority-class size
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= int(m))
        .select(
            "doc_id",
            "lang",
            F.col("sample_rank").cast("int").alias("sample_rank"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted source mixture (fractional epoch repeats)
# ---------------------------------------------------------------------------


@query(
    "pipeline_mixture_weighted_epochs",
    oracle="""
    WITH weighted AS (
      SELECT doc_id, source,
             CASE CAST(substr(source, 4) AS INT) % 3
                  WHEN 0 THEN 200 WHEN 1 THEN 100 ELSE 50 END AS w_e2,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               AS h
      FROM documents
    ),
    copies AS (
      SELECT doc_id, source,
             (w_e2 // 100)
             + CASE WHEN h % 100 < w_e2 % 100 THEN 1 ELSE 0 END
               AS n_copies
      FROM weighted
    )
    SELECT doc_id, source, CAST(t.copy_idx AS BIGINT) AS copy_idx
    FROM copies CROSS JOIN unnest(range(n_copies)) AS t(copy_idx)
    """,
)
def pipeline_mixture_weighted_epochs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WEIGHTED SOURCE MIXTURE with fractional repeats — the
    dataset-mixture primitive every multi-corpus training run needs:
    per-source sampling weights (here 2.0× / 1.0× / 0.5× by source
    index mod 3, weights carried as integer HUNDREDTHS) expand each
    document into floor(w) guaranteed epoch copies plus one more iff
    its md5-hash low bits fall under the fractional part — so a 0.5×
    source contributes a deterministic, hash-stable half of its
    documents and a 2.0× source contributes everything twice. Expected
    copy mass per source = weight × |source| exactly, the selection is
    a pure function of (doc_id, source), and incremental ingestion
    never flips prior picks (same contract as sample_hash_mixture,
    upgraded from keep/drop to fractional REPEAT factors).

    Scale: pure per-row map + explode — no shuffle at all (the plan is
    scan → project → generate); output size is Σ w_s·|s|, and the
    epoch materializes shard-parallel. The follow-on global order is
    pipeline_interleave_sources_ranged's range-shard story."""
    from kdcloganalyzer_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w_e2 = (
        F.when(F.substring("source", 4, 10).cast("int") % 3 == 0, 200)
        .when(F.substring("source", 4, 10).cast("int") % 3 == 1, 100)
        .otherwise(50)
    )
    h60 = F.expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10)"
        " AS BIGINT)"
    )
    n_copies = (w_e2 / 100).cast("int") + F.when(
        h60 % 100 < w_e2 % 100, 1
    ).otherwise(0)
    return (
        docs.withColumn("n_copies", n_copies)
        .where(F.col("n_copies") >= 1)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.sequence(F.lit(0), F.col("n_copies") - 1)
            ).alias("copy_idx"),
        )
        .select(
            "doc_id", "source", F.col("copy_idx").cast("bigint").alias(
                "copy_idx"
            )
        )
    )


# ---------------------------------------------------------------------------
# Matryoshka (prefix-dimension) embedding evaluation
# ---------------------------------------------------------------------------

_MRL_DIM = 16


@query(
    "embed_matryoshka_eval",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
               FROM embeddings WHERE vec_id < 5),
    full_scored AS (
      SELECT q.q_id, e.vec_id,
             round(list_cosine_similarity(q.q_emb, e.embedding::DOUBLE[]),
                   6) AS cos
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id
    ),
    full_top AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, vec_id) AS rank
        FROM full_scored
      ) WHERE rank <= 10
    ),
    pre_scored AS (
      SELECT q.q_id, e.vec_id,
             round(list_cosine_similarity(q.q_emb[1:{_MRL_DIM}],
                                          (e.embedding::DOUBLE[])[1:{_MRL_DIM}]),
                   6) AS cos
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id
    ),
    pre_top AS (
      SELECT q_id, vec_id, CAST(rank AS INT) AS pre_rank FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, vec_id) AS rank
        FROM pre_scored
      ) WHERE rank <= 10
    )
    SELECT p.q_id, p.vec_id, p.pre_rank,
           CAST(CASE WHEN f.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
             AS in_full_topk
    FROM pre_top p LEFT JOIN full_top f USING (q_id, vec_id)
    """,
)
def embed_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA (prefix-dimension) retrieval evaluation — the modern
    embedding-serving question: if queries run against only the FIRST
    16 of 64 dimensions (4× cheaper dot products, 4× smaller index),
    which of the full-dimension top-10 survive? Emits the prefix-space
    top-10 per query with a flag marking overlap with the full-space
    top-10 — the per-query recall readout that decides whether the
    truncated index is servable. Both rankings use the repo's
    hash-verified exact-cosine idiom (unit vectors, round-6 scores,
    vec_id tie-break), so the EVALUATION itself is oracle-checked, not
    just bounded — the sim_search_lsh_eval pattern applied to
    dimension truncation instead of bucketing.

    Scale: one broadcast of the bounded query set, one corpus pass
    scoring both spaces in the same projection (the prefix slice adds
    ~25% arithmetic, not a second scan); per-query top-k is
    TakeOrdered-shaped. At 100 TB the full-space side swaps for the
    IVF/LSH index path and this query becomes the calibration job run
    on a sample."""
    from kdcloganalyzer_spark.operators.dedup import (
        _dot,
        spread,
        with_unit_vector,
    )
    from kdcloganalyzer_spark.sources.tables import load_table
    from pyspark.sql.window import Window

    emb = spread(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    pre = emb.withColumn(
        "pre_emb", F.slice(F.col("embedding"), 1, _MRL_DIM)
    )
    unit = with_unit_vector(pre, "embedding", out="unit_full")
    unit = with_unit_vector(unit, "pre_emb", out="unit_pre").select(
        "vec_id", "unit_full", "unit_pre"
    )
    queries = unit.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("unit_full").alias("q_full"),
        F.col("unit_pre").alias("q_pre"),
    )
    scored = (
        unit.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(_dot(F.col("q_full"), F.col("unit_full")), 6).alias(
                "cos_full"
            ),
            F.round(_dot(F.col("q_pre"), F.col("unit_pre")), 6).alias(
                "cos_pre"
            ),
        )
    )
    wf = Window.partitionBy("q_id").orderBy(F.desc("cos_full"), F.asc("vec_id"))
    wp = Window.partitionBy("q_id").orderBy(F.desc("cos_pre"), F.asc("vec_id"))
    ranked = scored.select(
        "q_id",
        "vec_id",
        F.row_number().over(wf).alias("full_rank"),
        F.row_number().over(wp).alias("pre_rank"),
    )
    return (
        ranked.where(F.col("pre_rank") <= 10)
        .select(
            "q_id",
            "vec_id",
            F.col("pre_rank").cast("int").alias("pre_rank"),
            F.when(F.col("full_rank") <= 10, 1)
            .otherwise(0)
            .cast("int")
            .alias("in_full_topk"),
        )
    )


# ---------------------------------------------------------------------------
# As-of join with a staleness tolerance
# ---------------------------------------------------------------------------


@query(
    "join_asof_tolerance",
    oracle="""
    WITH m AS (
      SELECT p.event_id, p.user_id, p.ts,
             (SELECT max(c.ts) FROM events c
              WHERE c.user_id = p.user_id AND c.event_type = 'click'
                AND c.ts <= p.ts) AS last_click
      FROM events p WHERE p.event_type = 'purchase'
    )
    SELECT event_id, user_id, ts,
           CASE WHEN last_click >= ts - INTERVAL 2 HOUR
                THEN last_click END AS asof_click_ts,
           CAST(CASE WHEN last_click >= ts - INTERVAL 2 HOUR
                THEN epoch_us(ts) - epoch_us(last_click) END AS BIGINT)
             AS gap_us
    FROM m
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN WITH TOLERANCE — the feature-store variant of
    join_asof: each purchase matches the same user's most recent click
    ONLY if it is at most 2 hours stale; older state is worse than no
    state (a 3-day-old feature silently poisoning a training row is
    the bug this bound exists to catch), so stale matches surface as
    NULL plus a NULL gap instead of a wrong value. Gap is exact
    integer MICROSECONDS (unix_micros ⇄ epoch_us, the module's pinned
    timestamp equivalence).

    Scale: same union-and-carry-forward plan as join_asof — one
    shuffle on user_id, one per-user sort, last(ignorenulls) carries
    the click forward, a codegen CASE applies the tolerance; no range
    explosion, no BNLJ at any scale. The tolerance also BOUNDS
    streaming state in the continuous form (stream-stream joins keep
    only the tolerance window of the build side)."""
    from kdcloganalyzer_spark.sources.tables import load_table
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    # r15: disjoint event_type branches → one filtered CASE pass (same
    # rewrite as join_asof; the events scan runs once, not per stream).
    u = events.where(
        F.col("event_type").isin("click", "purchase")
    ).select(
        "user_id",
        "ts",
        F.when(F.col("event_type") == "click", F.col("ts")).alias(
            "click_ts"
        ),
        F.when(
            F.col("event_type") == "purchase", F.col("event_id")
        ).alias("event_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.col("event_id").isNotNull().cast("int"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        u.withColumn(
            "last_click", F.last("click_ts", ignorenulls=True).over(w)
        )
        .where(F.col("event_id").isNotNull())
    )
    fresh = F.col("last_click") >= (
        F.col("ts") - F.expr("INTERVAL 2 HOURS")
    )
    return carried.select(
        "event_id",
        "user_id",
        "ts",
        F.when(fresh, F.col("last_click")).alias("asof_click_ts"),
        F.when(
            fresh, F.unix_micros("ts") - F.unix_micros("last_click")
        )
        .cast("bigint")
        .alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# Log2-bucketed (HdrHistogram-style) value histogram
# ---------------------------------------------------------------------------


@query(
    "agg_histogram_log2",
    oracle="""
    WITH c AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE value > 0
    )
    SELECT event_type,
           CAST(length(bin(cents)) AS INT) AS log2_bucket,
           count(*) AS n,
           CAST(min(cents) AS BIGINT) AS min_c,
           CAST(max(cents) AS BIGINT) AS max_c
    FROM c GROUP BY event_type, length(bin(cents))
    """,
)
def agg_histogram_log2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG2-BUCKETED histogram (the HdrHistogram/latency-histogram
    shape): per event type, value counts in exponentially-growing
    buckets — the fixed-bucket-count summary that covers a 10^6
    dynamic range where agg_histogram_fixed's equal-width bins would
    put everything in one bin. The bucket is the BINARY DIGIT COUNT of
    the integer cents (Spark ``length(conv(c,10,2))`` ≡ DuckDB
    ``length(bin(c))``) — pure integer arithmetic, so bucket edges are
    exact powers of two with NO floating log2 whose floor() could flip
    on a boundary ulp across engines.

    Scale: a pure per-row projection + one partial-agg'd shuffle whose
    keyspace is |types| × ~40 buckets — the map side collapses
    everything, the exchange moves a few hundred rows at any corpus
    size. This is the mergeable-histogram contract: per-shard
    histograms add bucket-wise (counts sum, mins min, maxes max), so
    the 100 TB rollup is a re-aggregation of tiny summaries."""
    from kdcloganalyzer_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").where(F.col("value") > 0)
    value_c = cents("value")
    return (
        ev.select("event_type", value_c.alias("cents"))
        .groupBy(
            "event_type",
            F.length(F.conv(F.col("cents"), 10, 2))
            .cast("int")
            .alias("log2_bucket"),
        )
        .agg(
            F.count("*").alias("n"),
            F.min("cents").cast("bigint").alias("min_c"),
            F.max("cents").cast("bigint").alias("max_c"),
        )
    )


# ---------------------------------------------------------------------------
# Training-shard manifest with order-free checksums
# ---------------------------------------------------------------------------

_N_SHARDS = 8


@query(
    "pipeline_shard_manifest_checksums",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text),
                             1, 15))::BIGINT AS h60
      FROM documents
    )
    SELECT CAST(h60 % {_N_SHARDS} AS INT) AS shard,
           count(*) AS n_rows,
           CAST(bit_xor(h60) AS BIGINT) AS checksum_xor,
           min(doc_id) AS min_doc,
           max(doc_id) AS max_doc
    FROM h GROUP BY 1
    """,
)
def pipeline_shard_manifest_checksums(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TRAINING-SHARD MANIFEST with content checksums — the
    webdataset-style integrity contract for a released corpus: docs
    hash-assign to shards (md5-60bit mod N — rerun-stable), each shard
    is WRITTEN as partitioned parquet, read BACK, and the manifest
    (row count, content checksum, doc-id range per shard) is computed
    from the read-back bytes — so a silently truncated or corrupted
    shard changes its manifest row and the oracle (which computes the
    same manifest from the source table) catches it. The checksum is
    ``bit_xor`` of per-row 60-bit content hashes (md5 of doc_id|text):
    ORDER-FREE and overflow-free by construction, so it is
    deterministic under any partitioning/summation order — the same
    reasoning as the integer-cents idiom, applied to content hashing.

    Scale: the per-row hash is codegen; the manifest aggregate is
    |shards| rows; writing is shard-parallel with no skew (md5 is
    uniform). At 100 TB this IS the release-validation job: producer
    and consumer each compute the manifest and diff — kilobytes of
    state certifying terabytes of shards."""

    from kdcloganalyzer_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    h60 = F.expr(
        "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), '|', "
        "text)), 1, 15), 16, 10) AS BIGINT)"
    )
    sharded = docs.select(
        "doc_id",
        "text",
        h60.alias("h60"),
        (h60 % _N_SHARDS).cast("int").alias("shard"),
    )
    out = appcache.tempdir(prefix="corpus_shards_")
    sharded.write.mode("overwrite").partitionBy("shard").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("shard").agg(
        F.count("*").alias("n_rows"),
        F.expr("bit_xor(h60)").cast("bigint").alias("checksum_xor"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


# ---------------------------------------------------------------------------
# Explicit bloom-filter prescreen (bloom_filter_agg / might_contain)
# ---------------------------------------------------------------------------


@query(
    "join_bloom_prescreen_explicit",
    oracle="""
    SELECT e.event_type, count(*) AS n,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_c
    FROM events e
    WHERE e.user_id IN (SELECT c_custkey FROM customer
                        WHERE c_acctbal > 9500)
    GROUP BY e.event_type
    """,
)
def join_bloom_prescreen_explicit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXPLICIT bloom prescreen — the APPLICATION-level form of what
    join_bloom_runtime lets the optimizer inject: the high-value
    customer key set is aggregated into a bloom filter
    (``bloom_filter_agg``), collected driver-side (ONE bounded binary
    row — the sanctioned control pattern; a lazy 1-row cross join
    would plan a BNLJ), and embedded as a literal in a
    ``might_contain`` filter that drops non-matching events AT THE
    SCAN, before any exchange. False positives (bloom is one-sided)
    are removed by the exact semi join that follows, so the output
    equals the plain semi join the oracle computes — the bloom changes
    the PLAN (shuffle volume), never the answer.

    Why the explicit form matters at 100 TB: the optimizer's runtime
    filter only fires within one query's join; an application-managed
    bloom persists ACROSS jobs (build once from the dim snapshot,
    apply to every delta batch all day — the streaming-ingest
    prescreen), and works in places the optimizer can't see
    (foreachBatch bodies, non-join filters). Built from primitives
    because Spark does not expose ``bloom_filter_agg`` to SQL/Python:
    3 xxhash64 probes into a 16384-bit bitmap stored as 256 longs
    (``bit_or`` build aggregate, ≤256-row driver collect — bounded
    control data), embedded as ONE literal array so the probe filter
    is pure whole-stage-codegen integer arithmetic. Selectivity here:
    ~5% of customers pass the acctbal cut, so most fact rows drop
    scan-side before the exchange."""
    from kdcloganalyzer_spark.sources.tables import load_table

    m_bits, n_words, k = 16384, 256, 3
    ev = load_table(spark, sf_dir, "events")
    high = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9500)
        .select(F.col("c_custkey").alias("user_id"))
    )

    def probe(col, i):
        return F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits))

    bits = high.select(
        F.explode(
            F.array(*[probe(F.col("user_id"), i) for i in range(k)])
        ).alias("p")
    )
    words = {
        r["w"]: r["bm"]
        for r in bits.groupBy(
            (F.col("p") / 64).cast("int").alias("w")
        )
        .agg(
            F.expr("bit_or(shiftleft(1L, CAST(p % 64 AS INT)))").alias(
                "bm"
            )
        )
        .collect()
    }
    arr_sql = (
        "array("
        + ",".join(f"{words.get(w, 0)}L" for w in range(n_words))
        + ")"
    )
    cond = F.expr(
        " AND ".join(
            f"((shiftright(element_at({arr_sql}, "
            f"CAST(pmod(xxhash64(user_id, {i}), {m_bits}) div 64 AS INT)"
            f" + 1), CAST(pmod(pmod(xxhash64(user_id, {i}), {m_bits}),"
            f" 64) AS INT)) & 1L) = 1L)"
            for i in range(k)
        )
    )
    prescreened = ev.where(cond)
    return (
        prescreened.join(F.broadcast(high), "user_id", "semi")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(cents("value")).cast("bigint").alias("sum_value_c"),
        )
    )


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS (arbitrary set list, not rollup/cube)
# ---------------------------------------------------------------------------


@query(
    "agg_grouping_sets_explicit",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_c
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets_explicit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ARBITRARY GROUPING SETS — the explicit set list
    ((status), (priority), ()) that neither ROLLUP (prefix chain,
    agg_grouping_sets) nor CUBE (full lattice, agg_cube_grouping_id)
    expresses: two independent single-column breakdowns plus the grand
    total in ONE pass, skipping the (status, priority) cross that CUBE
    would also compute. Identical SQL text runs on both engines.

    Scale: compiles to one Expand (×3 — one replica per set; CUBE
    would pay ×4) + a single two-stage HashAggregate — one widened
    shuffle for all three sets; choosing the minimal set list is
    exactly how you keep the Expand factor down when a dashboard needs
    k specific breakdowns of a 100 TB fact, not the 2^n lattice."""
    from kdcloganalyzer_spark.sources.tables import load_table

    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "v_gs_orders"
    )
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS total_c
        FROM v_gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# ---------------------------------------------------------------------------
# Cryptographic hash + column-encryption function suite
# ---------------------------------------------------------------------------


@query(
    "fn_hash_crypto_suite",
    oracle="""
    SELECT doc_id,
           sha256(text) AS sha256_hex,
           md5(text) AS md5_hex,
           CAST(length(text) AS INT) AS n_plain,
           true AS aes_roundtrip_ok
    FROM documents WHERE doc_id < 200
    """,
)
def fn_hash_crypto_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic function surface — content fingerprinting
    (sha256/md5, DuckDB-identical hex) plus COLUMN-LEVEL ENCRYPTION
    (``aes_encrypt``/``aes_decrypt``): the PII-at-rest pattern where a
    sensitive column is stored encrypted and decrypted on read by key
    holders. The AES round-trip is asserted IN the result
    (decrypt(encrypt(x)) = x per row) because DuckDB has no AES to
    replay; ECB/PKCS mode keeps the demonstration deterministic (GCM,
    the production default, salts a random IV per call — right for
    storage, unverifiable by a value oracle; the docible trade-off).
    sha1/crc32 exist Spark-side but have no DuckDB twin and add no
    semantics — left out of the oracle surface deliberately.

    Scale: all four are per-row codegen expressions inside one
    projection — no shuffle, no Python; at 100 TB the only design
    question is key distribution (a literal here; a KMS callback via
    mapInPandas in production)."""
    from kdcloganalyzer_spark.sources.tables import load_table

    key = "0123456789abcdef"
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 200
    )
    enc = F.aes_encrypt(
        F.col("text"), F.lit(key), F.lit("ECB"), F.lit("PKCS")
    )
    dec = F.aes_decrypt(
        enc, F.lit(key), F.lit("ECB"), F.lit("PKCS")
    ).cast("string")
    return docs.select(
        "doc_id",
        F.sha2("text", 256).alias("sha256_hex"),
        F.md5("text").alias("md5_hex"),
        F.length("text").cast("int").alias("n_plain"),
        (dec == F.col("text")).alias("aes_roundtrip_ok"),
    )


# ---------------------------------------------------------------------------
# Curriculum-learning schedule (quality-ordered epoch)
# ---------------------------------------------------------------------------


@query(
    "pipeline_curriculum_schedule",
    oracle="""
    WITH q AS (
      SELECT doc_id,
             round(0.5 * (len(list_filter(string_split(lower(text), ' '),
                             t -> t = 'the' OR t = 'a' OR t = 'of'
                                  OR t = 'and'))::DOUBLE
                          / len(string_split(lower(text), ' ')))
                 + 0.3 * least(len(string_split(text, ' ')) / 100.0, 1.0)
                 - 0.2 * (len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))
                          ::DOUBLE / length(text)),
               4) AS quality
      FROM documents
    )
    SELECT doc_id, quality,
           CAST(row_number() OVER (
             ORDER BY quality DESC, md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS BIGINT) AS schedule_pos
    FROM q
    """,
)
def pipeline_curriculum_schedule(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CURRICULUM-LEARNING schedule: the epoch ordered cleanest-first —
    each document's global training position by descending quality
    score (the text_quality_score heuristic), with the md5(doc_id)
    hash as a deterministic within-band shuffle so equal-quality docs
    arrive in reproducible-but-unclustered order (a doc_id tie-break
    alone would feed correlated neighbors consecutively). The
    composition every staged-training run needs: quality gate →
    curriculum order → (optionally) the mixture/interleave layers this
    module provides.

    Scale: the quality score is one codegen projection; the global
    rank is the single-partition-sort chokepoint ALL epoch-ordering
    shares — the 100 TB swap is pipeline_global_shuffle's bucket-count
    offset construction or the range-shard writer
    (pipeline_interleave_sources_ranged), both already registered; at
    bench scale the window form IS the oracle-faithful reference."""
    from kdcloganalyzer_spark.functions import text as TX
    from kdcloganalyzer_spark.sources.tables import load_table
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.orderBy(
        F.desc("quality"), F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select(
            "doc_id", TX.quality_score(F.col("text")).alias("quality")
        )
        .withColumn(
            "schedule_pos", F.row_number().over(w).cast("bigint")
        )
    )


# ---------------------------------------------------------------------------
# MinHash LSH band-tuning table (S-curve measurement)
# ---------------------------------------------------------------------------


@query(
    "dedup_minhash_band_tuning",
    oracle="""
    WITH d AS (
      SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS words
      FROM documents WHERE doc_id % 3 = 0
    ), dd AS (
      SELECT doc_id, words FROM d WHERE len(words) > 0
    ), exact AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM dd a JOIN dd b ON a.doc_id < b.doc_id
      WHERE round(len(list_intersect(a.words, b.words))::DOUBLE /
                  (len(a.words) + len(b.words)
                   - len(list_intersect(a.words, b.words))), 6) >= 0.9
    ), tok AS (
      SELECT doc_id, unnest(words) AS tok FROM dd
    ), sigl AS (
      SELECT doc_id, s,
             min(('0x' || substr(md5(tok || '#' || s), 1, 15))::BIGINT) AS h
      FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS s)
      GROUP BY doc_id, s
    ), sig AS (
      SELECT doc_id, list(h ORDER BY s) AS sig FROM sigl GROUP BY doc_id
    ), cfg AS (
      SELECT * FROM (VALUES (2, 8), (4, 4), (8, 2)) AS t(n_bands, rpb)
    ), bands AS (
      SELECT c.n_bands, c.rpb, s.doc_id,
             t.b,
             array_to_string(
               list_slice(s.sig, CAST(t.b * c.rpb AS INT) + 1,
                          CAST(t.b * c.rpb AS INT) + c.rpb), ',') AS key
      FROM sig s CROSS JOIN cfg c
      CROSS JOIN unnest(range(c.n_bands)) AS t(b)
    ), cand AS (
      SELECT DISTINCT a.n_bands, a.rpb,
             a.doc_id AS id_a, c.doc_id AS id_b
      FROM bands a JOIN bands c
        ON a.n_bands = c.n_bands AND a.b = c.b AND a.key = c.key
       AND a.doc_id < c.doc_id
    ), hit AS (
      SELECT n_bands, rpb, count(*) AS n_hit
      FROM cand JOIN exact USING (id_a, id_b)
      GROUP BY n_bands, rpb
    ), nc AS (
      SELECT n_bands, rpb, count(*) AS n_candidates
      FROM cand GROUP BY n_bands, rpb
    )
    SELECT cfg.n_bands, cfg.rpb AS rows_per_band,
           CAST(coalesce(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
           CAST(coalesce(hit.n_hit, 0) AS BIGINT) AS n_hit,
           round(coalesce(hit.n_hit, 0)::DOUBLE /
                 nullif((SELECT count(*) FROM exact), 0), 6) AS recall_r
    FROM cfg
    LEFT JOIN nc ON nc.n_bands = cfg.n_bands AND nc.rpb = cfg.rpb
    LEFT JOIN hit ON hit.n_bands = cfg.n_bands AND hit.rpb = cfg.rpb
    """,
)
def dedup_minhash_band_tuning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LSH BAND-TUNING table — the S-curve design measurement behind
    every banded-MinHash deployment: with k = 16 signatures fixed,
    (bands, rows) ∈ {(2,8), (4,4), (8,2)} moves the candidate
    probability 1−(1−J^r)^b from knee≈0.85 (precise, few candidates)
    to knee≈0.30 (recall-heavy, candidate-flood). Per config it emits
    the RAW candidate-pair count (the cost axis: what the band join
    must verify) and recall of the exact Jaccard ≥ 0.9 ground truth
    (the quality axis) — the two numbers a deployment trades when
    picking its banding. Shares the md5 cross-engine hash family, so
    every candidate SET (not just the counts) is replayed exactly by
    the oracle — hash-verified index tuning, extending
    dedup_minhash_eval from one config to the design sweep.

    Scale: ONE k=16 signature build shared with the whole md5 family
    (the cached _minhash_md5_sig table — the amortized-index contract:
    dedup_minhash_pairs_md5 / _incremental / _eval and this sweep all
    read the same checkpointed signatures), three band self-joins
    whose cost IS the measured candidate count — bounded by
    band-bucket occupancy, AQE-split on boilerplate buckets; the
    exact ground truth runs once on the corpus third."""
    from kdcloganalyzer_spark.operators import dedup
    from kdcloganalyzer_spark.plans.llm_pipeline import (
        _minhash_md5_sig,
        exact_pairs_md5_slice,
    )

    exact = exact_pairs_md5_slice(spark, sf_dir)  # shared ground truth
    n_exact = exact.count()  # control scalar (bounded pair set)
    sig = _minhash_md5_sig(spark, sf_dir)  # shared k=16 md5 signatures
    parts = []
    for n_bands, rpb in ((2, 8), (4, 4), (8, 2)):
        cand = dedup.minhash_lsh_pairs(
            None,
            0.0,  # no similarity filter: RAW band candidates
            n_bands=n_bands,
            rows_per_band=rpb,
            sig=sig,
            word_hash=dedup._md5_word_hash,
            string_band_key=True,
        ).select("id_a", "id_b")
        tagged = cand.join(
            exact.withColumn("hit", F.lit(1)), ["id_a", "id_b"], "left"
        )
        parts.append(
            tagged.agg(
                F.count("*").alias("n_candidates"),
                # agg over an EMPTY frame returns sum=NULL while the
                # oracle's LEFT JOIN coalesces to 0 — coalesce here too
                # so a zero-candidate config (possible for the
                # precision-heavy (2,8) banding on small corpora)
                # hash-matches instead of leaking a NULL (ADVICE r10).
                F.coalesce(
                    F.sum(F.coalesce(F.col("hit"), F.lit(0))), F.lit(0)
                ).alias("n_hit"),
            ).select(
                F.lit(n_bands).cast("int").alias("n_bands"),
                F.lit(rpb).cast("int").alias("rows_per_band"),
                F.col("n_candidates").cast("bigint"),
                F.lit(n_exact).cast("bigint").alias("n_exact"),
                F.col("n_hit").cast("bigint"),
                F.round(
                    F.col("n_hit")
                    / F.nullif(F.lit(n_exact), F.lit(0)),
                    6,
                ).alias("recall_r"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov drift test (exact integer form)
# ---------------------------------------------------------------------------

_KS_PAIRS = (("click", "view"), ("click", "purchase"), ("view", "error"))


def _ks_pair_sql(a: str, b: str) -> str:
    return f"""
      SELECT '{a}' AS type_a, '{b}' AS type_b,
             CAST(max(abs(ca * nb - cb * na)) AS BIGINT) AS d_num,
             CAST(max(na) AS BIGINT) AS n_a,
             CAST(max(nb) AS BIGINT) AS n_b,
             round(max(abs(ca * nb - cb * na))::DOUBLE
                   / (max(na) * max(nb)), 6) AS d_stat
      FROM (
        SELECT cents,
               sum(fa) OVER w AS ca, sum(fb) OVER w AS cb,
               sum(fa) OVER () AS na, sum(fb) OVER () AS nb
        FROM (
          SELECT CAST(round(value * 100) AS BIGINT) AS cents,
                 CASE WHEN event_type = '{a}' THEN 1 ELSE 0 END AS fa,
                 CASE WHEN event_type = '{b}' THEN 1 ELSE 0 END AS fb
          FROM events WHERE event_type IN ('{a}', '{b}')
        )
        WINDOW w AS (ORDER BY cents RANGE UNBOUNDED PRECEDING)
      )
    """


@query(
    "events_ks_drift",
    oracle=" UNION ALL ".join(_ks_pair_sql(a, b) for a, b in _KS_PAIRS),
)
def events_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV–SMIRNOV drift test — the
    distribution-level data-quality gate chi-square screens
    (text_source_drift, events_benford_screen) cannot give you: KS
    compares the full CDFs, catching shape drift that preserves bucket
    masses. Computed EXACTLY: D = max|F_a − F_b| becomes
    max|c_a·n_b − c_b·n_a| over the merged value points — all BIGINT
    cross-multiplication (the chi-square integer trick applied to
    CDFs), so the supremum is order-free and engine-identical; only
    the final readout divides. The RANGE frame makes equal-value
    peers count together (the correct right-continuous empirical CDF).

    Scale (r15): ONE pass — each event row explodes into the pairs its
    type belongs to and a single (type_a, type_b)-partitioned CDF
    window replaces the old per-pair union branches (3 scans + 3
    single-partition global sorts → 1 scan + 1 exchange; the per-pair
    sorts now run in parallel partitions, and the final per-pair
    aggregate reuses the window's partitioning via the subset rule).
    At 100 TB you run KS on the per-shard equi-depth histogram
    (agg_histogram_equi_depth) instead of raw points — same statistic
    to histogram resolution."""
    from kdcloganalyzer_spark.sources.tables import load_table
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    pair_lits = ", ".join(
        f"named_struct('a', '{a}', 'b', '{b}')" for a, b in _KS_PAIRS
    )
    all_types = sorted({t for p in _KS_PAIRS for t in p})
    tagged = (
        ev.where(F.col("event_type").isin(*all_types))
        .select(
            cents("value").alias("cents"),
            "event_type",
            F.explode(
                F.expr(
                    f"filter(array({pair_lits}),"
                    " p -> p.a = event_type OR p.b = event_type)"
                )
            ).alias("p"),
        )
        .select(
            F.col("p.a").alias("type_a"),
            F.col("p.b").alias("type_b"),
            "cents",
            F.when(F.col("event_type") == F.col("p.a"), 1)
            .otherwise(0)
            .alias("fa"),
            F.when(F.col("event_type") == F.col("p.b"), 1)
            .otherwise(0)
            .alias("fb"),
        )
    )
    w = (
        Window.partitionBy("type_a", "type_b")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("type_a", "type_b")
    cum = tagged.select(
        "type_a",
        "type_b",
        F.sum("fa").over(w).alias("ca"),
        F.sum("fb").over(w).alias("cb"),
        F.sum("fa").over(wall).alias("na"),
        F.sum("fb").over(wall).alias("nb"),
    )
    return (
        cum.groupBy("type_a", "type_b")
        .agg(
            F.max(
                F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
            ).alias("mx"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
        .select(
            "type_a",
            "type_b",
            F.col("mx").cast("bigint").alias("d_num"),
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
            F.round(
                F.col("mx") / (F.col("na") * F.col("nb")).cast("double"),
                6,
            ).alias("d_stat"),
        )
    )


# ---------------------------------------------------------------------------
# kNN label-prediction evaluation over embeddings
# ---------------------------------------------------------------------------


@query(
    "embed_knn_eval",
    oracle="""
    WITH q AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb, label AS tl
      FROM embeddings WHERE vec_id < 20
    ),
    scored AS (
      SELECT q.q_id, q.tl, e.vec_id, e.label,
             round(list_cosine_similarity(q.q_emb, e.embedding::DOUBLE[]),
                   6) AS cos
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id
    ),
    top AS (
      SELECT q_id, tl, label FROM (
        SELECT q_id, tl, label,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, vec_id) AS rank
        FROM scored
      ) WHERE rank <= 10
    ),
    votes AS (
      SELECT q_id, tl, label, count(*) AS n
      FROM top GROUP BY q_id, tl, label
    ),
    pred AS (
      SELECT q_id, tl, label AS pred_label, n AS n_votes FROM (
        SELECT q_id, tl, label, n,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY n DESC, label) AS rk
        FROM votes
      ) WHERE rk = 1
    )
    SELECT q_id, CAST(tl AS INT) AS true_label,
           CAST(pred_label AS INT) AS pred_label,
           CAST(n_votes AS BIGINT) AS n_votes,
           CAST(CASE WHEN pred_label = tl THEN 1 ELSE 0 END AS INT)
             AS correct
    FROM pred
    """,
)
def embed_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN LABEL-PREDICTION evaluation — the classifier-quality readout
    of an embedding space: for 20 held-out queries, predict the label
    by majority vote of the 10 nearest neighbors (exact cosine, the
    repo's verified round-6 + vec_id tie-break idiom; vote ties break
    to the smallest label) and score against the true label. The
    standard embedding-space sanity check before trusting vectors for
    retrieval or weak labeling — and, like embed_matryoshka_eval, the
    EVALUATION itself is hash-verified, not just bounded.

    Scale: broadcast query set × corpus (one pass, 20 queries), per
    query a TakeOrdered-shaped top-k, then a |queries×labels| vote
    table — at 100 TB the neighbor search swaps to the IVF/LSH index
    path and this becomes the recurring eval job on a sample."""
    from kdcloganalyzer_spark.operators.dedup import (
        _dot,
        spread,
        with_unit_vector,
    )
    from kdcloganalyzer_spark.sources.tables import load_table
    from pyspark.sql.window import Window

    emb = with_unit_vector(
        spread(
            load_table(spark, sf_dir, "embeddings").select(
                "vec_id", "embedding", "label"
            )
        ),
        "embedding",
    ).select("vec_id", "label", "unit")
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("tl"),
        F.col("unit").alias("q_unit"),
    )
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "tl",
            "vec_id",
            "label",
            F.round(_dot(F.col("q_unit"), F.col("unit")), 6).alias("cos"),
        )
    )
    wr = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    top = (
        scored.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= 10)
        .select("q_id", "tl", "label")
    )
    votes = top.groupBy("q_id", "tl", "label").agg(
        F.count("*").alias("n")
    )
    wv = Window.partitionBy("q_id").orderBy(F.desc("n"), F.asc("label"))
    return (
        votes.withColumn("rk", F.row_number().over(wv))
        .where(F.col("rk") == 1)
        .select(
            "q_id",
            F.col("tl").cast("int").alias("true_label"),
            F.col("label").cast("int").alias("pred_label"),
            F.col("n").cast("bigint").alias("n_votes"),
            (F.col("label") == F.col("tl"))
            .cast("int")
            .alias("correct"),
        )
    )


# ---------------------------------------------------------------------------
# Difference-in-differences effect estimate (exact integer form)
# ---------------------------------------------------------------------------


@query(
    "events_did_effect",
    oracle="""
    WITH cells AS (
      SELECT CAST(user_id % 2 AS INT) AS treated,
             CAST(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                  THEN 1 ELSE 0 END AS INT) AS post,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_c,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT treated, post, sum_c, n,
             CAST(sum_c * 1000000 // n AS BIGINT) AS mean_micro
      FROM cells
    )
    SELECT treated, post, sum_c, CAST(n AS BIGINT) AS n, mean_micro,
           CAST((SELECT (max(CASE WHEN treated = 1 AND post = 1
                              THEN mean_micro END)
                       - max(CASE WHEN treated = 1 AND post = 0
                              THEN mean_micro END))
                      - (max(CASE WHEN treated = 0 AND post = 1
                              THEN mean_micro END)
                       - max(CASE WHEN treated = 0 AND post = 0
                              THEN mean_micro END))
                 FROM m) AS BIGINT) AS did_micro
    FROM m
    """,
)
def events_did_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES effect estimate — the
    quasi-experimental causal readout events_ab_test_report's
    randomized comparison can't give you when assignment isn't random:
    (treated post − treated pre) − (control post − control pre),
    differencing out both group-level baselines and the common time
    trend. Cohorts: user parity × a fixed period split. Every number
    is exact: cell sums are integer cents, cell means are scaled
    micro-unit floor divisions, and the DiD effect is a difference of
    those exact integers — order-free on both engines (the cents idiom
    carried through a 2×2 design). All four cells plus the effect ship
    in one result so the readout is auditable.

    Scale: ONE partial-agg'd pass building the 2×2 cell table
    (4 groups — the exchange moves 4 rows whatever the corpus size);
    the effect is arithmetic over the collected cells. This is the
    panel-data shape: at 100 TB the same plan with (cohort, week)
    cells feeds an event-study regression downstream."""
    from kdcloganalyzer_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.groupBy(
            (F.col("user_id") % 2).cast("int").alias("treated"),
            (F.col("ts") >= F.lit("2024-01-16").cast("timestamp"))
            .cast("int")
            .alias("post"),
        )
        .agg(
            F.sum(cents("value")).cast("bigint").alias("sum_c"),
            F.count("*").cast("bigint").alias("n"),
        )
        .withColumn(
            "mean_micro",
            F.expr("CAST(sum_c * 1000000 div n AS BIGINT)"),
        )
    )
    m = {
        (r["treated"], r["post"]): r["mean_micro"]
        for r in cells.collect()  # 4-row control table
    }
    # An sf slice with an empty (treated, post) cell must degrade to a
    # NULL effect exactly like the oracle's max(CASE ...) does — not
    # raise KeyError (ADVICE r10).
    vals = [m.get(c) for c in ((1, 1), (1, 0), (0, 1), (0, 0))]
    if any(v is None for v in vals):
        did_col = F.lit(None).cast("bigint")
    else:
        did_col = F.lit(
            int((vals[0] - vals[1]) - (vals[2] - vals[3]))
        ).cast("bigint")
    return cells.withColumn("did_micro", did_col)
