"""Round-4 training-data-pipeline extensions: cross-document duplicated
substring coverage (the exact-substring-dedup signal), RAG-style
overlapping document chunking, int8 embedding quantization, character
entropy; the streaming keyed-upsert sink is registered in
streaming_queries.py (stream_foreach_batch_upsert).

Like plans/curation.py these extend the reference's declared surface
(README.md:4-13 stops at log analytics) with operations a 100 TB
pre-training pipeline runs over `documents` / `embeddings`. Every batch
query here is DuckDB-oracle hash-checked; hot paths are whole-stage-
codegen expressions or bounded explodes — no Python UDFs.

Dialect equivalences (extending the curation.py table):
- per-element sums over arrays are ORDER-IDENTICAL across engines when
  both sides fold the same array sequentially (Spark ``aggregate`` ⇄
  DuckDB ``list_sum``/``list_reduce``) — so per-VECTOR float sums can be
  rounded tightly (1e-6), unlike cross-row aggregate sums;
- round-half-to-even vs half-away divergence is avoided by quantizing
  with ``floor(x + 0.5)`` on both sides (identical on every input);
- DuckDB ``generate_series`` takes column arguments only as the scalar
  list form — explode via ``unnest(generate_series(...))`` in the SELECT
  list, not LATERAL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kdcloganalyzer_spark.operators.dedup import spread
from kdcloganalyzer_spark.plans.registry import query
from kdcloganalyzer_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Cross-document duplicated-substring coverage (exact-substring dedup signal)
# ---------------------------------------------------------------------------
_SPAN_K = 5

# All K-gram occurrences WITH multiplicity (positions), unlike
# curation._NGRAM_EXPR which is per-doc distinct: coverage is a property
# of positions. Same arrays_zip-of-shifted-slices construction: n-grams
# as a per-position ``slice`` inside a transform lambda took 3.9 s at
# sf0.1, zipping k pre-shifted slices 1.2 s. Higher-order functions never
# enter whole-stage codegen, so per-element allocation inside them is
# what costs.
_SPAN_GRAMS = f"""
CASE WHEN size(__W__) < {_SPAN_K} THEN array()
     ELSE transform(
       arrays_zip({", ".join(
           f"slice(__W__, {i + 1}, size(__W__) - {_SPAN_K - 1})"
           for i in range(_SPAN_K))}),
       s -> concat_ws(' ', {", ".join(f"s['{i}']" for i in range(_SPAN_K))}))
END
"""


@query(
    "dedup_substring_spans",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ), g AS (
      SELECT doc_id, unnest(list_transform(
               generate_series(1, len(ws) - {_SPAN_K} + 1),
               i -> array_to_string(list_slice(
                      ws, CAST(i AS INT), CAST(i + {_SPAN_K} - 1 AS INT)),
                    ' '))) AS gram
      FROM w WHERE len(ws) >= {_SPAN_K}
    ), shared AS (
      SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) > 1
    )
    SELECT doc_id,
           count(*) AS n_grams,
           count(*) FILTER (WHERE gram IN (SELECT gram FROM shared))
             AS n_dup_grams,
           round(count(*) FILTER (WHERE gram IN (SELECT gram FROM shared))
                 ::DOUBLE / count(*), 4) AS dup_frac
    FROM g GROUP BY doc_id
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-substring coverage: the fraction of a
    document's 5-token (_SPAN_K) window positions whose window text also
    occurs in ANOTHER document — the per-token-granularity form of
    exact-substring train-set dedup (suffix-array dedup's decision
    signal), where documents above a coverage threshold are dropped or
    clipped.

    Scale: two shuffles of the gram table — (1) groupBy(gram) for the
    cross-doc distinct count, (2) the join of occurrences back onto the
    shared-gram set, which reuses the groupBy's hash partitioning on the
    aggregated side so only the occurrence side exchanges — plus the
    final partial-agg'd per-doc rollup. No pairwise doc joins anywhere:
    cost is linear in total gram occurrences, the same O(corpus tokens)
    topology MinHash banding uses. At 100 TB, ship xxhash64(gram) through
    the shuffles instead of the gram text (identical topology; the text
    form is kept here so the oracle is portable SQL)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    g = (
        docs.select("doc_id", F.split(F.lower("text"), " ").alias("ws"))
        .filter(F.size("ws") >= _SPAN_K)
        .select(
            "doc_id",
            F.explode(F.expr(_SPAN_GRAMS.replace("__W__", "ws"))).alias(
                "gram"
            ),
        )
    )
    shared = (
        g.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gram", F.lit(1).alias("hit"))
    )
    return (
        g.join(shared, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("hit").alias("n_dup_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            F.round(
                F.col("n_dup_grams").cast("double") / F.col("n_grams"), 4
            ).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Exact-substring REMOVAL rewrite (the transform behind the spans signal)
# ---------------------------------------------------------------------------


@query(
    "dedup_substring_rewrite",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ), p AS (
      SELECT doc_id, ws,
             unnest(generate_series(1, len(ws) - {_SPAN_K} + 1)) AS pos
      FROM w WHERE len(ws) >= {_SPAN_K}
    ), g AS (
      SELECT doc_id, pos,
             array_to_string(list_slice(ws, CAST(pos AS INT),
                             CAST(pos + {_SPAN_K} - 1 AS INT)), ' ') AS gram
      FROM p
    ), shared AS (
      SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) > 1
    ), cov AS (
      SELECT DISTINCT doc_id, pos + off AS cpos
      FROM g CROSS JOIN (SELECT unnest(generate_series(0, {_SPAN_K - 1}))
                         AS off) o
      WHERE gram IN (SELECT gram FROM shared)
    ), covd AS (
      SELECT doc_id, list(cpos) AS cps, count(*) AS n_cov
      FROM cov GROUP BY doc_id
    )
    SELECT w.doc_id,
           CAST(len(ws) AS BIGINT) AS n_tokens,
           CAST(coalesce(covd.n_cov, 0) AS BIGINT) AS n_removed,
           CAST(octet_length(encode(array_to_string(ws, ' ')))
                AS BIGINT) AS bytes_before,
           CAST(octet_length(encode(coalesce(array_to_string(
                  list_transform(
                    list_filter(generate_series(1, len(ws)),
                      i -> NOT list_contains(coalesce(covd.cps, []), i)),
                    i -> ws[CAST(i AS INT)]), ' '), ''))) AS BIGINT)
             AS bytes_after,
           coalesce(array_to_string(list_transform(
             list_filter(generate_series(1, len(ws)),
               i -> NOT list_contains(coalesce(covd.cps, []), i)),
             i -> ws[CAST(i AS INT)]), ' '), '') AS text_rewritten
    FROM w LEFT JOIN covd ON covd.doc_id = w.doc_id
    """,
)
def dedup_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring REMOVAL — the transform a training pipeline
    actually ships (dedup_substring_spans is its decision signal): drop
    every token position covered by a cross-document duplicated 5-token
    window and re-emit the rewritten text plus token/byte deltas (the
    clip-don't-drop form of suffix-array dedup: a doc that shares a
    boilerplate paragraph keeps its unique remainder instead of dying
    at a coverage threshold).

    Shape: the same linear gram topology as dedup_substring_spans —
    positions posexplode from the arrays_zip gram build, one
    groupBy(gram) finds cross-doc spans, covered positions fan out
    ×K and distinct per (doc, pos), then ONE per-doc array of covered
    positions joins back onto documents and the rewrite itself is a
    whole-stage-codegen filter/transform over the token array (no
    second explode of tokens, no Python). Scale: two gram shuffles +
    one doc-key join, all linear in corpus tokens; the per-doc
    rewrite is O(tokens × covered) with both factors bounded by
    document length — at 100 TB, ship xxhash64(gram) through the
    shuffles and keep raw text only in the final doc-key join, and
    skew on boilerplate grams is AQE-split exactly as in the spans
    query."""
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.split(F.lower("text"), " ").alias("ws")
    )
    g = docs.filter(F.size("ws") >= _SPAN_K).select(
        "doc_id",
        F.posexplode(F.expr(_SPAN_GRAMS.replace("__W__", "ws"))).alias(
            "pos0", "gram"
        ),
    )
    shared = (
        g.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gram")
    )
    cov = (
        g.join(shared, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.col("pos0") + 1, F.col("pos0") + _SPAN_K
                )
            ).alias("cpos"),
        )
        .distinct()
    )
    covd = cov.groupBy("doc_id").agg(
        F.collect_list("cpos").alias("cps"),
        F.count("*").alias("n_cov"),
    )
    kept = (
        "transform(filter(sequence(1, size(ws)), "
        "i -> NOT array_contains(coalesce(cps, array()), i)), "
        "i -> element_at(ws, i))"
    )
    return docs.join(covd, "doc_id", "left").select(
        "doc_id",
        F.size("ws").cast("bigint").alias("n_tokens"),
        F.coalesce("n_cov", F.lit(0)).cast("bigint").alias("n_removed"),
        F.octet_length(F.array_join("ws", " "))
        .cast("bigint")
        .alias("bytes_before"),
        F.octet_length(F.expr(f"array_join({kept}, ' ')"))
        .cast("bigint")
        .alias("bytes_after"),
        F.expr(f"array_join({kept}, ' ')").alias("text_rewritten"),
    )


# ---------------------------------------------------------------------------
# RAG-style overlapping document chunking
# ---------------------------------------------------------------------------
_CHUNK_SIZE = 64
_CHUNK_STRIDE = 48


@query(
    "pipeline_doc_chunks",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws, len(string_split(text, ' ')) AS n
      FROM documents
    ), c AS (
      SELECT doc_id, ws, n,
             1 + (greatest(n - {_CHUNK_SIZE}, 0) + {_CHUNK_STRIDE - 1})
                 // {_CHUNK_STRIDE} AS n_chunks
      FROM w
    )
    SELECT doc_id,
           CAST(unnest(generate_series(0, n_chunks - 1)) AS BIGINT) AS chunk_id,
           CAST(unnest(generate_series(0, n_chunks - 1)) * {_CHUNK_STRIDE} + 1
                AS BIGINT) AS tok_start,
           CAST(least({_CHUNK_SIZE},
                n - unnest(generate_series(0, n_chunks - 1)) * {_CHUNK_STRIDE})
                AS BIGINT) AS n_tok,
           md5(array_to_string(list_slice(ws,
               CAST(unnest(generate_series(0, n_chunks - 1))
                    * {_CHUNK_STRIDE} + 1 AS INT),
               CAST(unnest(generate_series(0, n_chunks - 1))
                    * {_CHUNK_STRIDE} + {_CHUNK_SIZE} AS INT)), ' '))
             AS chunk_md5
    FROM c
    """,
)
def pipeline_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping retrieval chunks (64-token windows, stride 48 →
    16-token overlap; _CHUNK_SIZE/_CHUNK_STRIDE): the standard RAG-index /
    long-context-eval preprocessing step. Emits (doc_id, chunk_id,
    tok_start, n_tok, md5(chunk text)) — the md5 makes the hash check
    verify chunk CONTENT, not just chunk arithmetic.

    Scale: pure map with a bounded explode (≤ n/stride chunks per doc,
    each token appears in ≤ 2 chunks) — zero shuffles, pipelined with the
    scan; chunk ids are per-doc so no global coordination. The per-chunk
    ``slice`` cost is fine here (chunks don't overlap much, unlike
    n-grams, which slice at every position — see ``_SPAN_GRAMS`` for why
    they zip shifted slices instead)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    n = F.size("ws")
    n_chunks = 1 + F.expr(
        f"(greatest(size(ws) - {_CHUNK_SIZE}, 0) + {_CHUNK_STRIDE - 1}) "
        f"div {_CHUNK_STRIDE}"
    )
    start = F.col("chunk_id") * _CHUNK_STRIDE + 1
    return (
        docs.select("doc_id", F.split("text", " ").alias("ws"))
        .select(
            "doc_id",
            "ws",
            n.alias("n"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            start.cast("bigint").alias("tok_start"),
            F.least(F.lit(_CHUNK_SIZE), F.col("n") - (start - 1))
            .cast("bigint")
            .alias("n_tok"),
            F.md5(
                F.concat_ws(" ", F.slice("ws", start, F.lit(_CHUNK_SIZE)))
            ).alias("chunk_md5"),
        )
    )


# ---------------------------------------------------------------------------
# int8 embedding quantization
# ---------------------------------------------------------------------------
@query(
    "embed_quantize_int8",
    oracle="""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), s AS (
      SELECT vec_id, v,
             nullif(list_max(list_transform(v, x -> abs(x))), 0.0) / 127.0
               AS scale
      FROM v
    )
    SELECT vec_id,
           round(scale, 6) AS scale_r,
           CAST(list_sum(list_transform(v, x -> floor(x / scale + 0.5)))
                AS BIGINT) AS q_sum,
           round(list_sum(list_transform(v,
                 x -> (x - floor(x / scale + 0.5) * scale)
                      * (x - floor(x / scale + 0.5) * scale))), 6) AS sse_r
    FROM s
    """,
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column —
    the storage/serving compression step of an embedding pipeline:
    scale = max|x| / 127, q_i = floor(x_i/scale + 0.5) ∈ [-127, 127],
    reported as (scale, Σq checksum, reconstruction SSE).

    Scale: a pure map over the embedding scan — zero shuffles, one
    codegen stage; per-vector folds are O(d). The quantized checksum is
    integer-exact; the SSE fold is order-identical across engines (both
    fold the array sequentially) so a 1e-6 rounding holds — this is the
    per-row-sum exception to the round-coarsely rule for float
    aggregates. ``floor(x+0.5)`` (not round()) keeps half-way behavior
    identical across engines; all-zero vectors surface as NULLs via the
    nullif'd scale rather than NaNs."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    v = F.transform("embedding", lambda x: x.cast("double"))
    d = emb.select("vec_id", v.alias("v")).select(
        "vec_id",
        "v",
        (
            F.nullif(
                F.array_max(F.transform("v", F.abs)), F.lit(0.0)
            )
            / 127.0
        ).alias("scale"),
    )

    def q(x):
        return F.floor(x / F.col("scale") + 0.5)

    sse = F.aggregate(
        "v",
        F.lit(0.0),
        lambda acc, x: acc + (x - q(x) * F.col("scale")) * (x - q(x) * F.col("scale")),
    )
    return d.select(
        "vec_id",
        F.round("scale", 6).alias("scale_r"),
        F.aggregate("v", F.lit(0.0), lambda acc, x: acc + q(x))
        .cast("bigint")
        .alias("q_sum"),
        F.round(sse, 6).alias("sse_r"),
    )


# ---------------------------------------------------------------------------
# Character entropy (quality signal)
# ---------------------------------------------------------------------------
@query(
    "text_char_entropy",
    oracle="""
    WITH c AS (
      SELECT doc_id, string_split(lower(text), '') AS cs,
             len(string_split(lower(text), '')) AS n
      FROM documents WHERE length(text) > 0
    )
    SELECT doc_id,
           CAST(len(list_distinct(cs)) AS BIGINT) AS n_distinct_chars,
           round(-list_sum(list_transform(list_distinct(cs),
                 u -> (len(list_filter(cs, x -> x = u))::DOUBLE / n)
                      * log2(len(list_filter(cs, x -> x = u))::DOUBLE / n))),
                 4) AS entropy
    FROM c
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon character entropy per document — the cheap gibberish /
    base64-blob / mojibake detector (low-entropy boilerplate and
    high-entropy random blobs both sit far from natural-language ~4.2
    bits/char).

    Scale: per-row fold over the char array (O(alphabet·n) per doc,
    alphabet-bounded), zero shuffles — same pure-map shape as the Gopher
    repetition gate, NOT a char-explode (which would inflate a 100 TB
    scan by ~100 rows/doc-token before aggregating it right back down).
    Distinct-char iteration order differs across engines, so the float
    sum is rounded at 1e-4, not 1e-6."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    cs = F.split(F.lower("text"), "")
    d = docs.filter(F.length("text") > 0).select(
        "doc_id", cs.alias("cs"), F.size(cs).alias("n")
    )

    def p(u):
        return F.size(F.filter("cs", lambda x: x == u)).cast("double") / F.col(
            "n"
        )

    entropy = -F.aggregate(
        F.array_distinct("cs"),
        F.lit(0.0),
        lambda acc, u: acc + p(u) * F.log2(p(u)),
    )
    return d.select(
        "doc_id",
        F.size(F.array_distinct("cs")).cast("bigint").alias(
            "n_distinct_chars"
        ),
        F.round(entropy, 4).alias("entropy"),
    )


# ---------------------------------------------------------------------------
# Deterministic stratified train/val/test split
# ---------------------------------------------------------------------------
@query(
    "pipeline_train_val_test",
    oracle="""
    WITH h AS (
      SELECT doc_id, lang, source,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               AS hkey
      FROM documents
    ), r AS (
      SELECT doc_id, lang, source, hkey,
             row_number() OVER (PARTITION BY lang, source
                                ORDER BY hkey, doc_id) AS rk,
             count(*) OVER (PARTITION BY lang, source) AS n
      FROM h
    )
    SELECT doc_id, lang, source,
           CASE WHEN rk <= CAST(floor(0.8 * n) AS BIGINT) THEN 'train'
                WHEN rk <= CAST(floor(0.9 * n) AS BIGINT) THEN 'val'
                ELSE 'test' END AS split
    FROM r
    """,
)
def pipeline_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC STRATIFIED TRAIN/VAL/TEST SPLIT — the assignment
    every training pipeline makes exactly once and must never change
    under re-runs, repartitioning, or corpus append-order: docs are
    ranked WITHIN each (lang, source) stratum by a content-independent
    md5 key (the cross-engine 60-bit idiom) and cut at exact 80/10/10
    per-stratum fractions — rank-based, so every stratum hits its
    fractions exactly (a bare hash-mod split only hits them in
    expectation, ±sqrt(n) per stratum, which starves small strata).
    The md5 rank order is stable under any row order, so the split is
    reproducible from the corpus alone — no seed state to persist.

    Scale: one window partitioned by stratum (shuffle on the stratum
    key, each stratum sorts independently — parallelism = #strata,
    AQE-splittable if one language dominates); no global sort, no
    driver state. At 100 TB with few huge strata, swap the exact
    per-stratum rank for the hash-mod form (pure map, no shuffle) and
    accept the sqrt(n) drift — at a billion docs per stratum the drift
    is 0.003%, which is why BOTH forms exist in practice."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    hkey = F.expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10)"
        " AS BIGINT)"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang", "source").orderBy("hkey", "doc_id")
    wc = Window.partitionBy("lang", "source")
    r = docs.select("doc_id", "lang", "source", hkey.alias("hkey")).select(
        "doc_id",
        "lang",
        "source",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(wc).alias("n"),
    )
    return r.select(
        "doc_id",
        "lang",
        "source",
        F.when(
            F.col("rk") <= F.floor(0.8 * F.col("n")).cast("bigint"),
            F.lit("train"),
        )
        .when(
            F.col("rk") <= F.floor(0.9 * F.col("n")).cast("bigint"),
            F.lit("val"),
        )
        .otherwise(F.lit("test"))
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# Deterministic distributed global shuffle (training-order permutation)
# ---------------------------------------------------------------------------
@query(
    "pipeline_global_shuffle",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             ('0x' || substr(md5('seed42#' || CAST(doc_id AS VARCHAR)),
                             1, 15))::BIGINT AS hkey
      FROM documents
    )
    SELECT doc_id,
           row_number() OVER (ORDER BY hkey, doc_id) - 1 AS pos
    FROM h
    """,
)
def pipeline_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC GLOBAL SHUFFLE — the seeded whole-corpus
    permutation that fixes a training run's example order: position =
    rank of md5(seed # doc_id). The oracle states it as one global
    row_number window; executing THAT plan is a single-partition sort
    — the canonical scale-killer — so the Spark side composes exact
    global positions WITHOUT any global sort:

      bucket   = hkey >> 48  (top 12 bits of the 60-bit key — order-
                 preserving range partitioning with pre-known, uniform
                 bounds: md5 bits are i.i.d., no sampling pass needed)
      offsets  = per-bucket counts, cumulated driver-side (≤4096 rows —
                 bounded control data, the sanctioned scalar pattern)
      pos      = bucket_offset + (rank within bucket − 1)

    Within-bucket ranks come from one window partitioned by bucket
    (every bucket sorts independently); concatenating buckets in key
    order IS the global order because bucketing preserves it. This is
    how distributed engines implement ORDER BY + row_number at scale —
    made explicit because Spark's window operator would otherwise
    collapse to one partition.

    Scale: one shuffle on bucket (4096-way at any corpus size — retune
    the shift to corpus/partition budget), a 4096-row driver aggregate,
    zero skew by construction (hash uniformity), and the permutation is
    reproducible from (corpus, seed) alone. Epoch re-shuffles = new
    seed literal."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    hkey = F.expr(
        "CAST(conv(substring(md5(concat('seed42#', CAST(doc_id AS STRING))),"
        " 1, 15), 16, 10) AS BIGINT)"
    )
    h = docs.select("doc_id", hkey.alias("hkey")).withColumn(
        "bucket", F.shiftright("hkey", 48)  # 60-bit key → 12 top bits
    )
    counts = {
        r["bucket"]: r["n"]
        for r in h.groupBy("bucket").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = [], 0
    for b in range(4096):
        offsets.append(acc)
        acc += counts.get(b, 0)
    from pyspark.sql import Window

    w = Window.partitionBy("bucket").orderBy("hkey", "doc_id")
    # Dense 4096-entry offsets array as ONE parsed SQL literal (the
    # _literal_matrix lesson: per-element F.lit costs a py4j round trip
    # each — seconds of driver time for thousands of literals).
    off_expr = F.expr(
        "array(" + ",".join(f"{o}L" for o in offsets) + ")[bucket]"
    )
    return h.select(
        "doc_id",
        (off_expr + F.row_number().over(w) - 1).cast("bigint").alias("pos"),
    )
