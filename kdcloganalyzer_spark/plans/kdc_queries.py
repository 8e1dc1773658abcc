"""Tier-1/Tier-2 KDC log queries (SURVEY.md §2.1, §2.2).

These run on the deterministic synthetic Heimdal logs (sources/kdc_synth.py)
scaled to the driver's sf. The parsed records are ALSO materialized to a
deterministic parquet path per sf (``kdc_records_parquet``), which lets the
driver's DuckDB oracle hash-verify the Tier-2 headline queries — the
reference's README.md:4-13 workload — instead of the weaker rows-only
check; record-LEVEL parse semantics stay pinned by the golden-fixture
pytest suite (tests/test_kdc_parser.py, tests/test_kdc_queries.py).

The parsed `kdc_records` DataFrame is a lineage-cut checkpoint per
(session, sf) — parse once, query many, exactly how a production
deployment would materialize the records table before fanning out
queries. Each report plans over the checkpointed rows, not over the
sessionizer that built them.

The README report family reads one tagged pass over those records,
``_report_bundle``, as the reference computes its per-user and
per-service stats in one pass (``u:``/``s:``-tagged keys,
kdcmapper.pl:38-52, merged as ``UserTimeRec`` min/min, max/max and
sum, UserTimeRec.java:120-126, UserTimeCombiner.java:23-31). Each
record emits one ``(tag, a, b)`` entry per tag whose filter it passes,
and the bundle holds ``min/max(ts)``, ``min/max(ts_raw)`` and the count
per entry. Which records count toward which report is decided here only:

- ``u``: valid ∧ success ∧ AUTH; a = client, b = 'referral' or NULL
  (NULL: the mapper's accept path, UserTimeMapper.java:27-49);
- ``s``: valid ∧ success ∧ TGS; a = service;
- ``p``: valid ∧ success ∧ TGS; a = client, b = service;
- ``e``: ¬success; a = error_class, 'Missing Pre-authentication' if NULL;
- ``c``: every record; a = its counter reason (UserTimeMapper.java:28-48);
- ``user`` / ``service`` / ``host``: valid; a = client / service / client_ip.

The partials are mergeable, so the ids that re-key them
(``agg_tagged_union``, ``users_few_services``) merge with the same
algebra.
"""

from __future__ import annotations

from kdcloganalyzer_spark import appcache

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kdcloganalyzer_spark.operators.sessionize import sessionize
from kdcloganalyzer_spark.plans.registry import query
from kdcloganalyzer_spark.sources.kdc_log import read_log_lines, read_log_lines_raw
from kdcloganalyzer_spark.sources.kdc_synth import (
    n_records_for_sf,
    synth_dir_for_sf,
    synth_path_for_sf,
)

# Bump whenever the parser/sessionizer output changes; the path ALSO
# embeds the synth corpus's own versioned dir name, so regenerating or
# re-versioning the corpus (kdc_synth.py) auto-invalidates these records
# without anyone having to remember a second bump.
#
# WHOLE-SECOND INVARIANT: `ts` is parsed from the raw log's second-
# precision string, so rows tied on tsu share an IDENTICAL ts. Queries
# lean on this for tie-safety — kdc_account_lockout's
# first_lockout = min(ts) is deterministic under same-second ties only
# because tied rows have equal ts. If the parser ever gains sub-second
# precision, bump this AND rework min(ts)-style aggregates to key on
# tsu (or the whole-second floor) instead.
RECORDS_VERSION = 1


def records_path_for_sf(sf_dir: str) -> str:
    """Deterministic materialized-records dir for an sf, derived from the
    synth corpus path (single owner of the sf→n_records sizing rule)."""
    synth = os.path.basename(synth_path_for_sf(sf_dir))  # kdc_synth_v2_<n>
    return f"/tmp/kdc_records_r{RECORDS_VERSION}_{synth}"


# The driver's correctness gate runs at sf0.01; its oracle SQL strings are
# static, so they read the records materialized for THAT sf. The local
# pytest harness substitutes its own sf path (tests/test_queries_oracle.py).
DRIVER_RECORDS_GLOB = records_path_for_sf("/root/testdata/sf0.01") + "/*.parquet"
_R = f"read_parquet('{DRIVER_RECORDS_GLOB}')"

# The raw synth corpus, as DuckDB sees it: delimiter-free read_csv turns
# each line into one row (quote disabled — log text is not CSV), .gz
# decompressed transparently — which lets the scan-layer queries be
# hash-verified too, not just the record-level ones.
DRIVER_SYNTH_DIR = synth_path_for_sf("/root/testdata/sf0.01")


def _lines_sql(globs: str) -> str:
    # delim is a literal 0x01 byte (never occurs in log text), making
    # read_csv a plain line reader; DuckDB rejects multi-byte delims, so
    # no escape syntax — the raw control character goes into the SQL.
    return (
        f"read_csv([{globs}], header=false, quote='', delim='{chr(1)}', "
        "filename=true, columns={'line': 'VARCHAR'})"
    )


_LINES_ALL = _lines_sql(
    f"'{DRIVER_SYNTH_DIR}/*.log', '{DRIVER_SYNTH_DIR}/*.log.gz'"
)
_LINES_GZ = _lines_sql(f"'{DRIVER_SYNTH_DIR}/*.log.gz'")


def kdc_records_parquet(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the parsed records once per sf (``appcache.stage``);
    ts is written as TIMESTAMP_NTZ so DuckDB reads the same naive-UTC
    wall values Spark's UTC session collects."""

    def build(out: str) -> None:
        # Output file sizing (r16, guide §6): the sessionizer's natural
        # write produced 18 ~200 KB files at sf0.1 and EVERY records
        # consumer (≈80 kdc ids) paid 18 scan tasks per pass — measured
        # 0.42 → 0.24 s per records aggregate after compaction. Width
        # scales with the corpus (~2M records ≈ 100 MB per file, n from
        # kdc_synth's sizing rule); repartition (not coalesce) keeps the
        # one-time parse itself parallel. Row content unchanged — no
        # RECORDS_VERSION bump.
        n_rec = n_records_for_sf(sf_dir)
        _persisted_records(spark, sf_dir).withColumn(
            "ts", F.col("ts").cast("timestamp_ntz")
        ).repartition(max(1, n_rec // 2_000_000)).write.mode(
            "overwrite"
        ).parquet(out)

    return appcache.stage(records_path_for_sf(sf_dir), build)


# Every id in this module reads through the lineage-cut checkpoint, so
# the bench's min-of-N COLD protocol evicts it for any of them: a
# re-sample then re-pays the sessionize. A persist() here would keep the
# sessionizer as the cache's plan, and every report would re-plan and
# re-render it (~24k characters of plan text per one-line aggregate);
# the checkpoint's plan is a scan of its rows. Its blocks are freed when
# the JVM collects the evicted RDD. The on-disk records parquet is not
# touched: it is a deployment artifact (the oracle twin), not in-process
# amortization.
@appcache.memo(readers=__name__)
def _persisted_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    log_dir = synth_dir_for_sf(sf_dir)
    recs = sessionize(read_log_lines_raw(spark, log_dir)).localCheckpoint(
        eager=True
    )
    # A checkpoint reports UnknownPartitioning. When AQE coalesced the
    # sessionize output to one partition (small corpora), say so: a
    # report's aggregate or window over a SinglePartition child needs no
    # exchange, so it runs as one stage. Coalescing one partition moves
    # no data; a wider checkpoint keeps its width.
    if recs.rdd.getNumPartitions() == 1:
        recs = recs.coalesce(1)
    return recs


def kdc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _persisted_records(spark, sf_dir)
    # Materialize the oracle twin while the parse is hot: every
    # oracle-backed KDC query constructed in this session can then
    # assume the DuckDB side exists.
    kdc_records_parquet(spark, sf_dir)
    return df


def _accepted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapper's accept path (UserTimeMapper.java:27-49): valid ∧ success
    ∧ AUTH ∧ ¬referral."""
    r = kdc_records(spark, sf_dir)
    return r.filter(
        F.col("valid")
        & F.col("success")
        & (F.col("req_type") == "AUTH")
        & ~F.col("referral")
    )


# One aggregate serves the README report family (module docstring). It
# has the records' readers, so the bench's cold protocol evicts both
# memos for any KDC id, and it is lineage-cut like the records: each
# report plans over the bundle's rows.
@appcache.memo(readers=__name__)
def _report_bundle(spark: SparkSession, sf_dir: str) -> DataFrame:
    ok = F.col("valid") & F.col("success")
    auth, tgs = ok & (F.col("req_type") == "AUTH"), ok & (F.col("req_type") == "TGS")
    error = F.coalesce(F.col("error_class"), F.lit("Missing Pre-authentication"))
    reason = (
        F.when(~F.col("valid"), F.lit("Invalid"))
        .when(~F.col("success"), F.concat(F.lit("Failed:"), error))
        .when(F.col("req_type") != "AUTH", F.lit("Request Type"))
        .when(F.col("referral"), F.lit("Referral"))
        .otherwise(F.lit("Accepted"))
    )
    none = F.lit(None).cast("string")
    entries = (  # tag, filter, a, b (referral is never NULL: sessionize)
        ("u", auth, F.col("client"), F.when(F.col("referral"), F.lit("referral"))),
        ("s", tgs, F.col("service"), none),
        ("p", tgs, F.col("client"), F.col("service")),
        ("e", ~F.col("success"), error, none),
        ("c", F.lit(True), reason, none),
        ("user", F.col("valid"), F.col("client"), none),
        ("service", F.col("valid"), F.col("service"), none),
        ("host", F.col("valid"), F.col("client_ip"), none),
    )
    tagged = F.array(*[
        F.when(cond, F.struct(F.lit(t).alias("tag"), a.alias("a"), b.alias("b")))
        for t, cond, a, b in entries
    ])
    r = kdc_records(spark, sf_dir)
    bundle = (
        r.select(F.explode(tagged).alias("k"), "ts", "ts_raw")
        .where(F.col("k").isNotNull())
        .groupBy("k.tag", "k.a", "k.b")
        .agg(
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.min("ts_raw").alias("first_raw"),
            F.max("ts_raw").alias("last_raw"),
            F.count("*").alias("n"),
        )
        .localCheckpoint(eager=True)
    )
    if bundle.rdd.getNumPartitions() == 1:  # as _persisted_records
        bundle = bundle.coalesce(1)
    return bundle


def _tagged(spark: SparkSession, sf_dir: str, where, key: str, *cols) -> DataFrame:
    """The bundle rows ``where`` selects, ``a`` named ``key``, then ``cols``."""
    rows = _report_bundle(spark, sf_dir).where(where)
    return rows.select(F.col("a").alias(key), *cols)


def _accepted_users(spark: SparkSession, sf_dir: str, *cols) -> DataFrame:
    """Per client over ``_accepted``: the ``u`` rows without a referral."""
    where = (F.col("tag") == "u") & F.col("b").isNull()
    return _tagged(spark, sf_dir, where, "client", *cols)


# --- Tier 1: the pipeline stages as inspectable queries ---------------------


@query("sessionize_multiline")
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-line record assembly (KDCLogRecordReader.java:208-324).
    Rows-only BY CHOICE: the materialized oracle parquet is written from
    this very query's output, so a same-session hash match would be
    circular — the records' content is instead verified three
    independent ways: ``sessionize_split_parallel`` (an independent
    assembly strategy hash-compared against this one's materialization),
    the golden parser tests, and a from-scratch imperative
    state-machine reimplementation of the reference reader compared as
    full-corpus record multisets
    (tests/test_sessionize_reference_parity.py)."""
    return kdc_records(spark, sf_dir).drop("enctypes")  # stable flat schema


@query(
    "sessionize_split_parallel",
    oracle=f"""
    SELECT ts, ts_raw, req_type, client, crealm, service, srealm, client_ip,
           valid, success, referral, error_class, error, chosen_enctype
    FROM {_R}
    """,
)
def q_sessionize_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-parallel record assembly (SURVEY.md §4.3 single-huge-file
    fallback; operators/sessionize.py:sessionize_split_parallel): same
    records as the window-based sessionizer, parallelism = #byte-range
    splits. The oracle is the MATERIALIZED output of the window path, so
    the driver hash-verifies the two assembly strategies against each
    other; split-boundary stitching itself is pinned by
    tests/test_split_parallel.py with forced 4 KB splits."""
    from kdcloganalyzer_spark.operators.sessionize import (
        sessionize_split_parallel,
    )

    kdc_records_parquet(spark, sf_dir)  # ensure the oracle twin exists
    recs = sessionize_split_parallel(
        read_log_lines_raw(spark, synth_dir_for_sf(sf_dir))
    )
    return recs.drop("enctypes")


@query(
    "scan_text_splittable",
    oracle=f"""
    SELECT parse_filename(filename) AS file, count(*) AS n_lines,
           count(*) AS max_line_no
    FROM {_LINES_ALL} GROUP BY 1
    """,
)
def q_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-correct text scan with per-file line numbers
    (KDCLogRecordReader.java:163-206 equivalent; Spark's text source).
    Grouped by basename so the DuckDB twin (read_csv with a never-
    occurring delimiter = line reader) can hash-verify counts; per-file
    max(line_no) must equal count(*) because row_number is contiguous —
    line ORDER itself is pinned by the golden parser tests."""
    lines = read_log_lines(spark, synth_dir_for_sf(sf_dir))
    # group on the raw path, basename-project AFTER the aggregation —
    # the regex then runs once per file, not once per line.
    return (
        lines.groupBy("file")
        .agg(
            F.count("*").alias("n_lines"),
            F.max("line_no").alias("max_line_no"),
        )
        .select(
            F.regexp_extract("file", r"([^/]+)$", 1).alias("file"),
            "n_lines",
            "max_line_no",
        )
    )


@query(
    "scan_compressed",
    oracle=f"""
    SELECT parse_filename(filename) AS file, count(*) AS n_lines
    FROM {_LINES_GZ} GROUP BY 1
    """,
)
def q_scan_compressed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-by-extension scan (CustomFileInputFormat.java:34-42 equivalent):
    the synth dir's last file is gzip — same records either way; DuckDB
    decompresses the same file for the count twin."""
    lines = read_log_lines(spark, synth_dir_for_sf(sf_dir) + "/*.gz")
    return (
        lines.groupBy("file")
        .agg(F.count("*").alias("n_lines"))
        .select(
            F.regexp_extract("file", r"([^/]+)$", 1).alias("file"), "n_lines"
        )
    )


@query(
    "parse_regex_header",
    oracle=f"""
    SELECT ts_raw, req_type, client, crealm, service, srealm, client_ip
    FROM {_R} WHERE valid
    """,
)
def q_parse_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-group header extraction (KDCLogRecordReader.java:47-54,234-266)."""
    return kdc_records(spark, sf_dir).filter(F.col("valid")).select(
        "ts_raw", "req_type", "client", "crealm", "service", "srealm", "client_ip"
    )


@query(
    "classify_error_substring",
    oracle=f"""
    SELECT error_class, count(*) AS n FROM {_R}
    WHERE error_class IS NOT NULL GROUP BY error_class
    """,
)
def q_classify_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-wins substring classification (§2.4 taxonomy;
    KDCLogRecordReader.java:270-309)."""
    return (
        kdc_records(spark, sf_dir)
        .filter(F.col("error_class").isNotNull())
        .groupBy("error_class")
        .agg(F.count("*").alias("n"))
    )


@query(
    "derive_success",
    oracle=f"""
    SELECT req_type, success, count(*) AS n FROM {_R}
    GROUP BY req_type, success
    """,
)
def q_derive_success(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-needs-preauth / TGS-presumed success derivation
    (KDCLogRecordReader.java:246-258,270-271)."""
    return (
        kdc_records(spark, sf_dir)
        .groupBy("req_type", "success")
        .agg(F.count("*").alias("n"))
    )


@query(
    "filter_predicates",
    oracle=f"""
    SELECT client, ts_raw FROM {_R}
    WHERE valid AND success AND req_type = 'AUTH' AND NOT referral
    """,
)
def q_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 4 rejection predicates (UserTimeMapper.java:27-49), as the
    surviving-record projection."""
    return _accepted(spark, sf_dir).select("client", "ts_raw")


@query(
    "filter_realm_literal",
    oracle=f"""
    SELECT crealm, count(*) AS n FROM {_R}
    WHERE crealm = 'EXAMPLE.ORG' GROUP BY crealm
    """,
)
def q_filter_realm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realm equality filter — parameterized, default the synth realm
    (perl kdcmapper.pl:38,42 hardcodes ANDREW.CMU.EDU; quirk B6)."""
    return (
        kdc_records(spark, sf_dir)
        .filter(F.col("crealm") == "EXAMPLE.ORG")
        .groupBy("crealm")
        .agg(F.count("*").alias("n"))
    )


@query(
    "project_narrow",
    oracle=f"""
    SELECT client, ts_raw FROM {_R}
    WHERE valid AND success AND req_type = 'AUTH' AND NOT referral
    ORDER BY client NULLS FIRST, ts_raw NULLS FIRST LIMIT 1000
    """,
)
def q_project_narrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Narrow projection pre-shuffle (UserTimeMapper.java:51-56); Catalyst
    ColumnPruning pushes this into the scan, and the bounded preview is
    a TakeOrderedAndProject (no global sort materialization). The limit
    is ordered by the FULL projected row, so the selected multiset is
    deterministic — ties at the cut are identical rows — which is what
    makes the head hash-verifiable (a bare limit(1000) was rows-only).
    NULL ordering is explicit on both sides: Spark's ASC default is
    NULLS FIRST, DuckDB's is NULLS LAST, and ts_raw can be NULL on an
    accepted record whose ts line had no leading timestamp."""
    return (
        _accepted(spark, sf_dir)
        .select("client", "ts_raw")
        .orderBy(F.asc_nulls_first("client"), F.asc_nulls_first("ts_raw"))
        .limit(1000)
    )


_USER_TIME_SQL = f"""
    SELECT client, min(ts) AS first_ts, max(ts) AS last_ts, count(*) AS n
    FROM {_R}
    WHERE valid AND success AND req_type = 'AUTH' AND NOT referral
    GROUP BY client
    """


@query("first_last_auth_per_user", oracle=_USER_TIME_SQL)
def q_user_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship user_time aggregate (UserTimeReducer.java:23-31,
    README.md:6-7) with intended min/max semantics (quirk B1)."""
    return _accepted_users(spark, sf_dir, "first_ts", "last_ts", "n")


@query("agg_partial_combiner", oracle=_USER_TIME_SQL)
def q_partial_combiner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-side partial aggregation (UserTimeCombiner.java:23-31): the
    bundle's per-key (min, max, count) partials are the combiner's
    output, merged once in ``_report_bundle``'s aggregate."""
    return _accepted_users(spark, sf_dir, "first_ts", "last_ts", "n")


@query("agg_sorted_stream", oracle=_USER_TIME_SQL)
def q_sorted_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-based group aggregation (perl kdcreduce.pl:19-40): the same
    groups as the hash path, in the perl reducer's column order
    (quirk B7: count first)."""
    return _accepted_users(spark, sf_dir, "n", "first_ts", "last_ts")


@query(
    "agg_tagged_union",
    oracle=f"""
    WITH r AS (SELECT * FROM {_R})
    SELECT key, count(*) AS n, min(ts_raw) AS first_ts, max(ts_raw) AS last_ts
    FROM (
      SELECT 'u:' || client AS key, ts_raw FROM r
      WHERE valid AND success AND req_type = 'AUTH'
      UNION ALL
      SELECT 's:' || service AS key, ts_raw FROM r
      WHERE valid AND success AND req_type = 'TGS'
    ) GROUP BY key
    """,
)
def q_tagged_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two keyspaces in one pass, 'u:'/'s:'-tagged (perl kdcmapper.pl:38-52):
    successful-preauth users ∪ completed-TGS services: the bundle's ``u``
    rows (referral or not) and ``s`` rows, merged per key. A NULL client
    and a NULL service share the NULL key, as in the oracle's union."""
    b = _report_bundle(spark, sf_dir).where(F.col("tag").isin("u", "s"))
    return b.groupBy(F.concat("tag", F.lit(":"), "a").alias("key")).agg(
        F.sum("n").alias("n"),
        F.min("first_raw").alias("first_ts"),
        F.max("last_raw").alias("last_ts"),
    )


@query(
    "agg_enctype_dim",
    oracle=f"""
    SELECT client || '/' || coalesce(chosen_enctype, 'UNK') AS key,
           count(*) AS n, min(ts_raw) AS first_ts, max(ts_raw) AS last_ts
    FROM {_R}
    WHERE valid AND success AND req_type = 'AUTH' AND NOT referral
    GROUP BY 1
    """,
)
def q_enctype_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enctype-extended grouping key (perl kdcmapper-with-enctypes.pl:39-57):
    user/chosen-enctype per successful AS-REQ."""
    return (
        _accepted(spark, sf_dir)
        .withColumn(
            "key",
            F.concat_ws(
                "/", F.col("client"), F.coalesce(F.col("chosen_enctype"), F.lit("UNK"))
            ),
        )
        .groupBy("key")
        .agg(
            F.count("*").alias("n"),
            F.min("ts_raw").alias("first_ts"),
            F.max("ts_raw").alias("last_ts"),
        )
    )


@query(
    "agg_enctype_service_dim",
    oracle=f"""
    SELECT service || '/' || enctypes[1] || '/' || enctypes[-1] || '/' ||
           coalesce(chosen_enctype, 'UNK') AS key,
           count(*) AS n, min(ts_raw) AS first_ts, max(ts_raw) AS last_ts
    FROM {_R}
    WHERE valid AND success AND req_type = 'TGS' AND enctypes IS NOT NULL
    GROUP BY 1
    """,
)
def q_enctype_service_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service-side enctype key (perl kdcmapper-with-enctypes.pl:39-57):
    service/firstSupported/lastSupported/chosen per completed TGS — first
    and last of the client's supported-enctype list plus the one the KDC
    chose, slash-joined exactly as the perl mapper emits it."""
    r = kdc_records(spark, sf_dir)
    with_enc = r.filter(
        F.col("valid")
        & F.col("success")
        & (F.col("req_type") == "TGS")
        & F.col("enctypes").isNotNull()
    )
    key = F.concat_ws(
        "/",
        F.col("service"),
        F.element_at("enctypes", 1),
        F.element_at("enctypes", -1),
        F.coalesce(F.col("chosen_enctype"), F.lit("UNK")),
    )
    return with_enc.groupBy(key.alias("key")).agg(
        F.count("*").alias("n"),
        F.min("ts_raw").alias("first_ts"),
        F.max("ts_raw").alias("last_ts"),
    )


@query(
    "counters_observe",
    oracle=f"""
    SELECT CASE
             WHEN NOT valid THEN 'Invalid'
             WHEN NOT success THEN 'Failed:' ||
               coalesce(error_class, 'Missing Pre-authentication')
             WHEN req_type <> 'AUTH' THEN 'Request Type'
             WHEN referral THEN 'Referral'
             ELSE 'Accepted'
           END AS reason, count(*) AS n
    FROM {_R} GROUP BY 1
    """,
)
def q_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's side-channel counters (UserTimeMapper.java:27-49),
    expressed as an oracle-checkable companion query (SURVEY.md §5.2):
    reject_reason × count, including the 'Missing Pre-authentication'
    relabeling of errorless failures (UserTimeMapper.java:35-39): the
    bundle's ``c`` rows."""
    return _tagged(spark, sf_dir, F.col("tag") == "c", "reason", "n")


@query(
    "sink_tsv_text",
    oracle=f"""
    SELECT client,
           CAST(min(ts) AS VARCHAR) AS first_ts,
           CAST(max(ts) AS VARCHAR) AS last_ts,
           count(*) AS n
    FROM {_R}
    WHERE valid AND success AND req_type = 'AUTH' AND NOT referral
    GROUP BY client
    """,
)
def q_sink_tsv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TSV text sink (UserTimeRunner.java:42-46, UserTimeRec.tsv()):
    user \\t first \\t last \\t n — written then read back, so the hash
    match verifies the full write→parse round trip (timestamps rendered
    as 'YYYY-MM-DD HH:MM:SS' strings by both engines' casts)."""
    out = appcache.tempdir(prefix="user_time_tsv_")
    ut = _accepted_users(
        spark, sf_dir, F.col("first_ts").cast("string"),
        F.col("last_ts").cast("string"), "n",
    )
    ut.write.mode("overwrite").option("sep", "\t").csv(out)
    return (
        spark.read.option("sep", "\t")
        .schema("client string, first_ts string, last_ts string, n long")
        .csv(out)
    )


# --- Tier 2: README-declared queries (README.md:4-13) -----------------------


@query(
    "auth_count_per_user",
    oracle=f"""
    SELECT client, count(*) AS n FROM {_R}
    WHERE valid AND success AND req_type = 'AUTH' AND NOT referral
    GROUP BY client
    """,
)
def q_auth_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'number of authentications per user' (README.md:6)."""
    return _accepted_users(spark, sf_dir, "n")


@query(
    "tgs_count_per_service",
    oracle=f"""
    SELECT service, count(*) AS n FROM {_R}
    WHERE valid AND success AND req_type = 'TGS' GROUP BY service
    """,
)
def q_tgs_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'number of tgs requests for a service' (README.md:8; perl s: path)."""
    return _tagged(spark, sf_dir, F.col("tag") == "s", "service", "n")


@query(
    "first_last_use_per_service",
    oracle=f"""
    SELECT service, min(ts) AS first_ts, max(ts) AS last_ts, count(*) AS n
    FROM {_R}
    WHERE valid AND success AND req_type = 'TGS' GROUP BY service
    """,
)
def q_service_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'first and last use of a service' (README.md:9)."""
    where = F.col("tag") == "s"
    return _tagged(spark, sf_dir, where, "service", "first_ts", "last_ts", "n")


@query(
    "most_common_errors",
    oracle=f"""
    SELECT coalesce(error_class, 'Missing Pre-authentication') AS error_class,
           count(*) AS n
    FROM {_R} WHERE NOT success GROUP BY 1
    """,
)
def q_common_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'most common errors' (README.md:11), deterministic under ties."""
    counts = _tagged(spark, sf_dir, F.col("tag") == "e", "error_class", "n")
    return counts.orderBy(F.desc("n"), F.asc("error_class"))


@query(
    "users_few_services",
    oracle=f"""
    SELECT client, count(DISTINCT service) AS n_svc FROM {_R}
    WHERE valid AND success AND req_type = 'TGS'
    GROUP BY client HAVING count(DISTINCT service) <= 3
    """,
)
def q_users_few_services(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'identify users who only use a small number of services'
    (README.md:12): distinct TGS services per user ≤ 3. At 100 TB use the
    approx variant (approx_count_distinct) — exact kept here for checking.
    The bundle's ``p`` rows are the distinct (client, service) pairs, so
    the distinct count is a count of them; ``count(b)`` skips a NULL
    service as ``countDistinct`` does."""
    return _few_services(spark, sf_dir, F.count("b"))


def _few_services(spark: SparkSession, sf_dir: str, n_svc) -> DataFrame:
    p = _tagged(spark, sf_dir, F.col("tag") == "p", "client", "b")
    return p.groupBy("client").agg(n_svc.alias("n_svc")).filter(F.col("n_svc") <= 3)


@query("users_few_services_approx")
def q_users_few_services_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of ``users_few_services`` promised in SURVEY §2.2:
    ``approx_count_distinct`` (HLL++, rsd 0.05) replaces the exact
    distinct — one partial-aggregable pass, no per-user distinct-set
    shuffle expansion. Rows-only (sketch estimates are engine-internal);
    agreement vs the exact variant is pinned by pytest. An HLL sketch
    ignores repeats, so the distinct ``p`` pairs give the estimate the
    records give."""
    return _few_services(spark, sf_dir, F.approx_count_distinct("b", 0.05))


@query(
    "top_n_kdc_entities",
    oracle=f"""
    WITH r AS (SELECT * FROM {_R} WHERE valid),
    stacked AS (
      SELECT 'user' AS kind, client AS entity, count(*) AS n FROM r GROUP BY 2
      UNION ALL
      SELECT 'service', service, count(*) FROM r GROUP BY 2
      UNION ALL
      SELECT 'host', client_ip, count(*) FROM r GROUP BY 2
    )
    SELECT kind, entity, n FROM (
      SELECT kind, entity, n,
             row_number() OVER (PARTITION BY kind
                                ORDER BY n DESC, entity ASC NULLS FIRST) AS rn
      FROM stacked
    ) WHERE rn <= 10
    """,
)
def q_top_n_kdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Top N hosts, users, services' (README.md:10) over the KDC records:
    the three entity kinds are stacked in the bundle (its ``user``,
    ``service`` and ``host`` rows, one count per entity), ranked by one
    kind-partitioned window."""
    kinds = F.col("tag").isin("user", "service", "host")
    counts = _tagged(spark, sf_dir, kinds, "entity", F.col("tag").alias("kind"), "n")
    w = Window.partitionBy("kind").orderBy(F.desc("n"), F.asc("entity"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("kind", "entity", "n")
    )


@query(
    "scan_python_datasource",
    oracle=f"""
    SELECT req_type, valid, success, count(*) AS n
    FROM {_R} GROUP BY 1, 2, 3
    """,
)
def q_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KDC logs through the registered Python DataSource (format
    'kdclog', sources/kdc_pyds.py) — the imperative custom-input-format
    surface (reference KDCLogFileInputType + KDCLogRecordReader as a
    first-class Spark source), aggregated to the record-type × success
    histogram. The oracle reads the WINDOW-path materialized records, so
    the hash match cross-checks the imperative reader against the
    declarative sessionizer; record-level parity is additionally pinned
    by tests/test_kdc_pyds.py."""
    from kdcloganalyzer_spark.sources.kdc_pyds import read_kdc_python_source

    kdc_records_parquet(spark, sf_dir)  # ensure the oracle twin exists
    recs = read_kdc_python_source(spark, synth_dir_for_sf(sf_dir))
    return (
        recs.groupBy("req_type", "valid", "success")
        .agg(F.count("*").alias("n"))
        .orderBy("req_type", "valid", "success")
    )


@query(
    "kdc_failed_auth_burst",
    oracle=f"""
    WITH f AS (
      SELECT client, ts,
             count(*) OVER (
               PARTITION BY client ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
               RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW
             ) AS burst
      FROM {_R}
      WHERE valid AND NOT success AND req_type = 'AUTH'
    )
    SELECT client,
           CAST(max(burst) AS BIGINT) AS peak_burst,
           count(*) AS n_failures
    FROM f GROUP BY client HAVING max(burst) >= 3
    """,
)
def q_failed_auth_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force / password-spray detection: clients whose failed-AUTH
    count inside any sliding 1-hour window reaches 3 — the security
    query a KDC log analyzer exists to answer (reference surfaces the
    raw error taxonomy, reader:55-78; this composes it into detection).

    Scale: failures filter first (small fraction of records), ONE shuffle
    on client for the range window, and the per-client window is a
    running count over an ordered frame — no self-join, no explode. The
    range frame is in whole seconds (unix epoch), identical in both
    engines on the second-resolution log timestamps."""
    r = kdc_records(spark, sf_dir)
    fails = r.filter(
        F.col("valid") & ~F.col("success") & (F.col("req_type") == "AUTH")
    )
    w = (
        Window.partitionBy("client")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3599, 0)
    )
    return (
        fails.withColumn("burst", F.count("*").over(w))
        .groupBy("client")
        .agg(
            F.max("burst").alias("peak_burst"),
            F.count("*").alias("n_failures"),
        )
        .filter(F.col("peak_burst") >= 3)
    )


@query(
    "kdc_service_enumeration",
    oracle=f"""
    SELECT client, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
           CAST(count(DISTINCT service) AS BIGINT) AS n_services,
           count(*) AS n_requests
    FROM {_R}
    WHERE valid AND success AND req_type = 'TGS'
    GROUP BY client, date_trunc('hour', ts)
    HAVING count(DISTINCT service) >= 3
    """,
)
def q_service_enumeration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service-enumeration (kerberoasting-recon) detection: clients
    requesting tickets for unusually many DISTINCT services within one
    hour — the complement of kdc_failed_auth_burst's volume signal
    (enumeration is low-volume but wide). Composes the reference's
    parsed TGS records (reader:55-78 taxonomy) into the second
    detection the README's "Top N services" roadmap implies.

    Scale: successes filter at the scan, one shuffle on (client, hour)
    — count(DISTINCT service) inside a groupBy is planned as a
    two-phase partial-distinct aggregate (expand + partial + final),
    never a row explosion; threshold HAVING prunes before output."""
    r = kdc_records(spark, sf_dir)
    tgs = r.filter(
        F.col("valid") & F.col("success") & (F.col("req_type") == "TGS")
    )
    return (
        tgs.groupBy(
            "client", F.date_trunc("hour", "ts").alias("hour")
        )
        .agg(
            F.countDistinct("service").alias("n_services"),
            F.count("*").alias("n_requests"),
        )
        .filter(F.col("n_services") >= 3)
    )


@query(
    "kdc_enctype_downgrade",
    oracle=f"""
    WITH e AS (
      SELECT service, chosen_enctype,
             (list_contains(enctypes, 'aes256-cts-hmac-sha1-96') OR
              list_contains(enctypes, 'aes128-cts-hmac-sha1-96')) AS offered_aes
      FROM {_R}
      WHERE enctypes IS NOT NULL AND chosen_enctype IS NOT NULL
    )
    SELECT service,
           count(*) AS n_negotiated,
           CAST(sum(CASE WHEN offered_aes AND chosen_enctype IN
                              ('arcfour-hmac-md5', 'des3-cbc-sha1')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_downgraded,
           round(sum(CASE WHEN offered_aes AND chosen_enctype IN
                               ('arcfour-hmac-md5', 'des3-cbc-sha1')
                          THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
             AS downgrade_rate
    FROM e GROUP BY service
    HAVING sum(CASE WHEN offered_aes AND chosen_enctype IN
                         ('arcfour-hmac-md5', 'des3-cbc-sha1')
                    THEN 1 ELSE 0 END) > 0
    """,
)
def q_enctype_downgrade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enctype-downgrade audit: negotiations that settled on a weak
    cipher (RC4/3DES) although the client OFFERED AES — the
    kerberoast-surface / misconfiguration signal hiding in the enctype
    lists the reference's kdcmapper-with-enctypes.pl:39-57 surfaces as
    raw dimensions; this composes them into the security posture
    question ("which services still pin weak ciphers?").

    Scale: the offered/chosen columns filter and project at the scan;
    array_contains runs in codegen; one partial-agg'd shuffle on
    service with the CASE sums map-side combined; HAVING prunes the
    clean services before output."""
    r = kdc_records(spark, sf_dir)
    e = r.filter(
        F.col("enctypes").isNotNull() & F.col("chosen_enctype").isNotNull()
    )
    offered_aes = F.array_contains(
        "enctypes", "aes256-cts-hmac-sha1-96"
    ) | F.array_contains("enctypes", "aes128-cts-hmac-sha1-96")
    weak = F.col("chosen_enctype").isin("arcfour-hmac-md5", "des3-cbc-sha1")
    down = F.when(offered_aes & weak, 1).otherwise(0)
    return (
        e.groupBy("service")
        .agg(
            F.count("*").alias("n_negotiated"),
            F.sum(down).alias("n_downgraded"),
            F.round(F.sum(down) / F.count("*"), 6).alias("downgrade_rate"),
        )
        .filter(F.col("n_downgraded") > 0)
    )


@query(
    "kdc_ip_roaming",
    oracle=f"""
    WITH o AS (
      SELECT client, client_ip, ts,
             lag(client_ip) OVER w AS prev_ip,
             CAST(floor(epoch(ts)) AS BIGINT)
               - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS gap_s
      FROM {_R}
      WHERE valid AND req_type = 'AUTH'
      WINDOW w AS (PARTITION BY client ORDER BY ts, client_ip)
    ),
    sw AS (
      SELECT client,
             CASE WHEN prev_ip IS NOT NULL AND prev_ip <> client_ip
                       AND gap_s <= 600 THEN 1 ELSE 0 END AS rapid_switch
      FROM o
    )
    SELECT s.client,
           CAST(sum(s.rapid_switch) AS BIGINT) AS n_rapid_switches,
           CAST(d.n_ips AS BIGINT) AS n_ips,
           CAST(count(*) AS BIGINT) AS n_auths
    FROM sw s
    JOIN (SELECT client, count(DISTINCT client_ip) AS n_ips
          FROM {_R} WHERE valid AND req_type = 'AUTH'
          GROUP BY client) d
      ON d.client = s.client
    GROUP BY s.client, d.n_ips
    HAVING sum(s.rapid_switch) >= 1
    """,
)
def kdc_ip_roaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IP-ROAMING DETECTION ("impossible travel" at LAN scale) —
    clients whose successive valid AUTH requests arrive from DIFFERENT
    source IPs within 10 minutes: the credential-sharing /
    ticket-theft signal the reference's per-user and per-host keyspaces
    (UserTimeMapper.java:27-49, kdcmapred2.pl's host dimension) each
    see half of but never correlate. Ordered per client with an
    (ts, ip) total order so the lag comparison is deterministic on
    second-resolution timestamp ties.

    Scale: the AUTH filter prunes first; ONE shuffle on client shared
    by the lag window, the distinct-IP set (r15: an unordered window
    over the SAME client partitioning — the old separate
    count-distinct aggregate re-scanned the records and joined back;
    collect_set and count(DISTINCT) agree on NULL handling), and the
    rollup. Per-client state is one previous row — the streaming form
    is the same expression under applyInPandasWithState
    (stream_sessionize's machinery)."""
    r = kdc_records(spark, sf_dir).filter(
        F.col("valid") & (F.col("req_type") == "AUTH")
    )
    w = Window.partitionBy("client").orderBy("ts", "client_ip")
    wc = Window.partitionBy("client")
    o = r.select(
        "client",
        "client_ip",
        F.lag("client_ip").over(w).alias("prev_ip"),
        (
            F.unix_timestamp("ts")
            - F.lag(F.unix_timestamp("ts")).over(w)
        ).alias("gap_s"),
        F.size(F.collect_set("client_ip").over(wc)).alias("n_ips"),
    )
    sw = o.select(
        "client",
        "n_ips",
        F.when(
            F.col("prev_ip").isNotNull()
            & (F.col("prev_ip") != F.col("client_ip"))
            & (F.col("gap_s") <= 600),
            1,
        )
        .otherwise(0)
        .alias("rapid_switch"),
    )
    return (
        sw.groupBy("client")
        .agg(
            F.sum("rapid_switch").cast("bigint").alias("n_rapid_switches"),
            F.max("n_ips").cast("bigint").alias("n_ips"),
            F.count("*").alias("n_auths"),
        )
        .where(F.col("n_rapid_switches") >= 1)
        .select("client", "n_rapid_switches", "n_ips", "n_auths")
    )


@query(
    "kdc_password_spray",
    oracle=f"""
    SELECT regexp_extract(client_ip, 'IPv4:([0-9]+\\.[0-9]+)', 1)
             AS subnet16,
           CAST(count(*) AS BIGINT) AS n_failures,
           CAST(count(DISTINCT client) AS BIGINT) AS n_accounts,
           min(ts) AS first_ts,
           max(ts) AS last_ts,
           CAST(count(DISTINCT client) * 1000000 // count(*) AS BIGINT)
             AS breadth_micro
    FROM {_R}
    WHERE req_type = 'AUTH' AND client_ip IS NOT NULL
      AND error_class IN ('BAD_PASSWORD', 'BAD_AUTHENTICATION')
    GROUP BY 1
    HAVING count(DISTINCT client) >= 2
    """,
)
def q_password_spray(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PASSWORD-SPRAY DETECTION — the inverse of a brute-force burst:
    one source IP probing MANY accounts with few attempts each (under
    per-account lockout thresholds). Complements
    ``kdc_failed_auth_burst`` (per-client rate) and ``kdc_ip_roaming``
    (per-client source churn) by pivoting the failed-auth surface onto
    the SOURCE-IP axis: per IP, the credential-failure count, the
    distinct accounts targeted (grouped at the /16 SUBNET — sprayers
    rotate addresses within their block), the attack window, and the breadth
    ratio (accounts per failure, exact integer micro-units) that
    separates a spray (breadth → 1) from a single-account brute force
    (breadth → 0). Failure classes BAD_PASSWORD / BAD_AUTHENTICATION
    follow the reference's error taxonomy (SURVEY §2.4).

    Scale: the failure filter prunes at the scan (a tiny fraction of
    traffic); one partial-agg'd shuffle on client_ip with an Expand
    for the exact distinct — at 100 TB swap the exact distinct for
    HLL (users_few_services_approx's documented trade) and the plan
    collapses to one pass."""
    r = kdc_records(spark, sf_dir).filter(
        (F.col("req_type") == "AUTH")
        & F.col("client_ip").isNotNull()
        & F.col("error_class").isin("BAD_PASSWORD", "BAD_AUTHENTICATION")
    )
    subnet = F.regexp_extract(
        F.col("client_ip"), r"IPv4:([0-9]+\.[0-9]+)", 1
    )
    return (
        r.groupBy(subnet.alias("subnet16"))
        .agg(
            F.count("*").cast("bigint").alias("n_failures"),
            F.countDistinct("client").cast("bigint").alias("n_accounts"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .where(F.col("n_accounts") >= 2)
        .select(
            "subnet16",
            "n_failures",
            "n_accounts",
            "first_ts",
            "last_ts",
            F.expr("CAST(n_accounts * 1000000 div n_failures AS BIGINT)")
            .alias("breadth_micro"),
        )
    )


@query(
    "kdc_account_lockout",
    oracle=f"""
    WITH a AS (
      SELECT client, ts, CAST(floor(epoch(ts)) AS BIGINT) AS tsu,
             success
      FROM {_R} WHERE valid AND req_type = 'AUTH'
    ),
    isl AS (
      SELECT client, ts, tsu, success,
             sum(CASE WHEN success THEN 1 ELSE 0 END) OVER (
               PARTITION BY client ORDER BY tsu
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS island
      FROM a
    ),
    fails AS (
      SELECT client, ts, tsu, island,
             lag(tsu, 2) OVER (PARTITION BY client, island
                               ORDER BY tsu) AS tsu2
      FROM isl WHERE NOT success
    ),
    lock AS (
      SELECT client, ts FROM fails
      WHERE tsu2 IS NOT NULL AND tsu - tsu2 <= 1799
    )
    SELECT client, CAST(count(*) AS BIGINT) AS n_lockout_events,
           min(ts) AS first_lockout
    FROM lock GROUP BY client
    """,
)
def q_account_lockout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACCOUNT-LOCKOUT policy simulation: flag every failed AUTH that is
    the 3rd-or-later consecutive failure (no intervening success) for
    its client within a sliding 30-minute window — the detection twin
    of the lockout rule an IdP enforces, run retroactively over the
    log. Construction is fully VALUE-deterministic even under
    same-second timestamp ties: success islands come from a RANGE
    (not ROWS) running count, so tied rows share an island; the
    3-back comparison is lag(tsu, 2) over an order keyed by tsu
    itself, whose value sequence is the sorted multiset — unique
    regardless of tiebreak. (The synthetic log's failure streaks top
    out at 2 at sf0.001 — the rule structurally cannot fire there;
    the driver's sf0.01 gate is where the detection is exercised.) Both engines floor to whole seconds
    (Spark unix_timestamp ≡ DuckDB floor(epoch)).

    Scale: one shuffle on client (both windows share it — the island
    frame and the per-(client, island) lag re-use the exchange; the
    finer partition key is a prefix-compatible sort), then a
    partial-agg'd per-client rollup. Failure rows only enter the lag,
    so the heavy frame is the failure subset. Detection, not
    enforcement: events after a lockout still count (an enforcing
    replay would be a stateful reaper — stream_session_timeout's
    construction)."""
    a = kdc_records(spark, sf_dir).where(
        F.col("valid") & (F.col("req_type") == "AUTH")
    ).select(
        "client",
        "ts",
        F.unix_timestamp("ts").cast("bigint").alias("tsu"),
        "success",
    )
    w_isl = (
        Window.partitionBy("client")
        .orderBy("tsu")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    isl = a.select(
        "client",
        "ts",
        "tsu",
        "success",
        F.sum(F.when(F.col("success"), 1).otherwise(0))
        .over(w_isl)
        .alias("island"),
    )
    w_lag = Window.partitionBy("client", "island").orderBy("tsu")
    fails = isl.where(~F.col("success")).select(
        "client",
        "ts",
        "tsu",
        F.lag("tsu", 2).over(w_lag).alias("tsu2"),
    )
    lock = fails.where(
        F.col("tsu2").isNotNull() & (F.col("tsu") - F.col("tsu2") <= 1799)
    )
    return lock.groupBy("client").agg(
        F.count("*").cast("bigint").alias("n_lockout_events"),
        F.min("ts").alias("first_lockout"),
    )


@query(
    "fn_net_suite",
    oracle=f"""
    WITH ips AS (
      SELECT DISTINCT client_ip FROM {_R}
      WHERE valid AND client_ip IS NOT NULL
    ),
    oct AS (
      SELECT client_ip,
        CAST(regexp_extract(client_ip,
          'IPv4:([0-9]+)\\.([0-9]+)\\.([0-9]+)\\.([0-9]+)', 1) AS BIGINT) AS a,
        CAST(regexp_extract(client_ip,
          'IPv4:([0-9]+)\\.([0-9]+)\\.([0-9]+)\\.([0-9]+)', 2) AS BIGINT) AS b,
        CAST(regexp_extract(client_ip,
          'IPv4:([0-9]+)\\.([0-9]+)\\.([0-9]+)\\.([0-9]+)', 3) AS BIGINT) AS c,
        CAST(regexp_extract(client_ip,
          'IPv4:([0-9]+)\\.([0-9]+)\\.([0-9]+)\\.([0-9]+)', 4) AS BIGINT) AS d
      FROM ips
    )
    SELECT client_ip,
           CAST(((a * 256 + b) * 256 + c) * 256 + d AS BIGINT) AS ip_u32,
           a || '.' || b || '.' || c || '.0/24' AS net24,
           (((a * 256 + b) * 256 + c) * 256 + d) // 8388608 = 20
             AS in_10_0_0_0_9,
           CAST(d AS BIGINT) AS host8
    FROM oct
    """,
)
def q_fn_net_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NETWORK FUNCTION SUITE — the IPv4 arithmetic a log-analytics
    engine needs and Spark/DuckDB both lack as builtins, derived from
    string + integer primitives so the SAME math runs JVM-side in
    codegen: dotted-quad -> u32 (Horner over the four regex-extracted
    octets), /24 network rollup key, CIDR membership as ONE integer
    division ((ip div 2^(32-prefix)) == net_prefix — here 10.0.0.0/9,
    whose 9-bit prefix is 20), and the host byte. Distinct IPs only —
    the suite probes the functions, not the traffic volume.

    Scale: regexp extraction + integer math inside whole-stage codegen
    over a distinct-IP frame (one shuffle); CIDR checks as integer
    compares are sargable against a bucketed ip_u32 layout at 100 TB —
    the reason to materialize ip_u32 rather than match strings."""
    ips = (
        kdc_records(spark, sf_dir)
        .where(F.col("valid") & F.col("client_ip").isNotNull())
        .select("client_ip")
        .distinct()
    )
    pat = r"IPv4:([0-9]+)\.([0-9]+)\.([0-9]+)\.([0-9]+)"
    o = ips.select(
        "client_ip",
        *[
            F.regexp_extract("client_ip", pat, i)
            .cast("bigint")
            .alias(n)
            for i, n in ((1, "a"), (2, "b"), (3, "c"), (4, "d"))
        ],
    )
    u32 = (
        (F.col("a") * 256 + F.col("b")) * 256 + F.col("c")
    ) * 256 + F.col("d")
    return o.select(
        "client_ip",
        u32.cast("bigint").alias("ip_u32"),
        F.concat_ws(
            ".", F.col("a"), F.col("b"), F.col("c"), F.lit("0/24")
        ).alias("net24"),
        F.expr(
            "(((a * 256 + b) * 256 + c) * 256 + d) div 8388608 = 20"
        ).alias("in_10_0_0_0_9"),
        F.col("d").cast("bigint").alias("host8"),
    )


@query(
    "kdc_referral_patterns",
    oracle=f"""
    SELECT crealm, srealm,
           CAST(count(*) AS BIGINT) AS n_requests,
           CAST(sum(CASE WHEN referral THEN 1 ELSE 0 END) AS BIGINT)
             AS n_referrals,
           CAST(sum(CASE WHEN referral THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS referral_rate_micro,
           CAST(count(DISTINCT client) AS BIGINT) AS n_clients
    FROM {_R}
    WHERE valid AND req_type = 'TGS'
      AND crealm IS NOT NULL AND srealm IS NOT NULL
    GROUP BY crealm, srealm
    """,
)
def q_referral_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-REALM REFERRAL matrix: TGS traffic and referral rates per
    (client realm, service realm) pair — the trust-topology view a KDC
    operator reads to spot unexpected realm hops (the reference parses
    the referral marker, KDCLogRecordReader.java:250-266, but never
    aggregates it; this is the missing rollup). Rates are exact
    integer micro-units of exact counts.

    Scale: one filter + one partial-agg'd groupBy on the realm pair;
    the distinct-client count is the only expansion (exact here; the
    documented HLL swap applies beyond memory)."""
    r = kdc_records(spark, sf_dir).where(
        F.col("valid")
        & (F.col("req_type") == "TGS")
        & F.col("crealm").isNotNull()
        & F.col("srealm").isNotNull()
    )
    return r.groupBy("crealm", "srealm").agg(
        F.count("*").cast("bigint").alias("n_requests"),
        F.sum(F.when(F.col("referral"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_referrals"),
        F.expr(
            "CAST(sum(CASE WHEN referral THEN 1 ELSE 0 END) * 1000000"
            " div count(*) AS BIGINT)"
        ).alias("referral_rate_micro"),
        F.countDistinct("client").cast("bigint").alias("n_clients"),
    )
