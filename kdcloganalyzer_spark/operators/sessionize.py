"""Multi-line → record assembly (`sessionize_multiline`, SURVEY.md §2.1/§4.3).

The reference assembles lines into one KDCLogRecord until a terminator line
"TS sending N bytes to IP" (KDCLogRecordReader.java:208-324). Here that is
a declarative pipeline:

1. per-line features (``featurize``): ONE classification CASE per line
   (``line_kind``, the reader's if/else-if chain, every regex behind a
   contains() guard) projected once as ``_kind``, then the feature
   booleans derived from it in a second projection — both in the same
   codegen'd stage, no Python, no shuffle;
2. record id = count of terminator lines (``is_sending``) strictly
   BEFORE the line, per file (running sum, exclusive window) — so a
   record = [line after the previous terminator .. its own terminator];
3. one groupBy(file, rec_id) with marker aggregates encoding the state
   machine's merge rules, keeping whole LINES for the few positions that
   matter:
   - identity fields / req_type / ts: LAST header wins (reader:234-266,
     quirk B5) — max_by(line_no);
   - error/error_class: FIRST error line wins (setErrorIfUnset,
     KDCLogRecord.java:182-188) — min_by(line_no);
   - success: last effect wins (preauth/TGS-header set true at reader:271/
     :252, every error line forces false at KDCLogRecord.java:187);
   - valid ⇔ any header line (reader:264);
   - records with no terminator line (end-of-file tail) are dropped, as
     the reference drops them (reader:317-320);
4. heavy field extraction (7-group header regex, enctype split) runs on
   the per-RECORD surviving lines — ~6× fewer regex executions than
   per-line extraction.

Cost at scale: one shuffle for the two same-key windows (partitionBy file;
single Exchange+Sort) plus one partial-agg'd groupBy. Parallelism tracks
the file count, which fits the KDC workload (many per-server daily logs).

The Column trees of steps 1 and 3-4 are built once per live JVM
(``appcache.per_jvm``) and shared by ``sessionize``,
``sessionize_split_parallel`` and the streaming tail assembler: a plan
build then costs a few hundred py4j round trips instead of thousands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kdcloganalyzer_spark.appcache import per_jvm
from kdcloganalyzer_spark.functions.kdc_parse import (
    TIMESTAMP,
    enctype_fields,
    header_fields,
    kind_features,
    line_kind,
)


def _feature_trees():
    line = F.col("line")
    feats = kind_features(F.col("_kind"), line)
    return line_kind(line).alias("_kind"), {k: v.alias(k) for k, v in feats.items()}


def featurize(lines: DataFrame, *keep: str) -> DataFrame:
    """``keep`` (which must include ``line``) plus the per-line feature
    columns of ``kdc_parse.line_features``.

    ``line_kind`` is projected once, as ``_kind``, and the features read
    it from a second projection. CollapseProject will not merge the two,
    because every feature references ``_kind``: the CASE stays a single
    expression in the optimized plan and runs once per line.
    """
    kind, feats = per_jvm("kdc_line_features", _feature_trees)
    return lines.select(*keep, kind).select(*keep, *feats.values())


def feature_names() -> list[str]:
    """Names of the columns ``featurize`` adds, in order."""
    return list(per_jvm("kdc_line_features", _feature_trees)[1])


def sessionize(lines: DataFrame) -> DataFrame:
    """lines → kdc_records (FIXTURES.md §2 schema).

    Accepts either ``read_log_lines`` output (file, line_no, line) or
    ``read_log_lines_raw`` output (file, _block_start, _mid, line); with the
    raw form, line numbering and record-id assignment share ONE window spec
    → a single Sort in the physical plan.

    Parallelism = #files (the window partitions by file). For the
    single-huge-file layout use ``sessionize_split_parallel``.
    """
    order_cols = (
        ["_block_start", "_mid"] if "_block_start" in lines.columns else ["line_no"]
    )
    df = featurize(lines, "file", *order_cols, "line")

    w_order = Window.partitionBy("file").orderBy(*order_cols)
    # Record id: terminators strictly before this line, within the file.
    w_prev = w_order.rowsBetween(Window.unboundedPreceding, -1)
    extra = [
        F.coalesce(
            F.sum(F.col("is_sending").cast("long")).over(w_prev), F.lit(0)
        ).alias("rec_id")
    ]
    if "line_no" not in df.columns:
        extra.append(F.row_number().over(w_order).alias("line_no"))
    df = df.select("*", *extra)
    return _assemble(df, "line_no")


def sessionize_split_parallel(lines_raw: DataFrame) -> DataFrame:
    """Split-parallel record assembly (SURVEY.md §4.3 fallback): identical
    output to ``sessionize``, but parallelism = #byte-range SPLITS instead
    of #files — the path for one huge log file.

    Instead of stitching boundary fragments imperatively, compute a
    GLOBALLY consistent rec_id from per-split terminator counts:

    1. per split (file, _block_start): running terminator count before each
       line — a window over (file, _block_start), parallelism = #splits;
    2. per-split terminator TOTALS (one tiny aggregate, #splits rows) →
       running offset per split via a cumulative window over the split
       table — the only per-file serial step, sized to #splits, not lines;
    3. global rec_id = split offset + local running count, broadcast-joined
       back onto the lines.

    A record spanning a split boundary (the reference's FIXME at
    KDCLogRecordReader.java:210) gets the SAME (file, rec_id) on both
    sides, so the groupBy in ``_assemble`` merges it with no special
    casing; per-record line order uses the (block_start, local row number)
    struct, which is the total in-file order. Shuffle count matches
    ``sessionize`` (one Sort for the split windows + the groupBy exchange)
    plus one broadcast of the split-offset table."""
    base = featurize(lines_raw, "file", "_block_start", "_mid", "line")
    # Per-split terminator totals: a narrow scan branch (file, offset,
    # one boolean).
    w_file = (
        Window.partitionBy("file")
        .orderBy("_block_start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        base.groupBy("file", "_block_start")
        .agg(F.sum(F.col("is_sending").cast("long")).alias("_n_term"))
        .select(
            "file",
            "_block_start",
            F.coalesce(F.sum("_n_term").over(w_file), F.lit(0)).alias(
                "_offset"
            ),
        )
    )
    w_split = Window.partitionBy("file", "_block_start").orderBy("_mid")
    w_prev = w_split.rowsBetween(Window.unboundedPreceding, -1)
    df = (
        base.select(
            "*",
            F.coalesce(
                F.sum(F.col("is_sending").cast("long")).over(w_prev), F.lit(0)
            ).alias("_local_rec"),
            F.row_number().over(w_split).alias("_local_rn"),
        )
        .join(F.broadcast(offsets), ["file", "_block_start"])
        .select(
            "file",
            (F.col("_offset") + F.col("_local_rec")).alias("rec_id"),
            F.struct("_block_start", "_local_rn").alias("_ord"),
            "line",
            *feature_names(),
        )
    )
    return _assemble(df, "_ord")


def _assemble(df: DataFrame, ord_col: str) -> DataFrame:
    """groupBy(file, rec_id) with the reader's merge rules; ``df`` carries
    file, rec_id, line, the ``featurize`` columns, and an orderable
    ``ord_col`` giving total in-file line order."""
    aggs, complete, ts_match, out = per_jvm(
        f"kdc_assemble:{ord_col}", lambda: _assemble_trees(ord_col)
    )
    return (
        df.groupBy("file", "rec_id")
        .agg(*aggs)
        .filter(complete)
        .select("*", ts_match)
        .select(*out)
    )


def _assemble_trees(ord_col: str):
    """(aggregates, completeness filter, timestamp match, output projection)
    of ``_assemble``."""

    def first_where(cond, col):
        return F.min_by(F.when(cond, col), F.when(cond, F.col(ord_col)))

    def last_where(cond, col):
        return F.max_by(F.when(cond, col), F.when(cond, F.col(ord_col)))

    aggs = [
        F.max("is_sending").alias("complete"),
        F.max("is_header").alias("valid"),
        last_where(F.col("is_header"), F.col("line")).alias("header_line"),
        last_where(F.col("sets_ts"), F.col("line")).alias("ts_line"),
        last_where(
            F.col("success_effect").isNotNull(), F.col("success_effect")
        ).alias("success_eff"),
        first_where(F.col("is_error"), F.col("line")).alias("error_line"),
        first_where(F.col("is_error"), F.col("chain_class")).alias("chain_class"),
        first_where(F.col("is_error"), F.col("is_verify")).alias("error_is_verify"),
        F.max("is_referral").alias("referral"),
        last_where(F.col("is_enctypes"), F.col("line")).alias("enc_line"),
    ]

    hdr = header_fields(F.col("header_line"))
    enctypes, chosen = enctype_fields(F.col("enc_line"))
    # Extracted once, in its own projection (read four times below, so
    # CollapseProject keeps it apart); a miss is '' → NULL. Not nullif:
    # Spark 4 plans each nullif as its own With common expression, so ts
    # and ts_raw would each run the regex.
    ts_match = F.regexp_extract(F.col("ts_line"), f"^({TIMESTAMP})", 1).alias(
        "_ts_match"
    )
    ts_raw = F.when(F.col("_ts_match") != "", F.col("_ts_match"))
    # verify-line error keeps only the matched suffix (reader:305,308);
    # chain errors keep the whole line (reader:273 etc.).
    error = F.when(
        F.col("error_is_verify"),
        F.regexp_extract(F.col("error_line"), r"(Failed to verify .*)", 1),
    ).otherwise(F.col("error_line"))
    error_class = F.when(
        F.col("error_is_verify"), F.lit("BAD_AUTHENTICATION")
    ).otherwise(F.col("chain_class"))

    out = [
        F.to_timestamp(ts_raw).alias("ts"),
        ts_raw.alias("ts_raw"),
        F.when(hdr["hdr_reqtype"] == "AS-REQ", F.lit("AUTH"))
        .when(hdr["hdr_reqtype"] == "TGS-REQ", F.lit("TGS"))
        .otherwise(F.when(F.col("valid"), F.lit("UNKNOWN")))
        .alias("req_type"),
        F.when(F.col("valid"), hdr["client"]).alias("client"),
        F.when(F.col("valid"), hdr["crealm"]).alias("crealm"),
        F.when(F.col("valid"), hdr["service"]).alias("service"),
        F.when(F.col("valid"), hdr["srealm"]).alias("srealm"),
        F.when(F.col("valid"), hdr["client_ip"]).alias("client_ip"),
        F.col("valid"),
        F.coalesce(F.col("success_eff"), F.lit(False)).alias("success"),
        F.coalesce(F.col("referral"), F.lit(False)).alias("referral"),
        error_class.alias("error_class"),
        error.alias("error"),
        enctypes.alias("enctypes"),
        chosen.alias("chosen_enctype"),
    ]
    return aggs, F.col("complete"), ts_match, out
