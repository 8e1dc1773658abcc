"""Golden tests for the KDC sessionizer/parser (FIXTURES.md §1 cases).

Expected values hand-derived from the reference state machine
(KDCLogRecordReader.java:208-324); divergences B1-B9 per SURVEY.md §8.
"""

from __future__ import annotations

import gzip
import os
import shutil

import pytest
from pyspark.sql import functions as F

from kdcloganalyzer_spark.functions.kdc_parse import line_features, line_kind
from kdcloganalyzer_spark.operators.sessionize import featurize, sessionize
from kdcloganalyzer_spark.sources.kdc_log import read_log_lines

GOLDEN = os.path.join(os.path.dirname(__file__), "fixtures", "kdc", "golden.log")


@pytest.fixture(scope="module")
def records(spark):
    df = sessionize(read_log_lines(spark, GOLDEN))
    rows = {  # key by client or error for lookup; one record has client None
        (r["client"], r["ts_raw"]): r.asDict() for r in df.collect()
    }
    return rows


def test_record_count(records):
    # 13 terminated records; the trailing header-without-sending is dropped
    # (reference drops it too — KDCLogRecordReader.java:317-320).
    assert len(records) == 13


def test_as_success(records):
    r = records[("cg2v", "2015-11-22T15:25:20")]
    assert r["valid"] and r["success"] and not r["referral"]
    assert r["req_type"] == "AUTH"
    assert r["crealm"] == "SQUILL.DEMENTIA.ORG"
    assert r["service"] == "krbtgt/SQUILL.DEMENTIA.ORG"
    assert r["client_ip"] == "IPv4:127.0.0.1"
    assert r["error_class"] is None and r["error"] is None
    assert r["enctypes"][0] == "aes256-cts-hmac-sha1-96"
    assert r["enctypes"][-1] == "des-cbc-md4"
    assert r["chosen_enctype"] == "aes256-cts-hmac-sha1-96/aes256-cts-hmac-sha1-96"
    assert str(r["ts"]) == "2015-11-22 15:25:20"


def test_as_no_preauth(records):
    r = records[("nopre", "2015-11-22T15:26:00")]
    assert r["valid"] and not r["success"]
    assert r["req_type"] == "AUTH" and r["error_class"] is None


def test_tgs_presumed_success(records):
    r = records[("cg2v", "2015-11-22T15:27:00")]
    assert r["req_type"] == "TGS" and r["success"]
    assert r["service"] == "host/www.example.org"


@pytest.mark.parametrize(
    "client,ts,cls",
    [
        ("alice", "2015-11-22T15:28:00", "BAD_PASSWORD"),
        ("bob", "2015-11-22T15:29:00", "BAD_NAME"),
        ("carol", "2015-11-22T15:30:00", "UNUSABLE_NAME"),
        ("dave", "2015-11-22T15:31:00", "BAD_AUTHENTICATION"),
        ("erin", "2015-11-22T15:32:00", "BAD_PARAMETERS"),
        ("frank", "2015-11-22T15:33:00", "UNKNOWN"),
    ],
)
def test_error_classes(records, client, ts, cls):
    r = records[(client, ts)]
    assert r["error_class"] == cls, r
    assert not r["success"]
    assert r["valid"]


def test_headerless_verify(records):
    r = records[(None, "2015-11-22T15:40:00")]
    assert not r["valid"]
    assert r["error_class"] == "BAD_AUTHENTICATION"
    # error is the matched suffix, not the whole line (reader:305)
    assert r["error"] == "Failed to verify AP-REQ: no suitable key found"
    assert not r["success"]
    assert r["req_type"] is None and r["client"] is None


def test_referral_success_preserved(records):
    r = records[("grace", "2015-11-22T15:41:00")]
    assert r["referral"] and r["success"] and r["valid"]


def test_first_error_wins(records):
    r = records[("heidi", "2015-11-22T15:42:00")]
    assert r["error_class"] == "BAD_PASSWORD"
    assert "Failed to decrypt PA-DATA" in r["error"]


def test_interleaved_header_last_wins_error_sticks(records):
    # AS header (ivan) + error, then TGS header (judy) before the terminator:
    # identity from the LAST header, FIRST error sticks, TGS header re-sets
    # success=true (quirk B5; KDCLogRecordReader.java:252).
    r = records[("judy", "2015-11-22T15:43:30")]
    assert r["req_type"] == "TGS"
    assert r["error_class"] == "BAD_PASSWORD"
    assert r["success"]  # TGS header after the error line wins
    assert r["client_ip"] == "IPv4:10.0.0.13"


def test_split_invariance(spark, tmp_path):
    """Same bytes, different partition chunking → identical records (B2)."""
    base = sessionize(read_log_lines(spark, GOLDEN)).drop("enctypes").collect()
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # ~300-byte splits: dozens of partitions over the golden file.
        spark.conf.set("spark.sql.files.maxPartitionBytes", "300")
        chunked = sessionize(read_log_lines(spark, GOLDEN)).drop("enctypes").collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert sorted(map(str, base)) == sorted(map(str, chunked))
    assert len(base) == 13


def test_gzip_input(spark, tmp_path):
    gz = tmp_path / "golden.log.gz"
    with open(GOLDEN, "rb") as f_in, gzip.open(gz, "wb") as f_out:
        shutil.copyfileobj(f_in, f_out)
    base = {
        str(sorted(r.asDict().items(), key=str))
        for r in sessionize(read_log_lines(spark, GOLDEN)).drop("enctypes").collect()
    }
    gzed = {
        str(sorted(r.asDict().items(), key=str))
        for r in sessionize(read_log_lines(spark, str(gz))).drop("enctypes").collect()
    }
    assert base == gzed


def test_oversized_line_guard(spark, tmp_path):
    """max_line_length skips pathological lines without failing the record
    (reference `mapred.linerecordreader.maxlength`,
    KDCLogRecordReader.java:167,311-315)."""
    from kdcloganalyzer_spark.sources.kdc_log import read_log_lines_raw

    log = tmp_path / "big.log"
    log.write_text(
        "2015-11-22T16:00:00 AS-REQ u1@R.ORG from IPv4:1.2.3.4 for krbtgt/R.ORG@R.ORG\n"
        + "JUNK " + "x" * 100_000 + "\n"
        + "2015-11-22T16:00:00 ENC-TS Pre-authentication succeeded -- u1@R.ORG\n"
        + "2015-11-22T16:00:01 sending 1 bytes to IPv4:1.2.3.4\n"
    )
    rows = sessionize(
        read_log_lines_raw(spark, str(log), max_line_length=10_000)
    ).collect()
    assert len(rows) == 1
    assert rows[0]["client"] == "u1" and rows[0]["success"]


def test_multi_file_isolation(spark, tmp_path):
    """Records never cross file boundaries."""
    d = tmp_path / "logs"
    d.mkdir()
    # File A ends with an unterminated record; file B starts with a sending
    # line. If files leaked into each other, A's tail would be completed by
    # B's terminator.
    (d / "a.log").write_text(
        "2015-11-22T16:00:00 AS-REQ xa@R.ORG from IPv4:1.2.3.4 for krbtgt/R.ORG@R.ORG\n"
        "2015-11-22T16:00:00 ENC-TS Pre-authentication succeeded -- xa@R.ORG\n"
        "2015-11-22T16:00:01 sending 1 bytes to IPv4:1.2.3.4\n"
        "2015-11-22T16:05:00 AS-REQ dangling@R.ORG from IPv4:1.2.3.5 for krbtgt/R.ORG@R.ORG\n"
    )
    (d / "b.log").write_text(
        "2015-11-22T16:10:01 sending 2 bytes to IPv4:9.9.9.9\n"
        "2015-11-22T16:11:00 TGS-REQ xb@R.ORG from IPv4:1.2.3.6 for host/h@R.ORG\n"
        "2015-11-22T16:11:01 sending 3 bytes to IPv4:1.2.3.6\n"
    )
    rows = sessionize(read_log_lines(spark, str(d))).collect()
    clients = sorted(r["client"] for r in rows if r["client"])
    assert clients == ["xa", "xb"]
    # b.log's leading sending line terminates an empty, invalid record.
    assert sum(1 for r in rows if not r["valid"]) == 1


# --- golden classifier table -------------------------------------------------
# One row per line: the expected line_kind, then the nine line_features
# columns in FEATURES order. The feature values were captured from the
# earlier per-feature classifier (nine independent boolean trees), so this
# table pins that the single-CASE classifier reproduces it, precedence
# edges included.
Y, N, NULL = True, False, None
T = "2015-11-22T16:00:00"
FEATURES = (
    "is_header", "is_sending", "is_error", "is_verify", "is_referral",
    "is_enctypes", "chain_class", "success_effect", "sets_ts",
)
CLASSIFIER_TABLE = [
    (f'{T} AS-REQ alice@EXAMPLE.ORG from IPv4:10.0.0.1 for krbtgt/EXAMPLE.ORG@EXAMPLE.ORG',
     'AS-REQ', Y, N, N, N, N, N, NULL, NULL, Y),
    (f'{T} TGS-REQ alice@EXAMPLE.ORG from IPv4:10.0.0.1 for host/a.example.org@EXAMPLE.ORG',
     'TGS-REQ', Y, N, N, N, N, N, NULL, Y, Y),
    (f'{T} TGS-REQ bob@EXAMPLE.ORG from IPv6:fe80::1 for host/b.example.org@EXAMPLE.ORG',
     'TGS-REQ', Y, N, N, N, N, N, NULL, Y, Y),
    (f'{T} AS-REQ eve@EXAMPLE.ORG from IPv4:10.0.0.2 for TGS-REQ-proxy/x.example.org@EXAMPLE.ORG',
     'AS-REQ', Y, N, N, N, N, N, NULL, NULL, Y),
    (f'{T} AS-REQ TGS-REQ-bot@EXAMPLE.ORG from IPv4:10.0.0.2 for krbtgt/EXAMPLE.ORG@EXAMPLE.ORG',
     'AS-REQ', Y, N, N, N, N, N, NULL, NULL, Y),
    (f'{T} TGS-REQ mallory@EXAMPLE.ORG from IPv4:10.0.0.3 for host/c.example.org@EXAMPLE.ORG Ticket expired',
     'TGS-REQ', Y, N, N, N, N, N, NULL, Y, Y),
    (f'{T} AS-REQ mallory@EXAMPLE.ORG from IPv4:10.0.0.3 for krbtgt/EXAMPLE.ORG@EXAMPLE.ORG Failed to decrypt PA-DATA -- mallory',
     'AS-REQ', Y, N, N, N, N, N, NULL, NULL, Y),
    (f'{T} AS-REQ x@EXAMPLE.ORG from IPv4:10.0.0.3 for krbtgt/EXAMPLE.ORG@EXAMPLE.ORG {T} sending 10 bytes to IPv4:10.0.0.3',
     'AS-REQ', Y, N, N, N, N, N, NULL, NULL, Y),
    (f'{T} AS-REQ authtime: {T} starttime: unset endtime: {T} renew till: unset',
     '', N, N, N, N, N, N, NULL, NULL, N),
    (f'{T} TGS-REQ from nowhere Failed building TGS-REP',
     'UNKNOWN', N, N, Y, N, N, N, 'UNKNOWN', N, N),
    (f'{T} AS-REQ bad name@EXAMPLE.ORG from IPv4:10.0.0.4 for krbtgt/EXAMPLE.ORG@EXAMPLE.ORG',
     '', N, N, N, N, N, N, NULL, NULL, N),
    (f'{T} sending 752 bytes to IPv4:127.0.0.1',
     'SENDING', N, Y, N, N, N, N, NULL, NULL, N),
    (f'{T} sending 752 bytes to IPv4:127.0.0.1 Failed to verify checksum',
     'SENDING', N, Y, N, N, N, N, NULL, NULL, N),
    (f'{T} Failed to verify checksum {T} sending 60 bytes to IPv4:10.0.0.9',
     'SENDING', N, Y, N, N, N, N, NULL, NULL, N),
    (f'{T} sending lots of bytes to IPv4:127.0.0.1',
     '', N, N, N, N, N, N, NULL, NULL, N),
    (f'{T} ENC-TS Pre-authentication succeeded -- alice@EXAMPLE.ORG using aes256-cts-hmac-sha1-96',
     'PREAUTH', N, N, N, N, N, N, NULL, Y, N),
    (f'{T} ENC-TS Pre-authentication succeeded -- Client expired alice@EXAMPLE.ORG',
     'PREAUTH', N, N, N, N, N, N, NULL, Y, N),
    (f'{T} ENC-TS pre-authentication succeeded -- alice@EXAMPLE.ORG',
     '', N, N, N, N, N, N, NULL, NULL, N),
    (f'{T} Failed to decrypt PA-DATA -- alice@EXAMPLE.ORG',
     'BAD_PASSWORD', N, N, Y, N, N, N, 'BAD_PASSWORD', N, N),
    (f'{T} UNKNOWN -- bob@EXAMPLE.ORG',
     'BAD_NAME', N, N, Y, N, N, N, 'BAD_NAME', N, N),
    (f'{T} Client not found in database: no such entry',
     'BAD_NAME', N, N, Y, N, N, N, 'BAD_NAME', N, N),
    (f"{T} Client's key has expired carol@EXAMPLE.ORG",
     'UNUSABLE_NAME', N, N, Y, N, N, N, 'UNUSABLE_NAME', N, N),
    (f'{T} Principal may not act as server -- host/x@EXAMPLE.ORG',
     'UNUSABLE_NAME', N, N, Y, N, N, N, 'UNUSABLE_NAME', N, N),
    (f'{T} krb_rd_req: Decrypt integrity check failed',
     'BAD_AUTHENTICATION', N, N, Y, N, N, N, 'BAD_AUTHENTICATION', N, N),
    (f'{T} Too large time skew dave@EXAMPLE.ORG',
     'BAD_AUTHENTICATION', N, N, Y, N, N, N, 'BAD_AUTHENTICATION', N, N),
    (f'{T} Request to renew non-renewable ticket erin@EXAMPLE.ORG',
     'BAD_PARAMETERS', N, N, Y, N, N, N, 'BAD_PARAMETERS', N, N),
    (f'{T} Request to forward non-forwardable ticket erin@EXAMPLE.ORG',
     'BAD_PARAMETERS', N, N, Y, N, N, N, 'BAD_PARAMETERS', N, N),
    (f'{T} Failed building TGS-REP to frank@EXAMPLE.ORG',
     'UNKNOWN', N, N, Y, N, N, N, 'UNKNOWN', N, N),
    (f'{T} Ticket expired (krbtgt) Failed to decrypt PA-DATA -- x',
     'BAD_PASSWORD', N, N, Y, N, N, N, 'BAD_PASSWORD', N, N),
    (f'{T} Failed building TGS-REP Client expired',
     'UNUSABLE_NAME', N, N, Y, N, N, N, 'UNUSABLE_NAME', N, N),
    (f'{T} Server (host/x.example.org@EXAMPLE.ORG) has no support for etypes',
     'BAD_AUTHENTICATION', N, N, Y, N, N, N, 'BAD_AUTHENTICATION', N, N),
    (f'{T} Server host/x.example.org has no support for etypes',
     '', N, N, N, N, N, N, NULL, NULL, N),
    (f'{T} Client has no support for this request',
     '', N, N, N, N, N, N, NULL, NULL, N),
    (f'{T} Server (host/x@EXAMPLE.ORG) has no support for etypes; Returning a referral to realm OTHER.ORG',
     'BAD_AUTHENTICATION', N, N, Y, N, N, N, 'BAD_AUTHENTICATION', N, N),
    (f'{T} Client has no support; Failed building TGS-REP',
     'UNKNOWN', N, N, Y, N, N, N, 'UNKNOWN', N, N),
    (f'{T} Returning a referral to realm OTHER.ORG',
     'REFERRAL', N, N, N, N, Y, N, NULL, NULL, N),
    (f'{T} Failed to verify authenticator: Returning a referral to realm OTHER.ORG',
     'REFERRAL', N, N, N, N, Y, N, NULL, NULL, N),
    (f'{T} Failed to verify AP-REQ: no suitable key found',
     'VERIFY', N, N, Y, Y, N, N, NULL, N, Y),
    (f'{T} Failed to verify checksum: bad',
     'VERIFY', N, N, Y, Y, N, N, NULL, N, Y),
    (f'{T}  Failed to verify authenticator',
     'VERIFY', N, N, Y, Y, N, N, NULL, N, Y),
    (f'{T} Failed to verify AP-REQ without colon',
     '', N, N, N, N, N, N, NULL, NULL, N),
    ('Failed to verify checksum without a timestamp',
     '', N, N, N, N, N, N, NULL, NULL, N),
    (f'{T} Failed to verify checksum Ticket expired',
     'BAD_AUTHENTICATION', N, N, Y, N, N, N, 'BAD_AUTHENTICATION', N, N),
    (f'{T} Client supported enctypes: aes256-cts-hmac-sha1-96, des-cbc-crc, using aes256-cts-hmac-sha1-96/aes256-cts-hmac-sha1-96',
     '', N, N, N, N, N, Y, NULL, NULL, N),
    (f'{T} Client supported enctypes: des-cbc-crc, using des-cbc-crc Ticket expired',
     'BAD_AUTHENTICATION', N, N, Y, N, N, Y, 'BAD_AUTHENTICATION', N, N),
    (f'{T} Client supported enctypes: des-cbc-crc, using des-cbc-crc; Failed to verify checksum x',
     '', N, N, N, N, N, Y, NULL, NULL, N),
    (f'{T} Client sent patypes: ENC-TS, REQ-ENC-PA-REP',
     '', N, N, N, N, N, N, NULL, NULL, N),
    (f'{T} Requested flags: renewable-ok, proxiable, forwardable',
     '', N, N, N, N, N, N, NULL, NULL, N),
    ('',
     '', N, N, N, N, N, N, NULL, NULL, N),
]


def _table_frame(spark):
    return spark.createDataFrame(
        [(i, row[0]) for i, row in enumerate(CLASSIFIER_TABLE)], "i int, line string"
    )


def _check_table(rows, kind=True):
    assert len(rows) == len(CLASSIFIER_TABLE)
    for r, (line, exp_kind, *exp_feats) in zip(rows, CLASSIFIER_TABLE):
        assert tuple(r[k] for k in FEATURES) == tuple(exp_feats), line
        if kind:
            assert r["line_kind"] == exp_kind, line


def test_line_features_keys(spark):
    assert tuple(line_features(F.col("line"))) == FEATURES


def test_classifier_table_inline(spark):
    """line_features as self-contained expressions (the traced decomposition
    path) reproduce the table."""
    feats = line_features(F.col("line"))
    rows = (
        _table_frame(spark)
        .select(
            "i",
            line_kind(F.col("line")).alias("line_kind"),
            *[v.alias(k) for k, v in feats.items()],
        )
        .orderBy("i")
        .collect()
    )
    _check_table(rows)


def test_classifier_table_featurize(spark):
    """The two-projection path the sessionizers use reproduces the table."""
    rows = featurize(_table_frame(spark), "i", "line").orderBy("i").collect()
    _check_table(rows, kind=False)
