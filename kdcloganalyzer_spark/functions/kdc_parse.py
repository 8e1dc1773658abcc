"""Line-level KDC log parsing expressions (all JVM-side built-ins).

Faithful re-expression of the reference reader's per-line state machine
(KDCLogRecordReader.java:208-324) as Spark columns. Patterns are from
KDCLogRecordReader.java:47-81; the per-line check PRECEDENCE mirrors the
if/else-if chain exactly (header:236 → sending:267 → preauth:270 →
error chain:272-297 → referral:298 → headerless verify:300-309):

- a header line is never error-classified (the `continue` at reader:265);
- within a line, the first matching class in chain order wins;
- the headerless "Failed to verify ..." regexes are only consulted when
  nothing else matched (the trailing `else` at reader:300).

Performance layout: the per-line pass is ONE classification, ``line_kind``
— a single CASE that walks the chain above once and names the first class
that matches. Every regex sits behind a cheap ``contains()`` guard, so the
common line never runs a regex to completion, and each pattern appears
once in the tree. The feature columns (``kind_features``) are then plain
comparisons on that one value; the sessionizer projects ``_kind`` once and
derives them in a second projection, so the optimized plan carries the
CASE once (~9k characters, 3 RLIKE / 28 Contains nodes) instead of nine
trees that each re-embed the negations of every earlier class (~58k
characters, 150 RLIKE / 586 Contains). The expensive 7-group header
extraction and enctype split run AFTER record aggregation, once per record
on the single surviving line (``header_fields`` / ``enctype_fields``).
Everything compiles into whole-stage-codegen projections — no Python, no
shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# KDCLogRecordReader.java:47-49
TIMESTAMP = r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}"
ATOM = r"[-/_\.a-zA-Z0-9]+"
REALM = r"[-\.a-zA-Z0-9]+"

# KDCLogRecordReader.java:50-54 (matchInitial) — groups:
# 1=ts 2=reqtype 3=client 4=crealm 5=ip 6=service 7=srealm
HEADER_RE = (
    f"({TIMESTAMP})\\s+((?:AS|TGS)-REQ)\\s+({ATOM})@({REALM})"
    f"\\s+from\\s+(IPv4:[\\d\\.]+|IPv6:[\\p{{XDigit}}\\.:]+)"
    f"\\s+for\\s+({ATOM})@({REALM})"
)

# KDCLogRecordReader.java:79-81 (matchSending — the record terminator)
SENDING_RE = (
    f"{TIMESTAMP}\\s+sending\\s+\\d+\\s+bytes\\s+to\\s+"
    f"(?:IPv4:[\\d\\.]+|IPv6:[\\p{{XDigit}}\\.:]+)"
)

# KDCLogRecordReader.java:76-77 — headerless failures, merged into one
# pattern (semantics preserved: AP-REQ variant requires the colon).
# Groups: 1=ts 2=message
VERIFY_RE = (
    f"({TIMESTAMP})\\s+(Failed to verify (?:AP-REQ:|checksum|authenticator).*)"
)

# matchBadServerEtype (reader:75) uses .matches() on .*X.* — equivalent to
# find() of the inner pattern.
BAD_SERVER_ETYPE_RE = r"\bServer \(.*\) has no support.*\betypes\b"

# perl kdcmapper-with-enctypes.pl:78-81
ENCTYPES_RE = r"Client supported enctypes: (.*) using (\S+)"
ENCTYPES_GUARD = "Client supported enctypes: "

PREAUTH_SUBSTR = "Pre-authentication succeeded"  # reader:55
REFERRAL_SUBSTR = "eturning a referral to realm"  # reader:78

# The §2.4 taxonomy: (class, [trigger substrings]) in exact chain order
# (KDCLogRecordReader.java:272-297).
ERROR_CHAIN: list[tuple[str, list[str]]] = [
    ("BAD_PASSWORD", ["Failed to decrypt PA-DATA --"]),  # reader:56,272
    (
        "BAD_NAME",  # reader:57,68-70,274-278
        [
            "UNKNOWN --",
            "Client no longer in database",
            "Client not found in database",
            "Server not found in database",
        ],
    ),
    (
        "UNUSABLE_NAME",  # reader:58-62,279-284
        [
            "Client expired",
            "Client's key has expired",
            "Server's key has expired",
            "Principal may not act as server",
            "Principal may not act as client",
        ],
    ),
    (
        "BAD_AUTHENTICATION",  # reader:63-66,71-72,75,285-292
        [
            "krb_rd_req:",
            "Too large time skew",
            "No key matches pa-data",
            "@BAD_SERVER_ETYPE@",  # regex, handled specially
            "Addition ticket have not matching etypes",
            "Bad request for renewable ticket",
            "Ticket expired",
        ],
    ),
    (
        "BAD_PARAMETERS",  # reader:73-74,293-295
        [
            "equest to forward non-forwardable ticket",
            "equest to renew non-renewable ticket",
        ],
    ),
    ("UNKNOWN", ["Failed building TGS-REP"]),  # reader:67,296-297
]


#: ``line_kind`` values, one per branch of the reader's per-line chain.
#: Header lines carry the extracted request type itself (group 2).
KIND_AS, KIND_TGS = "AS-REQ", "TGS-REQ"
KIND_SENDING, KIND_PREAUTH = "SENDING", "PREAUTH"
KIND_REFERRAL, KIND_VERIFY = "REFERRAL", "VERIFY"
KIND_OTHER = ""
CHAIN_CLASSES = [cls for cls, _ in ERROR_CHAIN]


def _contains_any(line: Column, substrings: list[str]) -> Column:
    cond = F.lit(False)
    for s in substrings:
        if s == "@BAD_SERVER_ETYPE@":
            # contains guard before the only regex in the chain
            cond = cond | (
                line.contains("has no support") & line.rlike(BAD_SERVER_ETYPE_RE)
            )
        else:
            cond = cond | line.contains(s)
    return cond


def line_kind(line: Column) -> Column:
    """The reader's per-line if/else-if chain as ONE classification.

    Header (AS vs TGS, the extracted request type) → sending → preauth →
    the six ``ERROR_CHAIN`` classes → referral → headerless verify;
    ``KIND_OTHER`` when nothing matches. Every regex sits behind a cheap
    ``contains()`` guard, and each appears once in the tree.
    """
    # The header regex runs once per guarded line. A map lookup, not
    # nullif, turns its '' (no match) into NULL so the line falls through
    # to the rest of the chain: nullif plans a separate common-expression
    # projection per use, which would stop codegen from sharing one
    # line_kind between the self-contained line_features columns.
    header = F.when(
        (line.contains("AS-REQ") | line.contains("TGS-REQ"))
        & line.contains(" from "),
        F.element_at(
            F.create_map(
                F.lit(KIND_AS), F.lit(KIND_AS), F.lit(KIND_TGS), F.lit(KIND_TGS)
            ),
            F.regexp_extract(line, HEADER_RE, 2),
        ),
    )
    rest = F.when(
        line.contains(" sending ") & line.rlike(SENDING_RE), F.lit(KIND_SENDING)
    ).when(line.contains(PREAUTH_SUBSTR), F.lit(KIND_PREAUTH))
    for cls, subs in ERROR_CHAIN:
        rest = rest.when(_contains_any(line, subs), F.lit(cls))
    rest = (
        rest.when(line.contains(REFERRAL_SUBSTR), F.lit(KIND_REFERRAL))
        .when(
            line.contains("Failed to verify ") & line.rlike(VERIFY_RE),
            F.lit(KIND_VERIFY),
        )
        .otherwise(F.lit(KIND_OTHER))
    )
    return F.coalesce(header, rest)


def kind_features(kind: Column, line: Column) -> dict[str, Column]:
    """The per-line feature columns, derived from a ``line_kind`` value.

    ``kind`` should be a projected column: every feature reads it, so an
    inline ``line_kind`` tree would be re-embedded once per feature.
    """
    is_header = kind.isin(KIND_AS, KIND_TGS)
    is_verify = kind == KIND_VERIFY
    is_error = kind.isin(*CHAIN_CLASSES, KIND_VERIFY)
    return {
        "is_header": is_header,
        "is_sending": kind == KIND_SENDING,
        "is_error": is_error,
        "is_verify": is_verify,
        "is_referral": kind == KIND_REFERRAL,
        "is_enctypes": line.contains(ENCTYPES_GUARD),
        "chain_class": F.when(kind.isin(*CHAIN_CLASSES), kind),
        # success: preauth → true (reader:271); TGS header → true
        # (reader:252, on the EXTRACTED request type — a whole-line
        # contains("TGS-REQ") would also fire on an AS-REQ whose
        # principal embeds the substring; ATOM allows '-'); any error
        # line → false (setErrorIfUnset always clears success,
        # KDCLogRecord.java:187). Last effect wins at the record level.
        "success_effect": F.when(
            kind.isin(KIND_PREAUTH, KIND_TGS), F.lit(True)
        ).when(is_error, F.lit(False)),
        # ts is (re)set by header lines and headerless verify lines
        # (reader:245,304,307) — both start with the timestamp.
        "sets_ts": is_header | is_verify,
    }


def line_features(line: Column) -> dict[str, Column]:
    """Per-line boolean/classification columns (the cheap pass), each a
    self-contained expression over ``line``.

    For a projection of all of them, prefer projecting ``line_kind`` once
    and ``kind_features`` over it (``operators.sessionize.featurize``).
    Heavy field extraction happens per-record in ``header_fields`` /
    ``enctype_fields``.
    """
    return kind_features(line_kind(line), line)


def header_fields(header_line: Column) -> dict[str, Column]:
    """7-group extraction from a record's last header line (reader:234-266)."""
    g = lambda i: F.regexp_extract(header_line, HEADER_RE, i)  # noqa: E731
    return {
        "hdr_ts": g(1),
        "hdr_reqtype": g(2),
        "client": g(3),
        "crealm": g(4),
        "client_ip": g(5),
        "service": g(6),
        "srealm": g(7),
    }


def enctype_fields(enc_line: Column) -> tuple[Column, Column]:
    """(enctypes array, chosen enctype) from a 'Client supported enctypes'
    line (perl kdcmapper-with-enctypes.pl:78-81). Trailing separators
    trimmed: perl split drops trailing empty fields."""
    enc_list = F.nullif(
        F.regexp_replace(
            F.regexp_extract(enc_line, ENCTYPES_RE, 1), r"[,\s]+$", ""
        ),
        F.lit(""),
    )
    enctypes = F.when(enc_list.isNotNull(), F.split(enc_list, r",\s*"))
    chosen = F.nullif(F.regexp_extract(enc_line, ENCTYPES_RE, 2), F.lit(""))
    return enctypes, chosen
