"""Independent KDC reader and the order-insensitive records digest.

The ingest workload's output check. The reader is a line-by-line state
machine written from the reference reader's rules
(KDCLogRecordReader.java:208-324, FIXTURES.md §1): the LAST header wins,
the FIRST error line sets the error, every error line clears success,
and a record with no ``sending`` terminator is dropped. It imports
nothing from the engine's ``functions`` or ``operators`` layers, so a
parser or sessionizer regression shows up as a digest mismatch instead
of agreeing with itself.

A digest is ``(count, sum of 64-bit row hashes mod 2**64)``: independent
of row order and file layout, sensitive to any dropped, duplicated or
altered record.
"""

from __future__ import annotations

import glob
import gzip
import hashlib
import os
import re

_TS = r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}"
_ATOM = r"[-/_\.a-zA-Z0-9]+"
_REALM = r"[-\.a-zA-Z0-9]+"
_ADDR = r"(?:IPv4:[\d\.]+|IPv6:[0-9a-fA-F\.:]+)"
HEADER = re.compile(
    rf"({_TS})\s+((?:AS|TGS)-REQ)\s+({_ATOM})@({_REALM})"
    rf"\s+from\s+({_ADDR})\s+for\s+({_ATOM})@({_REALM})"
)
SENDING = re.compile(rf"{_TS}\s+sending\s+\d+\s+bytes\s+to\s+{_ADDR}")
VERIFY = re.compile(rf"({_TS})\s+(Failed to verify (?:AP-REQ:|checksum|authenticator).*)")
BAD_SERVER_ETYPE = re.compile(r"\bServer \(.*\) has no support.*\betypes\b")
ENCTYPES = re.compile(r"Client supported enctypes: (.*) using (\S+)")
LINE_TS = re.compile(rf"^({_TS})")

# The reference's if/else-if error chain, in order; None marks the one
# regex member.
ERROR_CHAIN = (
    ("BAD_PASSWORD", ("Failed to decrypt PA-DATA --",)),
    ("BAD_NAME", (
        "UNKNOWN --", "Client no longer in database",
        "Client not found in database", "Server not found in database",
    )),
    ("UNUSABLE_NAME", (
        "Client expired", "Client's key has expired", "Server's key has expired",
        "Principal may not act as server", "Principal may not act as client",
    )),
    ("BAD_AUTHENTICATION", (
        "krb_rd_req:", "Too large time skew", "No key matches pa-data", None,
        "Addition ticket have not matching etypes",
        "Bad request for renewable ticket", "Ticket expired",
    )),
    ("BAD_PARAMETERS", (
        "equest to forward non-forwardable ticket",
        "equest to renew non-renewable ticket",
    )),
    ("UNKNOWN", ("Failed building TGS-REP",)),
)

#: digest row layout; ``ts`` is rendered as its UTC wall string
COLUMNS = (
    "ts", "ts_raw", "req_type", "client", "crealm", "service", "srealm",
    "client_ip", "valid", "success", "referral", "error_class", "error",
    "enctypes", "chosen_enctype",
)


def error_class(line: str) -> str | None:
    for cls, needles in ERROR_CHAIN:
        for s in needles:
            if s is None:
                if "has no support" in line and BAD_SERVER_ETYPE.search(line):
                    return cls
            elif s in line:
                return cls
    return None


def _emit(header, ts_line, success, referral, error, err_cls, enc_line):
    ts_raw = None
    if ts_line is not None:
        m = LINE_TS.match(ts_line)
        ts_raw = m.group(1) if m else None
    req_type = client = crealm = service = srealm = client_ip = None
    if header is not None:
        m = HEADER.search(header)
        req_type = "AUTH" if m.group(2) == "AS-REQ" else "TGS"
        client, crealm, client_ip = m.group(3), m.group(4), m.group(5)
        service, srealm = m.group(6), m.group(7)
    enctypes = chosen = None
    if enc_line is not None:
        m = ENCTYPES.search(enc_line)
        if m:
            lst = re.sub(r"[,\s]+$", "", m.group(1))
            enctypes = tuple(re.split(r",\s*", lst)) if lst else None
            chosen = m.group(2) or None
    return (
        ts_raw, ts_raw, req_type, client, crealm, service, srealm, client_ip,
        header is not None, bool(success), referral, err_cls, error,
        enctypes, chosen,
    )


def read_records(lines):
    """Records of one file's lines, in file order."""
    header = ts_line = success = error = err_cls = enc_line = None
    referral = False
    for line in lines:
        if m := HEADER.search(line):
            header = ts_line = line
            if m.group(2) == "TGS-REQ":
                success = True
        elif SENDING.search(line):
            yield _emit(header, ts_line, success, referral, error, err_cls, enc_line)
            header = ts_line = success = error = err_cls = enc_line = None
            referral = False
        elif "Pre-authentication succeeded" in line:
            success = True
        elif (cls := error_class(line)) is not None:
            if error is None:
                error, err_cls = line, cls
            success = False
        elif "eturning a referral to realm" in line:
            referral = True
        elif m := VERIFY.search(line):
            ts_line = line
            if error is None:
                error, err_cls = m.group(2), "BAD_AUTHENTICATION"
            success = False
        if "Client supported enctypes: " in line:
            enc_line = line


def corpus_files(log_dir: str) -> list[str]:
    return sorted(
        glob.glob(os.path.join(log_dir, "*.log"))
        + glob.glob(os.path.join(log_dir, "*.log.gz"))
    )


def read_lines(path: str) -> list[str]:
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt") as f:
        return f.read().splitlines()


def corpus_lines(log_dir: str) -> int:
    return sum(len(read_lines(p)) for p in corpus_files(log_dir))


def corpus_records(log_dir: str):
    for path in corpus_files(log_dir):
        yield from read_records(read_lines(path))


def digest(rows) -> str:
    n, acc = 0, 0
    for row in rows:
        h = hashlib.md5(repr(row).encode()).digest()
        acc = (acc + int.from_bytes(h[:8], "little")) % (1 << 64)
        n += 1
    return f"{n}:{acc:016x}"


def corpus_digest(log_dir: str) -> str:
    return digest(corpus_records(log_dir))


def parquet_rows(path: str):
    """Rows of a written records table in the digest layout."""
    import pyarrow.parquet as pq

    cols = pq.read_table(path, columns=list(COLUMNS)).to_pydict()
    cols["ts"] = [
        None if t is None else t.strftime("%Y-%m-%dT%H:%M:%S") for t in cols["ts"]
    ]
    cols["enctypes"] = [None if e is None else tuple(e) for e in cols["enctypes"]]
    return zip(*(cols[c] for c in COLUMNS))
