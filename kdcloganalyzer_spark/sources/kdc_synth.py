"""Deterministic synthetic Heimdal KDC log generator.

The reference ships no test corpus beyond an 11-line sample embedded in a
comment (KDCLogFileInputType.java:29-41); this generator synthesizes
arbitrarily large log directories in that exact format, covering the full
§2.4 error taxonomy, so the KDC pipeline can be exercised at driver scale
factors. Seeded → byte-identical across runs.

Mix (per 100 records): ~55 AS success, ~15 TGS success, ~10 AS without
preauth, ~14 errors across the taxonomy, ~3 referrals, ~2 headerless
verify failures, ~1 interleaved double-header.
"""

from __future__ import annotations

import gzip
import os
import random
from datetime import datetime, timedelta

REALM = "EXAMPLE.ORG"

ERROR_LINES = [
    ("Failed to decrypt PA-DATA -- {user}@{realm}", "BAD_PASSWORD"),
    ("UNKNOWN -- {user}@{realm}", "BAD_NAME"),
    ("Client not found in database: {user}@{realm}", "BAD_NAME"),
    ("Server not found in database: {svc}@{realm}", "BAD_NAME"),
    ("Client expired {user}@{realm}", "UNUSABLE_NAME"),
    ("Client's key has expired: {user}@{realm}", "UNUSABLE_NAME"),
    ("krb_rd_req: error in {svc}", "BAD_AUTHENTICATION"),
    ("Too large time skew for {user}@{realm}", "BAD_AUTHENTICATION"),
    ("No key matches pa-data of {user}@{realm}", "BAD_AUTHENTICATION"),
    ("Ticket expired ({user}@{realm})", "BAD_AUTHENTICATION"),
    ("Request to renew non-renewable ticket {user}@{realm}", "BAD_PARAMETERS"),
    ("Failed building TGS-REP to {user}@{realm}", "UNKNOWN"),
]

ENCTYPES = [
    "aes256-cts-hmac-sha1-96",
    "aes128-cts-hmac-sha1-96",
    "des3-cbc-sha1",
    "arcfour-hmac-md5",
]


def _ts(base: datetime, i: int) -> str:
    return (base + timedelta(seconds=7 * i)).strftime("%Y-%m-%dT%H:%M:%S")


def _record(rng: random.Random, ts: str, next_ts: str) -> list[str]:
    user = f"user{rng.randint(0, 499)}"
    svc = rng.choice([f"krbtgt/{REALM}", f"host/srv{rng.randint(0, 49)}.example.org"])
    ip = f"IPv4:10.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(1, 254)}"
    etypes = rng.sample(ENCTYPES, k=rng.randint(2, 4))
    chosen = etypes[0]
    as_hdr = f"{ts} AS-REQ {user}@{REALM} from {ip} for krbtgt/{REALM}@{REALM}"
    tgs_hdr = f"{ts} TGS-REQ {user}@{REALM} from {ip} for {svc}@{REALM}"
    sending = f"{next_ts} sending {rng.randint(100, 2000)} bytes to {ip}"
    enc_line = (
        f"{ts} Client supported enctypes: {', '.join(etypes)}, using {chosen}"
    )
    preauth = f"{ts} ENC-TS Pre-authentication succeeded -- {user}@{REALM} using {chosen}"

    roll = rng.random()
    if roll < 0.55:  # AS success
        return [
            as_hdr,
            f"{ts} Client sent patypes: ENC-TS, REQ-ENC-PA-REP",
            f"{ts} Looking for ENC-TS pa-data -- {user}@{REALM}",
            preauth,
            enc_line,
            sending,
        ]
    if roll < 0.70:  # TGS success (enctype negotiation logged here too)
        return [tgs_hdr, f"{ts} TGS-REQ authtime: {ts}", enc_line, sending]
    if roll < 0.80:  # AS without preauth ("Missing Pre-authentication")
        return [as_hdr, f"{ts} Client sent patypes: ENC-TS", sending]
    if roll < 0.94:  # one taxonomy error
        tmpl, _cls = rng.choice(ERROR_LINES)
        hdr = as_hdr if rng.random() < 0.5 else tgs_hdr
        return [hdr, f"{ts} " + tmpl.format(user=user, realm=REALM, svc=svc), sending]
    if roll < 0.97:  # referral
        return [as_hdr, preauth, f"{ts} Returning a referral to realm OTHER.ORG", sending]
    if roll < 0.99:  # headerless verify failure
        return [f"{ts} Failed to verify AP-REQ: no suitable key", sending]
    # interleaved double header (quirk B5)
    tmpl, _cls = rng.choice(ERROR_LINES)
    return [
        as_hdr,
        f"{ts} " + tmpl.format(user=user, realm=REALM, svc=svc),
        tgs_hdr,
        sending,
    ]


def generate_logs(
    out_dir: str,
    n_records: int,
    n_files: int = 32,
    seed: int = 42,
    gzip_last: bool = True,
) -> str:
    """Write ``n_records`` synthetic KDC records across ``n_files`` files.

    Idempotent: skips generation if the done-marker exists. Returns out_dir.
    """
    marker = os.path.join(out_dir, f".done-{n_records}-{n_files}-{seed}")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    base = datetime(2015, 11, 22, 0, 0, 0)
    per_file = n_records // n_files
    i = 0
    for f_idx in range(n_files):
        n = per_file if f_idx < n_files - 1 else n_records - per_file * (n_files - 1)
        lines: list[str] = []
        for _ in range(n):
            lines.extend(_record(rng, _ts(base, i), _ts(base, i + 1)))
            i += 1
        body = "\n".join(lines) + "\n"
        if gzip_last and f_idx == n_files - 1:
            with gzip.open(os.path.join(out_dir, f"kdc-{f_idx:02d}.log.gz"), "wt") as f:
                f.write(body)
        else:
            with open(os.path.join(out_dir, f"kdc-{f_idx:02d}.log"), "w") as f:
                f.write(body)
    open(marker, "w").close()
    return out_dir


def sf_label(sf_dir: str, default: str | None = None) -> str:
    """The scale factor as written in the first ``sf<number>`` of a
    path ("0.01" for ``/data/sf0.01``), for staged-path names and
    corpus sizing.

    Returns ``default`` when the path names no scale factor, or raises
    ValueError when there is no default."""
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    if m is not None:
        return m.group(1)
    if default is None:
        raise ValueError(f"no scale factor (sf<number>) in {sf_dir!r}")
    return default


def n_records_for_sf(sf_dir: str) -> int:
    """KDC corpus size for an sf dir: 1M records per sf unit, at least
    200, with sf read from the first ``sf<number>`` in the path.

    Raises ValueError when the path names no scale factor."""
    return max(200, int(1_000_000 * float(sf_label(sf_dir))))


def synth_path_for_sf(sf_dir: str) -> str:
    """Deterministic corpus dir for an sf — path only, NO generation
    (safe at import time; oracle SQL strings embed this path)."""
    # v2: TGS-success records carry the enctype-negotiation line (bump the
    # dir name to invalidate pre-change cached corpora in /tmp).
    return f"/tmp/kdc_synth_v2_{n_records_for_sf(sf_dir)}"


def synth_dir_for_sf(sf_dir: str) -> str:
    """Map a driver sf dir to a generated KDC log dir (1M records/sf unit).

    sf0.001 → 1k records, sf0.01 → 10k, sf0.1 → 100k (~700k lines).
    """
    return generate_logs(synth_path_for_sf(sf_dir), n_records_for_sf(sf_dir))
