"""Batch-equivalence for the growing-single-file streaming sessionizer
(stream_sessionize_tail): one KDC log fed in 3 chunks whose boundaries
fall MID-RECORD must assemble to exactly the records the batch
sessionizer produces for the same file — the cross-batch partial-record
tail is the whole point (VERDICT r5 item 5; reference record assembly
KDCLogRecordReader.java:208-324).
"""

from __future__ import annotations

import os

from kdcloganalyzer_spark.operators.sessionize import sessionize
from kdcloganalyzer_spark.plans import registry
from kdcloganalyzer_spark.plans import streaming_queries as SQ
from kdcloganalyzer_spark.sources.kdc_log import read_log_lines
from kdcloganalyzer_spark.sources.kdc_synth import synth_dir_for_sf

registry.load_all()


def _canon(df):
    rows = [r.asDict() for r in df.collect()]
    for r in rows:
        if isinstance(r.get("enctypes"), list):
            r["enctypes"] = tuple(r["enctypes"])
    return sorted(
        (tuple(sorted(r.items(), key=lambda kv: kv[0])) for r in rows),
        key=repr,
    )


def test_tail_sessionizer_equals_batch(spark, sf_dir):
    log_dir = synth_dir_for_sf(sf_dir)
    streamed = SQ.stream_sessionize_tail_kdc(spark, log_dir, n_chunks=3)
    src = sorted(f for f in os.listdir(log_dir) if f.endswith(".log"))[0]
    batch = sessionize(
        read_log_lines(spark, os.path.join(log_dir, src))
    )
    s_rows, b_rows = _canon(streamed), _canon(batch)
    assert len(s_rows) > 0
    assert s_rows == b_rows


def test_tail_chunks_straddle_records(spark, sf_dir):
    """The staging really does cut mid-record: the first chunk must NOT
    end on a terminator line — otherwise the test proves nothing about
    cross-batch assembly."""
    import json

    log_dir = synth_dir_for_sf(sf_dir)
    d, srcs = SQ._staged_tail_chunks(log_dir, 3)
    chunk0 = os.path.join(d, f"chunk00_{srcs[0]}.json")
    with open(chunk0) as f:
        last = json.loads(f.read().splitlines()[-1])["line"]
    assert " sending " not in last


def test_tail_registered_query_runs(spark, sf_dir):
    out = registry.QUERIES["stream_sessionize_tail"](spark, sf_dir)
    assert out.count() > 0


def test_two_concurrently_growing_files(spark, sf_dir):
    """Two files growing at once, chunks interleaved into the same
    micro-batches: per-file state rows must assemble each file exactly
    as the batch sessionizer does — no cross-file bleed, no lost
    boundary records."""
    log_dir = synth_dir_for_sf(sf_dir)
    streamed = SQ.stream_sessionize_tail_kdc(
        spark, log_dir, n_chunks=2, n_files=2
    )
    srcs = sorted(f for f in os.listdir(log_dir) if f.endswith(".log"))[:2]
    batch = sessionize(
        read_log_lines(
            spark, [os.path.join(log_dir, s) for s in srcs]
        )
    )
    s_rows, b_rows = _canon(streamed), _canon(batch)
    assert len(s_rows) > 0
    assert s_rows == b_rows
