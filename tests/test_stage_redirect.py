"""The staged-path redirect contract.

perfbench's ``redirect_engine`` (perfbench/inputs.py) moves every staged
input into its work dir by rebinding each module attribute whose name
ends in ``_path_for_sf``. That holds only while the helpers keep their
names and modules, and while every publisher looks its helper up when it
runs: a publisher that captured the helper at import would stage into
the real /tmp, and the ``query_mix`` oracle check would read that.
``appcache.persistent_stage`` (the stream feeds) is rooted at the
tempfile root instead, which redirect_engine sets too."""

from __future__ import annotations

import os
import sys
import tempfile

from kdcloganalyzer_spark import appcache
from kdcloganalyzer_spark.plans import registry

PATH_HELPERS = {
    "kdcloganalyzer_spark.plans.kdc_queries.records_path_for_sf":
        "/tmp/kdc_records_r1_kdc_synth_v2_10000",
    "kdcloganalyzer_spark.plans.relational.evolution_path_for_sf":
        "/tmp/schema_evo_v1_0.01",
    "kdcloganalyzer_spark.plans.relational.multiline_json_path_for_sf":
        "/tmp/json_multiline_v2_0.01",
    "kdcloganalyzer_spark.plans.relational.commit_log_path_for_sf":
        "/tmp/commit_log_v1_0.01",
    "kdcloganalyzer_spark.plans.relational.binfiles_path_for_sf":
        "/tmp/binfiles_v1_0.01",
    "kdcloganalyzer_spark.plans.relational.nested_path_for_sf":
        "/tmp/nested_events_v1_0.01",
    "kdcloganalyzer_spark.plans.relational.manifest_path_for_sf":
        "/tmp/orders_manifest_v1_0.01",
    "kdcloganalyzer_spark.plans.relational.fixed_width_path_for_sf":
        "/tmp/orders_fixedwidth_v1_0.01",
    "kdcloganalyzer_spark.plans.round12_ops._multisep_path_for_sf":
        "/tmp/kdcspark_multisep_sf0.01_123456789_3",
    "kdcloganalyzer_spark.plans.round9_ops.hive_part_path_for_sf":
        "/tmp/hive_part_orders_v1_0.01",
    "kdcloganalyzer_spark.plans.round9_ops.corrupt_scan_path_for_sf":
        "/tmp/corrupt_scan_v1_0.01",
    "kdcloganalyzer_spark.plans.streaming_queries.tail_records_path_for_sf":
        "/tmp/kdc_tail_records_r1_kdc_synth_v2_10000",
    "kdcloganalyzer_spark.sources.kdc_synth.synth_path_for_sf":
        "/tmp/kdc_synth_v2_10000",
}


def test_path_helpers_keep_name_module_and_value(tmp_path):
    """The set redirect_engine finds (same selection rule), and what
    each returns for an sf0.01 dir (whose documents file, which the
    multisep path fingerprints, has a fixed size and mtime)."""
    registry.load_all()
    sf_dir = tmp_path / "sf0.01"
    sf_dir.mkdir()
    docs = sf_dir / "documents.parquet"
    docs.write_bytes(b"doc")
    os.utime(docs, ns=(1_700_000_000_123_456_789,) * 2)
    found = {}
    for name, mod in list(sys.modules.items()):
        if not name.startswith("kdcloganalyzer_spark") or mod is None:
            continue
        for attr, val in vars(mod).items():
            if (
                attr.endswith("_path_for_sf")
                and callable(val)
                and getattr(val, "__module__", "") == name
            ):
                found[f"{name}.{attr}"] = val(str(sf_dir))
    assert found == PATH_HELPERS


def test_publishers_stage_where_the_rebound_helper_points(
    spark, sf_dir, tmp_path, monkeypatch
):
    from kdcloganalyzer_spark.plans import kdc_queries, relational

    records, binfiles = tmp_path / "records", tmp_path / "binfiles"
    monkeypatch.setattr(kdc_queries, "records_path_for_sf", lambda _: str(records))
    monkeypatch.setattr(relational, "binfiles_path_for_sf", lambda _: str(binfiles))

    assert kdc_queries.kdc_records_parquet(spark, sf_dir) == str(records)
    assert (records / "_SUCCESS").exists()
    n_records = spark.read.parquet(str(records)).count()
    assert n_records == kdc_queries.kdc_records(spark, sf_dir).count() > 0

    rows = registry.QUERIES["scan_binaryfile_source"](spark, sf_dir).collect()
    assert (binfiles / "_SUCCESS").exists()
    staged = sorted(p.name for p in binfiles.glob("doc_*.txt"))
    assert staged and sorted(r["fname"] for r in rows) == staged


def test_persistent_stage_publishes_under_the_tempdir(tmp_path, monkeypatch):
    """A content-fingerprinted stream feed is rooted at the tempfile
    root, which redirect_engine points at its work dir."""
    src = tmp_path / "events.parquet"
    src.write_bytes(b"rows")
    root = tmp_path / "tmp"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))

    out = appcache.persistent_stage("probe", [str(src)], lambda d: None)
    assert os.path.dirname(out) == str(root)
    assert os.path.basename(out).startswith("kdcspark_stage_probe_")
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
