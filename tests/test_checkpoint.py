"""Resumability: lineage manifest + skip of completed sinks."""

import os
import tempfile

import pyspark.sql.functions as F

from fluent_plugin_kubernetes_metadata_filter_spark import pipeline
from fluent_plugin_kubernetes_metadata_filter_spark.checkpoint import (
    LineageManifest,
    input_snapshot_id,
    resumable_fanout_write,
)
from fluent_plugin_kubernetes_metadata_filter_spark.io import aux_dir

SF = "/root/testdata/sf0.001"


def test_snapshot_id_stable(spark):
    base = aux_dir(SF)
    a = input_snapshot_id(spark, base)
    b = input_snapshot_id(spark, base)
    assert a == b and len(a) == 32


def test_resumable_write_skips_completed(spark):
    df = pipeline.enrich_transcripts(spark, SF).select(
        "conv_id", "turn_idx", "text", "namespace_name"
    )
    out = tempfile.mkdtemp(prefix="ckpt-out-")
    mdir = tempfile.mkdtemp(prefix="ckpt-manifest-")
    manifest = LineageManifest(mdir)
    snap = input_snapshot_id(spark, aux_dir(SF))

    first = resumable_fanout_write(df, out, manifest, snap, sink_batch=50)
    assert len(first) > 0
    total_rows = sum(r.rows for r in first)
    assert total_rows == df.count()

    # second run: everything already recorded -> nothing written
    second = resumable_fanout_write(df, out, manifest, snap, sink_batch=50)
    assert second == []

    # a different snapshot id is NOT considered complete
    third = resumable_fanout_write(df, out, manifest, "other-snap", sink_batch=50)
    assert len(third) == len(first)

    # manifest survives as JSONL
    lines = open(os.path.join(mdir, "lineage.jsonl")).read().strip().splitlines()
    assert len(lines) == len(first) + len(third)


def test_partial_resume(spark):
    """Simulate a crash: pre-record half the sinks, run resumes the rest."""
    df = pipeline.enrich_transcripts(spark, SF).select("conv_id", "turn_idx", "namespace_name")
    out = tempfile.mkdtemp(prefix="ckpt-out-")
    mdir = tempfile.mkdtemp(prefix="ckpt-manifest-")
    manifest = LineageManifest(mdir)
    snap = "snap-x"

    sinks = [
        r[0]
        for r in df.select(
            F.coalesce("namespace_name", F.lit("__passthrough__"))
        ).distinct().collect()
    ]
    from fluent_plugin_kubernetes_metadata_filter_spark.checkpoint import LineageRecord

    pre = sorted(sinks)[: len(sinks) // 2]
    for s in pre:
        manifest.record(LineageRecord(s, 0, snap, 0.0, 0.0))

    rest = resumable_fanout_write(df, out, manifest, snap, sink_batch=100)
    assert {r.sink for r in rest} == set(sinks) - set(pre)


def test_run_resumable_end_to_end(spark, tmp_path):
    """North-rule composition: counts + counters + lineage from ONE DAG
    execution; an immediate re-run with the same manifest skips every
    sink (lineage empty) because the input snapshot is unchanged."""
    from fluent_plugin_kubernetes_metadata_filter_spark import pipeline

    out, man = str(tmp_path / "out"), str(tmp_path / "manifest")
    r1 = pipeline.run_resumable(spark, "/root/testdata/sf0.001", out, man)
    assert r1["counts"] and sum(r1["counts"].values()) > 0
    assert r1["stats"]["events_total"] > 0 and r1["stats"]["pod_enriched"] > 0
    assert len(r1["lineage"]) == len(r1["counts"])
    # the written output matches the plain run's per-sink counts — both
    # entry points label the null-route sink with the same constant
    plain = {r.sink: r.n_rows for r in pipeline.run(spark, "/root/testdata/sf0.001").collect()}
    assert r1["counts"] == plain
    # resume: same snapshot -> nothing rewritten
    r2 = pipeline.run_resumable(spark, "/root/testdata/sf0.001", out, man)
    assert r2["lineage"] == [] and r2["input_snapshot"] == r1["input_snapshot"]


def test_run_and_run_resumable_write_same_rows(spark, tmp_path):
    """Both entry points compose through pipeline.routed_frames: the
    rows they write are the same multiset, and run_resumable's counters
    are attached exactly once (events_total == rows written)."""
    from collections import Counter

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    pipeline.run(spark, SF, out_dir=a)
    r = pipeline.run_resumable(spark, SF, b, str(tmp_path / "manifest"))

    cols = ["namespace_name", "conv_id", "turn_seq", "text",
            "kubernetes_meta.pod_id", "docker_meta.container_id"]

    def rows(out):
        return Counter(tuple(x) for x in spark.read.parquet(out).select(*cols).collect())

    written = rows(a)
    assert written == rows(b)
    assert r["stats"]["events_total"] == sum(written.values()) == sum(r["counts"].values())
