"""The benchmark's workloads: one pass each, driven the way the cluster
entry (``scripts/submit_job.py``) drives the engine, plus the output check
that runs after every pass, outside the timed window.

- ``batch_routed`` / ``long_turns``: ``pipeline.routed_frames`` ->
  ``io.write_routed`` -> ``pipeline.written_sink_counts``.
- ``resume_after_crash``: ``checkpoint.input_snapshot_id`` ->
  ``pipeline.routed_frames`` -> ``checkpoint.LineageManifest`` ->
  ``checkpoint.resumable_fanout_write``, resuming from a fixed pre-crash
  state (the first sink groups of a clean run committed).
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter
from urllib.parse import unquote

import pyarrow.parquet as pq

from fluent_plugin_kubernetes_metadata_filter_spark import checkpoint, io, pipeline
from fluent_plugin_kubernetes_metadata_filter_spark.config import PipelineConfig
from fluent_plugin_kubernetes_metadata_filter_spark.route import PASSTHROUGH

CFG = PipelineConfig()
ROUTE = CFG.route_column
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

# The crash point: sinks committed before the crash, in the clean run's
# manifest order. Two groups of resumable_fanout_write's default
# sink_batch of 8; a fixed count, so every pass resumes the same work.
CRASHED_AFTER_SINKS = 16


def sink_of_dir(name: str) -> str | None:
    """Sink label of a ``<route>=<value>`` output directory."""
    prefix = f"{ROUTE}="
    if not name.startswith(prefix):
        return None
    value = unquote(name[len(prefix):])
    return PASSTHROUGH if value == HIVE_NULL else value


def parquet_files(out_dir: str):
    for root, _dirs, files in os.walk(out_dir):
        for f in files:
            if f.endswith(".parquet"):
                yield os.path.join(root, f)


def written_counts(out_dir: str) -> Counter:
    """Rows per sink in an output tree, read from the parquet footers."""
    counts: Counter = Counter()
    for path in parquet_files(out_dir):
        sink = sink_of_dir(os.path.basename(os.path.dirname(path)))
        counts[sink] += pq.ParquetFile(path).metadata.num_rows
    return counts


def output_size(out_dir: str) -> tuple[int, int]:
    """(parquet files, bytes) of an output tree."""
    paths = list(parquet_files(out_dir))
    return len(paths), sum(os.path.getsize(p) for p in paths)


def manifest_records(manifest_dir: str) -> list[dict]:
    path = os.path.join(manifest_dir, "lineage.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def check_counts(got: dict, expected: dict, what: str) -> list[str]:
    got = {k: v for k, v in got.items() if v}
    if got == expected:
        return []
    keys = sorted(set(got) | set(expected))
    diff = [f"{k}: {got.get(k, 0)} != {expected.get(k, 0)}" for k in keys
            if got.get(k, 0) != expected.get(k, 0)]
    return [f"{what} differ from the oracle ({len(diff)} sinks): " + "; ".join(diff[:5])]


def check_output(out_dir: str, expected: dict, rows: int) -> list[str]:
    """Written per-sink counts equal the oracle's and the input's row count."""
    got = written_counts(out_dir)
    problems = check_counts(got, expected, "written per-sink counts")
    if sum(got.values()) != rows:
        problems.append(f"written rows {sum(got.values())} != input rows {rows}")
    return problems


def check_manifest(records: list[dict], snapshot: str, expected: dict) -> list[str]:
    """Each sink is recorded exactly once for the snapshot, with the
    oracle's count."""
    mine = [r for r in records if r["input_snapshot"] == snapshot]
    seen = Counter(r["sink"] for r in mine)
    problems = [f"manifest records sink {s!r} {n} times" for s, n in seen.items() if n != 1]
    problems += check_counts({r["sink"]: r["rows"] for r in mine}, expected,
                             "manifest per-sink counts")
    return problems


class BatchRouted:
    """Enrich, route and write every sink; counts from the written files."""

    def __init__(self, inp: dict, expected: dict, work: str):
        self.inp, self.expected = inp, expected
        self.out = os.path.join(work, "out")

    def register(self, spark) -> None:
        self.spark = spark
        self.src = spark.read.parquet(self.inp["transcripts"])
        self.pods = spark.read.parquet(self.inp["pods"])
        self.ns = spark.read.parquet(self.inp["namespaces"])

    def prepare(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def run_pass(self, tracer) -> dict:
        with tracer.span("pipeline.routed_frames"):
            df = pipeline.routed_frames(self.src, self.pods, self.ns, CFG)
        with tracer.span("io.write_routed"):
            io.write_routed(df, self.out, ROUTE)
        with tracer.span("pipeline.written_sink_counts"):
            counts = pipeline.written_sink_counts(self.out, ROUTE)
        return {"counts": dict(counts or [])}

    def check(self, result: dict) -> list[str]:
        return (check_counts(result["counts"], self.expected, "returned sink counts")
                + check_output(self.out, self.expected, self.inp["rows"]))

    def layer_counts(self, result: dict) -> dict:
        """Sinks this pass wrote and skipped, and input rows per row written
        (every pass enriches the whole input)."""
        rows = sum(result["counts"].values())
        return {"checkpoint.sinks_written": len(result["counts"]),
                "checkpoint.sinks_skipped": len(self.expected) - len(result["counts"]),
                "checkpoint.rows_enriched_per_row_written": self.inp["rows"] / rows}


class ResumeAfterCrash(BatchRouted):
    """Resume a fan-out write whose first sink groups were committed.

    The first pass of a run is a clean resumable write (the fresh-session
    cost of the resumable job). Its first ``CRASHED_AFTER_SINKS`` sinks —
    their output directories and manifest records — are kept as the
    pre-crash state, restored before every later pass."""

    def __init__(self, inp: dict, expected: dict, work: str):
        super().__init__(inp, expected, work)
        self.manifest_dir = os.path.join(work, "manifest")
        self.crash_dir = os.path.join(work, "crash_state")
        self.clean: dict | None = None

    def prepare(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.rmtree(self.manifest_dir, ignore_errors=True)
        if self.clean is not None:
            shutil.copytree(os.path.join(self.crash_dir, "out"), self.out)
            shutil.copytree(os.path.join(self.crash_dir, "manifest"), self.manifest_dir)

    def run_pass(self, tracer) -> dict:
        with tracer.span("checkpoint.input_snapshot_id"):
            snap = checkpoint.input_snapshot_id(self.spark, self.inp["dir"])
        with tracer.span("pipeline.routed_frames"):
            df = pipeline.routed_frames(self.src, self.pods, self.ns, CFG)
        with tracer.span("checkpoint.LineageManifest"):
            manifest = checkpoint.LineageManifest(self.manifest_dir)
        with tracer.span("checkpoint.resumable_fanout_write"):
            recs = checkpoint.resumable_fanout_write(df, self.out, manifest, snap, ROUTE)
        return {"snapshot": snap, "counts": {r.sink: r.rows for r in recs}}

    def check(self, result: dict) -> list[str]:
        records = manifest_records(self.manifest_dir)
        problems = check_manifest(records, result["snapshot"], self.expected)
        problems += check_output(self.out, self.expected, self.inp["rows"])
        if self.clean is None:
            problems += check_counts(result["counts"], self.expected, "clean-run counts")
            if not problems:
                self._keep_crash_state(records)
            return problems
        resumed = Counter(result["counts"])
        resumed.update({r["sink"]: r["rows"] for r in records[:CRASHED_AFTER_SINKS]})
        if dict(resumed) != self.clean:
            problems.append("pre-crash plus resumed counts differ from the clean run")
        return problems

    def _keep_crash_state(self, records: list[dict]) -> None:
        committed = {r["sink"] for r in records[:CRASHED_AFTER_SINKS]}
        shutil.rmtree(self.crash_dir, ignore_errors=True)
        os.makedirs(os.path.join(self.crash_dir, "manifest"))
        for name in os.listdir(self.out):
            if sink_of_dir(name) in committed:
                shutil.copytree(os.path.join(self.out, name),
                                os.path.join(self.crash_dir, "out", name))
        with open(os.path.join(self.crash_dir, "manifest", "lineage.jsonl"), "w") as fh:
            fh.writelines(json.dumps(r) + "\n" for r in records[:CRASHED_AFTER_SINKS])
        self.clean = {r["sink"]: r["rows"] for r in records}


WORKLOADS = {
    "batch_routed": BatchRouted,
    "long_turns": BatchRouted,
    "resume_after_crash": ResumeAfterCrash,
}
