"""Resumable runs: snapshot watermark + per-partition lineage manifest
(SURVEY.md section 4 item 3; north rule "resumable from checkpoint with
per-partition lineage + metrics").

The reference recovers by replaying its watch connection from a
resourceVersion (kubernetes_metadata_watch_pods.rb:143-147) and by
retry/backoff ladders (watch_pods.rb:57-111). In Spark those concerns
split cleanly:

- task-level retries: Spark's scheduler (free);
- job-level resume: this module. The unit of work is a *route partition*
  (sink). Each completed sink writes a lineage record
  {sink, rows, input_snapshot, wall_time}; a re-run with the same
  manifest dir skips sinks already recorded for the same input snapshot,
  so a crashed fan-out write resumes where it stopped. On Iceberg the
  input_snapshot is the table snapshot-id; on plain parquet we fingerprint
  the file listing (path, size, mtime).

At 10^12 rows the manifest is O(#sinks) — tiny — and the skip check is
a driver-side set lookup, not a data-path operation.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import asdict, dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from fluent_plugin_kubernetes_metadata_filter_spark.route import PASSTHROUGH


@dataclass
class LineageRecord:
    sink: str
    rows: int
    input_snapshot: str
    wall_time_sec: float
    completed_at: float


def input_snapshot_id(spark: SparkSession, path: str) -> str:
    """Stable fingerprint of a parquet input (Iceberg: use snapshot-id).

    File listing happens once on the driver; (name, size, mtime) is the
    same contract Spark's own file-source cache invalidation uses."""
    entries = []
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(root, f))
                entries.append(f"{os.path.join(root, f)}:{st.st_size}:{int(st.st_mtime)}")
    return hashlib.md5("\n".join(sorted(entries)).encode()).hexdigest()


class LineageManifest:
    """Append-only JSONL manifest of completed route partitions."""

    def __init__(self, manifest_dir: str):
        self.dir = manifest_dir
        os.makedirs(manifest_dir, exist_ok=True)
        self.path = os.path.join(manifest_dir, "lineage.jsonl")

    def completed_sinks(self, input_snapshot: str) -> set[str]:
        done = set()
        if os.path.exists(self.path):
            with open(self.path) as fh:
                for line in fh:
                    try:
                        rec = json.loads(line)
                    except json.JSONDecodeError:
                        continue  # torn write from a crash — ignore tail
                    if rec.get("input_snapshot") == input_snapshot:
                        done.add(rec["sink"])
        return done

    def record(self, rec: LineageRecord) -> None:
        with open(self.path, "a") as fh:
            fh.write(json.dumps(asdict(rec)) + "\n")


def resumable_fanout_write(df: DataFrame, out_dir: str, manifest: LineageManifest,
                           input_snapshot: str, route_column: str = "namespace_name",
                           sink_batch: int = 8) -> list[LineageRecord]:
    """Fan-out write that skips sinks already recorded for this snapshot.

    Sinks are written in groups via partition-pruned filters over a cached
    enriched frame; each group commit appends lineage records, so a crash
    loses at most one group. (On Iceberg this becomes one REPLACE
    PARTITIONS commit per group.) Per-sink row counts ride the write
    action itself via ``observe`` — ONE pass over each group's data; a
    second counting action would re-read (and at 100 TB re-spill) every
    group. Null routes are labeled with the shared ``PASSTHROUGH``
    constant, matching ``pipeline.run``'s count keys.
    """
    done = manifest.completed_sinks(input_snapshot)
    # manifests written before the passthrough-label unification record
    # the null-route sink under parquet's partition placeholder; treat
    # those as the same sink or resume would rewrite (and double-record)
    # an already-committed partition
    if "__HIVE_DEFAULT_PARTITION__" in done:
        done = set(done) | {PASSTHROUGH}
    key = F.coalesce(F.col(route_column), F.lit(PASSTHROUGH))
    df = df.withColumn("_sink", key)
    # persist BEFORE sink discovery: the distinct() is the first action
    # over the enriched frame, so it populates the cache the per-group
    # writes then read — persisting after it would execute the full
    # scan+enrich DAG twice (once uncached for discovery, once for the
    # first group)
    df.persist()
    written: list[LineageRecord] = []
    try:
        sinks = [r[0] for r in df.select("_sink").distinct().collect()]
        todo = [s for s in sorted(sinks) if s not in done]
        for i in range(0, len(todo), sink_batch):
            group = todo[i: i + sink_batch]
            t0 = time.time()
            obs = Observation()
            part = df.where(F.col("_sink").isin(group)).observe(
                obs,
                *[F.count(F.when(F.col("_sink") == s, 1)).alias(f"c{j}")
                  for j, s in enumerate(group)],
            )
            part.drop("_sink").write.mode("overwrite").partitionBy(route_column).option(
                "partitionOverwriteMode", "dynamic"
            ).parquet(out_dir)
            counts = obs.get
            dt = time.time() - t0
            for j, s in enumerate(group):
                rec = LineageRecord(s, int(counts[f"c{j}"]), input_snapshot, round(dt, 3), time.time())
                manifest.record(rec)
                written.append(rec)
    finally:
        df.unpersist()
    return written
