"""End-to-end parse -> enrich -> route -> aggregate composition
(SURVEY.md section 7.1 — the flagship slice).

    read transcripts -> extract tag fields -> broadcast-join pods/ns dims
    -> branch when-chains (as-of / orphan / skips) -> struct assembly
    -> salted repartition + stable (conv_id, turn_idx) order
    -> fan-out write partitioned by namespace + per-sink counts
"""

from __future__ import annotations

from collections import Counter
from urllib.parse import unquote

import pyarrow.dataset as ds
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from fluent_plugin_kubernetes_metadata_filter_spark.checkpoint import (
    LineageManifest,
    input_snapshot_id,
    resumable_fanout_write,
)
from fluent_plugin_kubernetes_metadata_filter_spark.config import PipelineConfig
from fluent_plugin_kubernetes_metadata_filter_spark.enrich import assemble_structs, enrich
from fluent_plugin_kubernetes_metadata_filter_spark.exprcache import JvmMemo
from fluent_plugin_kubernetes_metadata_filter_spark.io import aux_dir, load_table, write_routed
from fluent_plugin_kubernetes_metadata_filter_spark.metrics import PipelineStats
from fluent_plugin_kubernetes_metadata_filter_spark.route import (
    PASSTHROUGH,
    per_sink_counts,
    route_partition,
    stable_order,
)

INPUT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
# the routed output contract: input cols + turn_seq + assembled structs,
# plus the route column; no scratch columns
EMIT_COLS = INPUT_COLS + ["turn_seq", "kubernetes_meta", "docker_meta", "namespace_name"]


def enrich_transcripts(spark: SparkSession, sf_dir: str,
                       cfg: PipelineConfig = PipelineConfig(),
                       table: str = "transcripts") -> DataFrame:
    """Load + enrich; returns input columns plus flat ENRICHED_COLS."""
    df = load_table(spark, sf_dir, table)
    pods = load_table(spark, sf_dir, "pods_dim")
    ns = load_table(spark, sf_dir, "namespaces_dim")
    return enrich(df, pods, ns, cfg)


def routed_frames(src: DataFrame, pods: DataFrame, ns: DataFrame,
                  cfg: PipelineConfig = PipelineConfig(), *,
                  stats: PipelineStats | None = None) -> DataFrame:
    """Frame-level composition shared by every entry point — ONE
    definition of the output contract (pruned emit shape: input cols +
    turn_seq + assembled structs; no scratch columns) and ONE shuffle
    plan, whatever the source.

    ``stats`` attaches the reference-vocabulary counters to the same DAG
    (no extra pass); they read ``i_matched``/``i_full``, so they go on
    before the pruning select drops those columns."""
    # Order of operations is chosen by shuffle VOLUME:
    # 1. stable_order on the RAW input — the conv_id window shuffles only
    #    the 6 narrow input columns, not the enriched width;
    # 2. enrich — broadcast joins, pipelines onto the window output with
    #    no exchange;
    # 3. route_partition — the only other full shuffle, carrying the
    #    final width once. Window-after-salt would also let the window
    #    exchange undo the salt right before the write.
    df = stable_order(src)
    df = enrich(df, pods, ns, cfg)
    df = assemble_structs(df)
    if stats is not None:
        df = stats.attach(df)
    df = df.select(*_emit_exprs())
    if not cfg.route_exchange:
        # single-exchange mode: the conv_id window exchange (narrow
        # columns) is the job's ONLY shuffle — enrichment is broadcast
        # and the write proceeds straight from the window partitioning,
        # which is uniform by construction (high-cardinality conv_id).
        # See PipelineConfig.route_exchange for the file-count trade.
        return df
    return route_partition(df, cfg, cfg.route_column)


@JvmMemo
def _emit_exprs() -> list[Column]:
    return [F.col(c) for c in EMIT_COLS]


def routed_output(spark: SparkSession, sf_dir: str,
                  cfg: PipelineConfig = PipelineConfig()) -> DataFrame:
    """Enriched rows in emit shape: structs assembled, stable order."""
    return routed_frames(
        load_table(spark, sf_dir, "transcripts"),
        load_table(spark, sf_dir, "pods_dim"),
        load_table(spark, sf_dir, "namespaces_dim"),
        cfg,
    )


def run(spark: SparkSession, sf_dir: str, out_dir: str | None = None,
        cfg: PipelineConfig = PipelineConfig()) -> DataFrame:
    """Full job. Writes fan-out parquet when out_dir given; returns the
    per-sink count aggregate (the job's summary result).

    When writing, the counts come from the WRITTEN output — a parquet
    metadata-only count per partition directory — so the enrichment DAG
    executes exactly once (recomputing it for the aggregate would double
    the job)."""
    df = routed_output(spark, sf_dir, cfg)
    if out_dir:
        write_routed(df, out_dir, cfg.route_column)
        counts = written_sink_counts(out_dir, cfg.route_column)
        if counts is not None:
            return spark.createDataFrame(
                counts, "sink string, n_rows bigint"
            ).orderBy("sink")
        back = spark.read.parquet(out_dir)
        return per_sink_counts(back, cfg.route_column).orderBy("sink")
    return per_sink_counts(df, cfg.route_column).orderBy("sink")


# files-per-output bound for the driver-side footer count; beyond it the
# distributed readback scan is the right tool (see written_sink_counts)
_FOOTER_COUNT_MAX_FILES = 65536


def written_sink_counts(out_dir: str, route_column: str) -> list[tuple[str, int]] | None:
    """Per-sink row counts of a routed output, from the WRITTEN files'
    parquet FOOTER metadata (pyarrow, one footer read per file — no
    Spark job, no per-file task launch): the count still derives from
    the written output (the `run` contract — the enrichment DAG
    executes exactly once), but the readback that cost a task per small
    file on local disk becomes a sub-second metadata pass.

    Scale guard: a driver loop over footers is only sane for a bounded
    file count; beyond ``_FOOTER_COUNT_MAX_FILES`` return None and let
    the caller run the distributed readback (at that scale a table
    format's snapshot statistics — Iceberg — is the real answer,
    SURVEY §3.3)."""
    d = ds.dataset(out_dir, format="parquet", partitioning="hive")
    frags = list(d.get_fragments())
    if len(frags) > _FOOTER_COUNT_MAX_FILES:
        return None
    prefix = f"{route_column}="
    cnt: Counter = Counter()
    for frag in frags:
        key = None
        for part in frag.path.split("/"):
            if part.startswith(prefix):
                key = part[len(prefix):]
        name = (
            PASSTHROUGH
            if key is None or key == "__HIVE_DEFAULT_PARTITION__"
            else unquote(key)
        )
        cnt[name] += frag.count_rows()
    return sorted(cnt.items())


def run_resumable(spark: SparkSession, sf_dir: str, out_dir: str,
                  manifest_dir: str,
                  cfg: PipelineConfig = PipelineConfig()) -> dict:
    """The north-rule composition in one call: enrich+route, written as a
    RESUMABLE fan-out (per-partition lineage manifest keyed by the input
    snapshot — a re-run after a crash skips completed sinks), with the
    reference-vocabulary counters attached to the same DAG execution.

    Returns {"counts": {sink: rows}, "stats": {...counters...},
    "lineage": [records], "input_snapshot": id}. See checkpoint.py for
    the manifest contract and metrics.py for the counter vocabulary.
    """
    snapshot = input_snapshot_id(spark, aux_dir(sf_dir))
    stats = PipelineStats()
    df = routed_frames(
        load_table(spark, sf_dir, "transcripts"),
        load_table(spark, sf_dir, "pods_dim"),
        load_table(spark, sf_dir, "namespaces_dim"),
        cfg,
        stats=stats,
    )
    manifest = LineageManifest(manifest_dir)
    written = resumable_fanout_write(df, out_dir, manifest, snapshot, cfg.route_column)
    return {
        "counts": {r.sink: r.rows for r in written},
        "stats": stats.dump(),
        "lineage": written,
        "input_snapshot": snapshot,
    }
