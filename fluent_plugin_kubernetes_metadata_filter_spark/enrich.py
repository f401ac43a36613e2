"""Metadata enrichment: the reference's cache/fetch/merge semantics as
two broadcast hash joins plus expression when-chains (SURVEY.md O10-O20).

Branch semantics re-expressed from
lib/fluent/plugin/kubernetes_metadata_cache_strategy.rb:24-102 and
lib/fluent/plugin/filter_kubernetes_metadata.rb:324-362:

  pod found, ns found      -> full pod+ns metadata (+master_url,
                              container correlation)
  pod miss,  ns found,
     ns.created <= row.ts  -> pod_id := cache_key; ns metadata only
                              (cache_strategy.rb:49-56 "as-of accept")
  pod miss,  ns found,
     ns.created >  row.ts  -> ns metadata only, NO pod_id
                              (test_cache_strategy.rb:118-128)
  ns miss (pod found or not)-> orphan: namespace_name := '.orphaned',
                              namespace_id := 'orphaned',
                              orphaned_namespace := tag namespace; pod
                              metadata discarded (cache_strategy.rb:58-79)
  allow_orphans = false    -> base identity fields only ({} metadata)
  skip_namespace_metadata  -> no ns join at all; pod hit -> pod metadata,
                              pod miss -> base only; the orphan branch is
                              unreachable (cache_strategy.rb:34-38)
  no tag / no record match -> row passes through untouched (filter:402)

Empty-value omission (common.rb:49-50,105-107; filter:358-360;
cache_strategy.rb:101): absent keys are represented as NULLs in a fixed
StructType; empty maps / '' ids become NULL.

Composition: tag extraction and identity (parse.py), the pod and
namespace broadcast joins, then all 21 branch columns (ENRICHED_COLS
plus the i_pod_dim_hit/i_full flags) in ONE ``withColumns`` — they read
only join outputs — and one drop of the dim columns. Each stage's Column
expressions (dim select lists, join conditions, branch columns, the
emit structs) are built once per ``PipelineConfig`` and JVM
(exprcache.JvmMemo), so a warm build is a few hundred Py4J round trips
instead of thousands; streaming pays this per micro-batch.

Scale notes: both dims are broadcast (the reference caps its caches at
1000 entries — real clusters have O(10^4) pods/namespaces, well under
broadcast thresholds); the enrichment therefore adds ZERO shuffles — it
pipelines into the scan and stays in whole-stage codegen end-to-end.
"""

from __future__ import annotations

from typing import NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from fluent_plugin_kubernetes_metadata_filter_spark.config import PipelineConfig
from fluent_plugin_kubernetes_metadata_filter_spark.exprcache import JvmMemo
from fluent_plugin_kubernetes_metadata_filter_spark.parse import (
    extract_source_fields,
    resolve_identity,
)

# docker:// / cri-o:// prefix strip, common.rb:64 (O18)
CONTAINER_ID_PREFIX = r"^[-_a-zA-Z0-9]+://"

# Exact alias names introduced by prepare_pods_dim / prepare_namespaces_dim;
# enrich() drops ONLY these (a prefix match would destroy user input columns
# that happen to start with p_/n_, e.g. n_rows).
POD_DIM_COLS = [
    "p_namespace_name", "p_pod_name", "p_pod_id", "p_pod_ip", "p_host",
    "p_labels", "p_annotations", "p_ownerrefs", "p_containers",
]
NS_DIM_COLS = [
    "n_namespace_name", "n_namespace_id", "n_labels", "n_annotations",
    "n_creation_timestamp",
]

# Flat enrichment output columns (null == omitted in the reference).
ENRICHED_COLS = [
    "namespace_name",
    "pod_name",
    "container_name",
    "orphaned_namespace",
    "pod_id",
    "pod_ip",
    "host",
    "master_url",
    "namespace_id",
    "container_image",
    "container_image_id",
    "docker_container_id",
    "labels",
    "annotations",
    "ownerrefs",
    "namespace_labels",
    "namespace_annotations",
]


def _nonempty_map(m: Column) -> Column:
    """Ruby omits empty label/annotation hashes (common.rb:49-50,106-107)."""
    return F.when(F.size(m) > 0, m)


def _de_dot(m: Column, cfg: PipelineConfig) -> Column:
    """Historical de_dot key rewrite ('.' -> separator in map KEYS);
    opt-in, off by default like reference 3.7.1 (release_notes.md:4)."""
    if not cfg.de_dot:
        return m
    return F.transform_keys(m, lambda k, _v: F.replace(k, F.lit("."), F.lit(cfg.de_dot_separator)))


def _annotation_filter(m: Column, patterns: tuple[str, ...]) -> Column:
    """O17 match_annotations (common.rb:30-38): keep entries whose KEY
    matches any configured regex; no regexes -> empty result."""
    if not patterns:
        return F.lit(None).cast("map<string,string>")

    def pred(k: Column, v: Column) -> Column:
        out = None
        for p in patterns:
            c = k.rlike(p)
            out = c if out is None else (out | c)
        return out

    return _nonempty_map(F.map_filter(m, pred))


def prepare_pods_dim(pods_dim: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Per-pod projection of parse_pod_metadata (common.rb:54-110):
    labels/annotations policy, containerID prefix strip, and the
    container-name -> status map used by the correlation (O19)."""
    return pods_dim.select(*_pods_dim_exprs(cfg))


@JvmMemo
def _pods_dim_exprs(cfg: PipelineConfig) -> list[Column]:
    containers = F.transform(
        F.col("containers"),
        lambda c: F.struct(
            c["name"].alias("name"),
            c["image"].alias("image"),
            c["image_id"].alias("image_id"),
            F.regexp_replace(c["container_id"], CONTAINER_ID_PREFIX, "").alias("container_id"),
        ),
    )
    cmap = F.map_from_entries(
        F.transform(containers, lambda c: F.struct(c["name"], c))
    )
    labels = (
        F.lit(None).cast("map<string,string>")
        if (cfg.skip_labels or cfg.skip_pod_labels)
        else _nonempty_map(_de_dot(F.col("labels"), cfg))
    )
    owner = (
        F.col("ownerrefs")
        if cfg.include_ownerrefs_metadata
        else F.lit(None).cast("array<struct<kind:string,name:string>>")
    )
    return [
        F.col("namespace_name").alias("p_namespace_name"),
        F.col("pod_name").alias("p_pod_name"),
        F.col("pod_id").alias("p_pod_id"),
        F.col("pod_ip").alias("p_pod_ip"),
        F.col("host").alias("p_host"),
        labels.alias("p_labels"),
        _de_dot(
            _annotation_filter(F.col("annotations"), cfg.annotation_match), cfg
        ).alias("p_annotations"),
        owner.alias("p_ownerrefs"),
        cmap.alias("p_containers"),
    ]


def prepare_namespaces_dim(ns_dim: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """parse_namespace_metadata (common.rb:40-52); creation_timestamp is
    kept for the as-of comparison and never emitted
    (cache_strategy.rb:100)."""
    return ns_dim.select(*_namespaces_dim_exprs(cfg))


@JvmMemo
def _namespaces_dim_exprs(cfg: PipelineConfig) -> list[Column]:
    labels = (
        F.lit(None).cast("map<string,string>")
        if (cfg.skip_labels or cfg.skip_namespace_labels)
        else _nonempty_map(_de_dot(F.col("labels"), cfg))
    )
    return [
        F.col("namespace_name").alias("n_namespace_name"),
        F.col("namespace_id").alias("n_namespace_id"),
        labels.alias("n_labels"),
        _de_dot(
            _annotation_filter(F.col("annotations"), cfg.annotation_match), cfg
        ).alias("n_annotations"),
        F.col("creation_timestamp").alias("n_creation_timestamp"),
    ]


def enrich(df: DataFrame, pods_dim: DataFrame, ns_dim: DataFrame,
           cfg: PipelineConfig = PipelineConfig(), ts_col: str = "ts",
           source_col: str = "tool") -> DataFrame:
    """Full O5-O20 pipeline: extraction -> identity -> broadcast joins ->
    branch when-chains. Adds ENRICHED_COLS (flat, null == omitted) and
    keeps every input column untouched (passthrough semantics)."""
    df = extract_source_fields(df, source_col=source_col,
                               pods_pattern=cfg.regex_var_log_pods,
                               containers_pattern=cfg.regex_var_log_containers)
    df = resolve_identity(df, cfg)
    x = _enrich_exprs(cfg, ts_col)
    j = df.join(F.broadcast(prepare_pods_dim(pods_dim, cfg)), on=x.pod_on, how="left")
    if x.ns_on is None:
        j = j.withColumns(x.ns_absent)
    else:
        j = j.join(F.broadcast(prepare_namespaces_dim(ns_dim, cfg)), on=x.ns_on, how="left")
    # every branch column reads only join outputs, so they are one projection
    return j.withColumns(x.branches).drop(*POD_DIM_COLS, *NS_DIM_COLS)


class _EnrichExprs(NamedTuple):
    pod_on: Column
    ns_on: Column | None  # None under skip_namespace_metadata: no ns join
    ns_absent: dict[str, Column]  # the n_* columns the branches read, all null
    branches: dict[str, Column]  # ENRICHED_COLS + the i_pod_dim_hit/i_full flags


@JvmMemo
def _enrich_exprs(cfg: PipelineConfig, ts_col: str) -> _EnrichExprs:
    # Base identity fields are NOT url-gated: get_metadata_for_record
    # (filter:326-336) always emits container_name/namespace_name/pod_name
    # and docker.container_id on a tag match; only the get_pod_metadata
    # dim lookup is gated on present?(kubernetes_url) (filter:337).
    enabled = cfg.kubernetes_url is not None
    matched = F.col("i_matched")
    lookup = matched & F.lit(enabled)

    pod_on = (F.col("i_namespace") == F.col("p_namespace_name")) & (
        F.col("i_pod_name") == F.col("p_pod_name")
    )
    ns_on = (
        None if cfg.skip_namespace_metadata
        else F.col("i_namespace") == F.col("n_namespace_name")
    )
    ns_absent = {
        "n_namespace_id": F.lit(None).cast("string"),
        "n_labels": F.lit(None).cast("map<string,string>"),
        "n_annotations": F.lit(None).cast("map<string,string>"),
        "n_creation_timestamp": F.lit(None).cast("timestamp"),
    }

    pod_found = lookup & F.col("p_pod_id").isNotNull()
    ns_found = lookup & F.col("n_namespace_id").isNotNull()

    if cfg.skip_namespace_metadata:
        # cache_strategy.rb:34-38 — pod metadata only, no orphan branch
        full = pod_found
        asof_acc = F.lit(False)
        ns_meta = F.lit(False)
        orphan = F.lit(False)
    else:
        full = pod_found & ns_found
        asof_ok = F.col("n_creation_timestamp") <= F.col(ts_col)
        asof_acc = ~pod_found & ns_found & asof_ok
        ns_meta = ns_found & ~pod_found  # both as-of branches carry ns metadata
        orphan = lookup & ~ns_found      # includes pod-found/ns-missing (cache_strategy.rb:60-66)

    allow = cfg.allow_orphans
    orphaned = orphan & F.lit(allow)

    null_m = F.lit(None).cast("map<string,string>")

    # O19 container-status correlation (filter:336-349; common.rb:60-79)
    centry = F.element_at(F.col("p_containers"), F.col("i_container_name"))
    corr = full & centry.isNotNull() & F.lit(not cfg.skip_container_metadata)

    branches = {
        "namespace_name": F.when(orphaned, F.lit(cfg.orphaned_namespace_name)).otherwise(
            F.when(matched, F.col("i_namespace"))
        ),
        "pod_name": F.when(matched, F.col("i_pod_name")),
        "container_name": F.when(matched, F.col("i_container_name")),
        "orphaned_namespace": F.when(orphaned, F.col("i_namespace")),
        "namespace_id": F.when(orphaned, F.lit(cfg.orphaned_namespace_id)).otherwise(
            F.when(full | ns_meta, F.col("n_namespace_id"))
        ),
        "pod_id": F.when(full, F.col("p_pod_id")).when(asof_acc, F.col("i_cache_key")),
        "pod_ip": F.when(full, F.col("p_pod_ip")),
        "host": F.when(full, F.col("p_host")),
        "master_url": F.when(
            full, F.lit(None if cfg.skip_master_url else cfg.kubernetes_url).cast("string")
        ),
        "labels": F.when(full, F.col("p_labels")).otherwise(null_m),
        "annotations": F.when(full, F.col("p_annotations")).otherwise(null_m),
        "ownerrefs": F.when(full, F.col("p_ownerrefs")).otherwise(
            F.lit(None).cast("array<struct<kind:string,name:string>>")
        ),
        "namespace_labels": F.when(full | ns_meta, F.col("n_labels")).otherwise(null_m),
        "namespace_annotations": F.when(full | ns_meta, F.col("n_annotations")).otherwise(null_m),
        "container_image": F.when(corr, centry["image"]),
        "container_image_id": F.when(corr & (centry["image_id"] != ""), centry["image_id"]),
        # containerID (stripped) wins when correlated & non-empty
        # (filter:345-348); else the tag/record docker id (filter:335);
        # empty -> docker struct dropped (filter:358-360)
        "docker_container_id": F.when(
            corr & (centry["container_id"] != ""), centry["container_id"]
        ).otherwise(F.when(matched & (F.col("i_docker_id") != ""), F.col("i_docker_id"))),
        # Explicit branch flags (internal i_* columns, like i_matched): a
        # dim row with a legitimately-null pod_ip must still read as a full
        # hit, so downstream NEVER proxies the branch off pod_ip nullness.
        "i_pod_dim_hit": pod_found,
        "i_full": full,
    }
    return _EnrichExprs(pod_on, ns_on, ns_absent, branches)


def assemble_structs(df: DataFrame) -> DataFrame:
    """Build the emit contract: nested ``kubernetes`` / ``docker`` structs
    (section 1.2 of SURVEY.md), with struct-level NULL when the reference
    would omit the whole sub-record (passthrough rows; empty docker)."""
    return df.withColumns(_struct_exprs())


@JvmMemo
def _struct_exprs() -> dict[str, Column]:
    kube_fields = [
        "container_name",
        "namespace_name",
        "pod_name",
        "pod_id",
        "pod_ip",
        "host",
        "master_url",
        "namespace_id",
        "orphaned_namespace",
        "container_image",
        "container_image_id",
        "labels",
        "annotations",
        "ownerrefs",
        "namespace_labels",
        "namespace_annotations",
    ]
    kube = F.when(
        F.col("i_matched"),
        F.struct(*[F.col(c).alias(c) for c in kube_fields]),
    )
    docker = F.when(
        F.col("docker_container_id").isNotNull(),
        F.struct(F.col("docker_container_id").alias("container_id")),
    )
    return {"kubernetes_meta": kube, "docker_meta": docker}
