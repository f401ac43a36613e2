"""Tag/source-string extraction (SURVEY.md O5-O8).

Re-expresses the reference's tag regexes
(lib/fluent/plugin/filter_kubernetes_metadata.rb:57-58, applied at :365)
as Spark expressions. The reference compiles one union regex
``(PODS|CONTAINERS)``; Java regex forbids duplicate named groups across
alternation branches, so we keep the two branches as separate patterns and
model the first-match alternation (O6) with ``rlike`` + ``when`` — the
branches have disjoint literal prefixes (var.log.pods vs
var.log.containers) so ordering only matters for pathological tags, where
we preserve the reference's PODS-first order.

One execution strategy: ``F.regexp_extract`` per group over the JVM-side
pattern, so the parse stays inside whole-stage codegen with no Python
worker at all. Group indices are computed programmatically from the
pattern via Python ``re`` so they can never drift from the pattern.
The expressions are built once per (source column, patterns) and once
per record-identity schema (exprcache.JvmMemo); each stage is applied
with one ``withColumns``.

At 100 TB the extraction is embarrassingly parallel and pipelined into
the scan; it never shuffles.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from fluent_plugin_kubernetes_metadata_filter_spark.exprcache import JvmMemo

# Verbatim semantics of filter_kubernetes_metadata.rb:57-58 (named-group
# syntax (?<x>...) is shared by Ruby/Java; Python needs (?P<x>...)).
REGEX_VAR_LOG_PODS = (
    r"(var\.log\.pods)\.(?<namespace>[^_]+)_"
    r"(?<pod_name>[a-z0-9]([-a-z0-9]*[a-z0-9])?(\.[a-z0-9]([-a-z0-9]*[a-z0-9])?)*)_"
    r"(?<pod_uuid>[a-z0-9-]*)\.(?<container_name>.+)\..*\.log$"
)
REGEX_VAR_LOG_CONTAINERS = (
    r"(var\.log\.containers)\."
    r"(?<pod_name>[a-z0-9]([-a-z0-9]*[a-z0-9])?(\.[a-z0-9]([-a-z0-9]*[a-z0-9])?)*)_"
    r"(?<namespace>[^_]+)_(?<container_name>.+)-(?<docker_id>[a-z0-9]{64})\.log$"
)
# Literal prefixes embedded in the two patterns above; a contains() on
# them is a necessary condition for a match.
_PODS_PREFIX = "var.log.pods."
_CONT_PREFIX = "var.log.containers."

# Columns produced by extraction. x_ prefix = "extracted".
EXTRACTED_COLS = [
    "x_namespace",
    "x_pod_name",
    "x_container_name",
    "x_pod_uuid",
    "x_docker_id",
    "x_branch",  # 'pods' | 'containers' | null (no match)
]


def _pyre(pattern: str) -> "re.Pattern":
    """Compile a Ruby/Java-style named-group pattern with Python re."""
    return re.compile(pattern.replace("(?<", "(?P<").replace("(?P<=", "(?<=").replace("(?P<!", "(?<!"))


def group_index(pattern: str) -> dict[str, int]:
    """name -> group number; identical numbering in Python & Java regex
    (groups are numbered by opening parenthesis; named groups count)."""
    return dict(_pyre(pattern).groupindex)


def _java_pattern(pattern: str) -> str:
    """Java named-group names may not contain '_' (unlike Ruby/Python),
    so strip the names into anonymous groups for the JVM-side pattern —
    group NUMBERING is identical, and we address groups by number."""
    return re.sub(r"\(\?<([A-Za-z_][A-Za-z0-9_]*)>", "(", pattern)


def _branch_extracts(col: Column, pattern: str, names: list[str]) -> dict[str, Column]:
    gi = group_index(pattern)
    jp = _java_pattern(pattern)
    return {n: F.regexp_extract(col, jp, gi[n]) for n in names if n in gi}


def extract_source_fields(df: DataFrame, source_col: str = "tool",
                          pods_pattern: str | None = None,
                          containers_pattern: str | None = None) -> DataFrame:
    """O5+O6: run the tag regexes over ``source_col`` adding
    EXTRACTED_COLS; null = group absent.

    All six outputs come from ONE staged struct per row, so each branch
    RLIKE evaluates once per row instead of once per output column (the
    per-column formulation ran the union regex up to 12x/row — measured
    2.8s -> 1.6s at sf0.1 on the isolated extraction; the non-cheap
    multi-referenced ``_xs`` alias blocks CollapseProject from
    re-inlining it, which is why it is a projection of its own). Each
    branch RLIKE is additionally guarded by a ``contains()`` on the
    branch's literal prefix — a NECESSARY condition for a match when the
    pattern embeds that literal — so passthrough rows (no k8s tag) skip
    the backtracking regexes entirely. Custom patterns get no contains
    guard (their required literals are unknown)."""
    staged, fields = _extract_exprs(source_col, pods_pattern, containers_pattern)
    return df.withColumns(staged).withColumns(fields).drop("_xs")


@JvmMemo
def _extract_exprs(source_col: str, pods_pattern: str | None,
                   containers_pattern: str | None
                   ) -> tuple[dict[str, Column], dict[str, Column]]:
    """(the ``_xs`` struct + ``x_branch``, the ``x_*`` fields read out of
    ``_xs``) for extract_source_fields."""
    pp = pods_pattern or REGEX_VAR_LOG_PODS
    cp = containers_pattern or REGEX_VAR_LOG_CONTAINERS
    src = F.col(source_col)
    pods_m = src.rlike(_java_pattern(pp))
    cont_m = src.rlike(_java_pattern(cp))
    if pods_pattern is None:
        pods_m = F.contains(src, F.lit(_PODS_PREFIX)) & pods_m
    if containers_pattern is None:
        cont_m = F.contains(src, F.lit(_CONT_PREFIX)) & cont_m
    p = _branch_extracts(src, pp, ["namespace", "pod_name", "container_name", "pod_uuid"])
    c = _branch_extracts(src, cp, ["namespace", "pod_name", "container_name", "docker_id"])
    null = F.lit(None).cast("string")

    def fields(vals: dict[str, Column]) -> Column:
        order = ["namespace", "pod_name", "container_name", "pod_uuid", "docker_id"]
        return F.struct(
            *[(vals[n] if vals.get(n) is not None else null).alias(f"x_{n}")
              for n in order]
        )

    # PODS branch first, like the reference's union regex (filter:66-67).
    xs = (
        F.when(pods_m, fields(p))
        .when(cont_m, fields(c))
        .otherwise(fields({}))
    )
    # x_branch stays OUTSIDE the struct: a downstream filter on the
    # branch (q_parse_containers/q_parse_pods) then pushes down only the
    # cheap match conditions — were it a struct field, predicate
    # pushdown would inline the WHOLE struct (all four regexp_extracts)
    # into the Filter just to read one field (round 7, plan-verified;
    # within one Project codegen subexpression elimination already
    # shares the match conditions between x_branch and _xs).
    branch = F.when(pods_m, F.lit("pods")).when(cont_m, F.lit("containers"))
    return (
        {"_xs": xs, "x_branch": branch},
        {name: F.col(f"_xs.{name}") for name in EXTRACTED_COLS if name != "x_branch"},
    )


# Record-carried identity (namespace, pod, container, docker id), either
# as nested structs (kubernetes.docker input schema) or as flat k8s_*
# columns (transcripts_carried fixture).
_RECORD_IDENTITY = {
    "nested": ("kubernetes.namespace_name", "kubernetes.pod_name",
               "kubernetes.container_name", "docker.container_id"),
    "flat": ("k8s_namespace_name", "k8s_pod_name", "k8s_container_name",
             "docker_container_id"),
}


def _record_kind(cols: set[str]) -> str | None:
    """Which record-identity schema ``cols`` carries, if any."""
    if {"kubernetes", "docker"} <= cols:
        return "nested"
    if set(_RECORD_IDENTITY["flat"]) <= cols:
        return "flat"
    return None


def resolve_identity(df: DataFrame, cfg) -> DataFrame:
    """O7 (cache-key selection, filter:368-372) + O8 (record-carried
    kubernetes/docker fields override the tag parse, filter:384-399).

    Adds i_namespace / i_pod_name / i_container_name / i_cache_key /
    i_docker_id / i_matched. The record path requires ALL of
    {kubernetes.namespace_name, kubernetes.pod_name,
    kubernetes.container_name, docker.container_id} non-null (partial
    presence falls back to the tag parse, exactly like the all-or-nothing
    key?-chain at filter:385-391); when taken, the record's container_id
    serves as both cache key and docker id (filter:392-399).
    """
    kind = _record_kind(set(df.columns)) if cfg.lookup_from_k8s_field else None
    return df.withColumns(_identity_exprs(kind))


@JvmMemo
def _identity_exprs(record_kind: str | None) -> dict[str, Column]:
    """The i_* columns; ``record_kind`` None = tag parse only."""
    tag_matched = F.col("x_branch").isNotNull()
    # filter:368-372 — pod_uuid is the key iff the PODS branch matched
    # (it may legally be the empty string); otherwise docker_id.
    tag_key = F.when(F.col("x_branch") == "pods", F.col("x_pod_uuid")).otherwise(
        F.col("x_docker_id")
    )

    if record_kind is not None:
        r_ns, r_pod, r_cn, r_did = (F.col(c) for c in _RECORD_IDENTITY[record_kind])
        rec_ok = r_ns.isNotNull() & r_pod.isNotNull() & r_cn.isNotNull() & r_did.isNotNull()
        ns = F.when(rec_ok, r_ns).otherwise(F.col("x_namespace"))
        pod = F.when(rec_ok, r_pod).otherwise(F.col("x_pod_name"))
        cn = F.when(rec_ok, r_cn).otherwise(F.col("x_container_name"))
        key = F.when(rec_ok, r_did).otherwise(tag_key)
        did = F.when(rec_ok, r_did).otherwise(F.col("x_docker_id"))
        matched = rec_ok | tag_matched
    else:
        ns, pod, cn, key, did, matched = (
            F.col("x_namespace"),
            F.col("x_pod_name"),
            F.col("x_container_name"),
            tag_key,
            F.col("x_docker_id"),
            tag_matched,
        )

    return {
        "i_namespace": ns,
        "i_pod_name": pod,
        "i_container_name": cn,
        "i_cache_key": key,
        "i_docker_id": did,
        "i_matched": matched,
    }
