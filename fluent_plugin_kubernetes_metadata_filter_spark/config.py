"""Pipeline configuration mirroring the reference plugin's config surface.

Reference: the ``config_param`` block at
lib/fluent/plugin/filter_kubernetes_metadata.rb:44-99 (SURVEY.md section 2.1).
Only semantically meaningful parameters are kept; transport/TLS/watch-retry
parameters have no Spark analogue (dimension tables replace the API client).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class PipelineConfig:
    """Knobs of the enrichment pipeline.

    Defaults match the reference defaults exactly
    (filter_kubernetes_metadata.rb:44-99).

    A config is also the key of the expression cache (exprcache.JvmMemo):
    the enrichment's Column expressions are built once per config and
    JVM. So every field must stay hashable — tuples, not lists;
    ``annotation_match`` given as a list is stored as a tuple.
    """

    # filter:44 — when None the dim lookups are skipped (get_pod_metadata
    # is gated on present?(kubernetes_url), filter:337) but base identity
    # fields + the tag docker id are STILL emitted on a tag match
    # (filter:326-336); see enrich.py.
    kubernetes_url: str | None = "https://kubernetes.default.svc"

    # filter:45-47 — cache_size / cache_ttl / ignore_nil have NO engine
    # analogue by design: they tune the reference's in-process LRU+TTL
    # caches (filter:198-204), which the broadcast dim joins replace
    # entirely (no per-worker cache => no size cap, no nil-result caching
    # policy; TTL age-out survives as io.dim_with_ttl, O25).

    # filter:72 — list of regexes; an annotation is kept iff its KEY matches
    # any regex (kubernetes_metadata_common.rb:30-38). Default [] means
    # annotations are never emitted (match_annotations returns {}).
    annotation_match: tuple[str, ...] = ()

    # filter:74-76 — join-miss fallback (kubernetes_metadata_cache_strategy.rb:58-79)
    allow_orphans: bool = True
    orphaned_namespace_name: str = ".orphaned"
    orphaned_namespace_id: str = "orphaned"

    # filter:77 — record-carried kubernetes/docker fields win over the tag
    # parse when all four identity fields are present (filter:384-399).
    lookup_from_k8s_field: bool = True

    # de_dot key rewriting: '.' in label/annotation KEYS replaced by the
    # separator. Removed in reference 3.7.1 (release_notes.md:4 marks it
    # deprecated) but part of the plugin's historical contract, so it is
    # offered opt-in with the historical defaults (de_dot true, '_') NOT
    # applied — 3.7.1 behavior is the default here.
    de_dot: bool = False
    de_dot_separator: str = "_"

    # filter:82-88 — projection flags (SURVEY.md O16)
    skip_labels: bool = False
    skip_pod_labels: bool = False
    skip_namespace_labels: bool = False
    skip_container_metadata: bool = False
    skip_master_url: bool = False
    skip_namespace_metadata: bool = False
    include_ownerrefs_metadata: bool = False

    # filter:66-67 — the tag regexes; overridable like
    # tag_to_kubernetes_name_regexp but kept as the two alternation branches
    # so each stays free of duplicate named groups (Java regex restriction).
    # ``None`` means use the reference defaults from parse.py.
    regex_var_log_pods: str | None = None
    regex_var_log_containers: str | None = None

    # Routing (SURVEY.md O4): column used for fan-out partitioning of the
    # enriched output. The reference routes by fluentd tag via <match>
    # blocks (README.md:104-110); we route by final namespace_name.
    route_column: str = "namespace_name"

    # Skew handling (SURVEY.md section 4 item 1): number of salt buckets
    # appended to conv_id for the physical repartition before the fan-out
    # write. Purely physical — output content/order is unaffected. A hot
    # sink holding fraction f of all rows becomes salt_buckets tasks of
    # f/salt_buckets each; size it near the per-stage task slots so the
    # hottest sink cannot straggle the write stage.
    salt_buckets: int = 8

    # Physical layout of the fan-out write (route.py):
    #   True  — dedicated exchange keyed by (route, conv-salt): each write
    #           task serves few sinks, so output files stay O(sinks +
    #           salt); the right default when sinks x tasks would explode
    #           the file count (10^3 namespaces x 10^5 tasks at 100 TB).
    #   False — single-exchange mode: write directly from the conv_id
    #           window partitioning (high-cardinality, uniform — skew-free
    #           by construction). Drops the only FULL-WIDTH shuffle from
    #           the job (the window exchange carries just the narrow input
    #           columns); files become tasks x sinks-per-task, the better
    #           trade up to O(100) sinks. Content is identical either way.
    route_exchange: bool = True

    def __post_init__(self) -> None:
        object.__setattr__(self, "annotation_match", tuple(self.annotation_match))

    def with_(self, **kw) -> "PipelineConfig":
        """Return a copy with the given fields replaced."""
        from dataclasses import replace

        return replace(self, **kw)

