"""Pipeline stats with the reference's counter vocabulary
(kubernetes_metadata_stats.rb:26-45; dump_stats filter:131-144 — O22/O23).

The reference bumps named counters per record per path and dumps them on
an interval. In Spark the counters are ``observe`` aggregates computed
inline with whichever action consumes the DataFrame (no second pass),
and the dump is a dict you log/emit wherever the job reports.
"""

from __future__ import annotations

import json
import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation

from fluent_plugin_kubernetes_metadata_filter_spark.exprcache import JvmMemo


# counter name -> aggregate over the enriched frame; names mirror the
# bump sites in the reference (cache_strategy.rb:28,48,63,66; filter:109)
@JvmMemo
def _counters() -> dict[str, F.Column]:
    matched = F.col("i_matched")
    full = F.col("i_full")  # explicit branch flag (null pod_ip is still full)
    orphaned = F.col("orphaned_namespace").isNotNull()
    # NOT the literal 'orphaned': orphan rows carry the CONFIGURABLE
    # orphaned_namespace_id in namespace_id, so exclude them by flag or
    # a custom id would double-count orphans as ns-only hits
    ns_only = F.col("namespace_id").isNotNull() & ~orphaned & ~full
    return {
        "events_total": F.count(F.lit(1)),
        "pod_enriched": F.count(F.when(full, 1)),
        # pod dim miss with ns found — the id_cache_pod_not_found_namespace path
        "id_cache_pod_not_found_namespace": F.count(F.when(ns_only, 1)),
        "id_cache_orphaned_record": F.count(F.when(orphaned, 1)),
        "passthrough": F.count(F.when(~matched, 1)),
        "pod_id_resolved": F.count(F.col("pod_id")),
        "namespace_id_resolved": F.count(F.col("namespace_id")),
    }


class PipelineStats:
    """Attach counters to enriched DataFrames; read after an action.

    One fresh Observation per ``attach`` — a PySpark 4 Observation is
    single-use (re-attaching raises REUSE_OBSERVATION), and the
    reference's counters are CUMULATIVE across batches (dump_stats,
    filter:109), so ``dump`` sums every observed batch so far. Call it
    only after the attached frames' actions have run (``Observation.get``
    blocks until its action completes)."""

    def __init__(self) -> None:
        self._observations: list[Observation] = []
        self._drops: list[tuple[str, object]] = []
        self._t0 = time.time()

    def attach(self, enriched_df: DataFrame) -> DataFrame:
        obs = Observation(f"k8s_meta_pipeline_stats_{len(self._observations)}")
        self._observations.append(obs)
        cols = [v.alias(k) for k, v in _counters().items()]
        return enriched_df.observe(obs, *cols)

    def attach_drops(self, kind: str, drops) -> "PipelineStats":
        """Register a capped-expansion ``DropObservation`` (returned by
        ops.dedup.grouped_pair_expansion / minhash_dedup / simhash_pairs
        / dedup_pipeline's ``obs_out``, or ops.similarity's near-dup
        expansion) under a counter namespace, so production runs report
        cap drops alongside the sink counts instead of discarding them.
        ``dump`` emits ``{kind}_dropped_tokens`` (summed across batches)
        and ``{kind}_max_df`` (max observed); like the enrich counters,
        reading blocks until the consuming action has run."""
        self._drops.append((kind, drops))
        return self

    def dump(self) -> dict:
        """The dump_stats analogue: counters summed over every observed
        batch + wall time, JSON-able."""
        vals: dict = {}
        for obs in self._observations:
            for k, v in dict(obs.get).items():
                vals[k] = vals.get(k, 0) + v
        for kind, drops in self._drops:
            d = drops.get
            k = f"{kind}_dropped_tokens"
            vals[k] = vals.get(k, 0) + d["dropped_tokens"]
            if d["max_df"] is not None:
                mk = f"{kind}_max_df"
                vals[mk] = max(vals.get(mk, 0), d["max_df"])
        vals["wall_time_sec"] = round(time.time() - self._t0, 3)
        return vals

    def dump_json(self) -> str:
        return json.dumps(self.dump(), sort_keys=True)
