"""PySpark-native log parse -> enrich -> route -> aggregate engine.

A from-scratch, Spark-first re-expression of the query/data-processing
semantics of fabric8io/fluent-plugin-kubernetes_metadata_filter (reference
at /root/reference, gem 3.7.1): per-event Kubernetes-metadata enrichment
re-cast as a partition-parallel DataFrame flow over a transcripts table
(conv_id, turn_idx, role, text, tool, ts).

Design (SURVEY.md section 7):
- the plugin's three LRU+TTL caches (filter_kubernetes_metadata.rb:196-204)
  become two small broadcast dimension DataFrames;
- the per-record cache probe / API fetch (kubernetes_metadata_cache_strategy.rb:24-102)
  becomes two broadcast-left hash joins plus expression when-chains for the
  as-of / orphan / skip branches;
- the tag regexes (filter_kubernetes_metadata.rb:57-58) run as JVM-side
  regexp_extract (whole-stage codegen, no per-row Python);
- routing is a salted repartition + partitionBy fan-out write with
  per-sink count aggregates and observe() metrics.

Everything here targets a 1000-executor cluster over ~100 TB: no
driver-side collects in the hot path, broadcast joins for the dims,
AQE on, explicit skew salting for hot conversations.
"""

from fluent_plugin_kubernetes_metadata_filter_spark.config import PipelineConfig

__all__ = ["PipelineConfig"]
__version__ = "0.1.0"
