"""Structured Streaming variant of the pipeline (SURVEY.md O1/O3/O24-O25).

The reference maintains its caches with long-lived K8s watch connections
(kubernetes_metadata_watch_pods.rb:160-204) mutating shared LRU state
while the filter thread reads it. The Spark re-expression:

- the event stream is a ``readStream`` over the transcripts source;
- the dimensions are STATIC tables re-read inside ``foreachBatch`` every
  micro-batch — each batch sees one consistent dim snapshot (snapshot
  isolation replaces the thread-safe cache), and a dim row updated
  between batches is picked up on the next batch, which is exactly the
  watch-MODIFIED upsert semantics (O24);
- DELETED notices are ignored by the reference (watch_pods.rb:182-186)
  so late records still enrich — keeping deleted rows in the dim
  snapshot gives the same behavior; TTL eviction becomes a
  ``last_seen >= now - ttl`` predicate on the dim view (O25);
- checkpointLocation + idempotent per-batch writes replace the
  retry/backoff ladder (O26).
"""

from __future__ import annotations

from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
import pyspark.sql.types as T

from fluent_plugin_kubernetes_metadata_filter_spark.config import PipelineConfig
from fluent_plugin_kubernetes_metadata_filter_spark.enrich import assemble_structs, enrich
from fluent_plugin_kubernetes_metadata_filter_spark.route import PASSTHROUGH
from fluent_plugin_kubernetes_metadata_filter_spark.io import aux_dir

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def read_transcript_stream(spark: SparkSession, path: str,
                           max_files_per_trigger: int = 4,
                           glob: str = "transcripts.parquet") -> DataFrame:
    """File-source stream over a transcripts directory (the file source
    requires a directory; ``glob`` selects the transcript files)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", glob)
        .parquet(path)
    )


class WatchStats:
    """Per-batch dim-refresh accounting in the reference's watch counter
    vocabulary (watch_pods.rb:137-204 / watch_namespaces.rb analogues).

    The reference bumps a counter per watch notice; the Spark analogue
    diffs consecutive dim snapshots per micro-batch:

      first-load row / new key   -> {kind}_cache_host_updates
                                    (initial get_pods list, :140)
      same key, changed content  -> {kind}_cache_watch_updates (:176)
      key gone from snapshot     -> {kind}_cache_rows_removed
      dims_loader raised         -> {kind}_watch_failures

    Naming note: with a SNAPSHOT dims_loader a key that disappears stops
    enriching immediately — the removal HAS taken effect, so the counter
    says so. The reference's ignore-DELETED-until-TTL semantics
    (watch_pods.rb:182-186) are preserved only by the delta-apply path
    (dim_cdc.apply_dim_updates never applies deletes; io.dim_with_ttl
    ages rows out), where this counter stays 0 by construction.

    Snapshot fingerprints are one md5 per dim row — dims are
    broadcast-small by design (enrich.py scale notes), so the collect is
    O(dim), not O(stream). ``fingerprint_max_rows`` guards the contract:
    a dim that outgrows it (no longer broadcast-small; per-row diffing
    would OOM the driver) skips the diff for that batch and bumps
    ``{kind}_cache_fingerprint_skipped`` instead of collecting —
    enrichment itself is unaffected."""

    def __init__(self, fingerprint_max_rows: int = 100_000) -> None:
        self.counters: dict[str, int] = {}
        self._prev: dict[str, dict] = {"pod": None, "namespace": None}
        self.fingerprint_max_rows = fingerprint_max_rows

    def bump(self, name: str, n: int = 1) -> None:
        if n:
            self.counters[name] = self.counters.get(name, 0) + n

    def _fingerprint(self, df: DataFrame, key_cols: list[str]) -> dict:
        rows = df.select(
            F.concat_ws("/", *key_cols).alias("k"),
            F.md5(F.to_json(F.struct(*df.columns))).alias("h"),
        ).collect()
        return {r.k: r.h for r in rows}

    def observe(self, kind: str, df: DataFrame, key_cols: list[str]) -> None:
        # Bounded guard: scan at most max_rows+1 rows to decide, never
        # a full count of the dim (which re-ran its whole plan per
        # micro-batch before the fingerprint collect that follows).
        if df.limit(self.fingerprint_max_rows + 1).count() > self.fingerprint_max_rows:
            self.bump(f"{kind}_cache_fingerprint_skipped")
            self._prev[kind] = None  # a later small snapshot restarts clean
            return
        cur = self._fingerprint(df, key_cols)
        prev = self._prev[kind]
        if prev is None:
            self.bump(f"{kind}_cache_host_updates", len(cur))
        else:
            self.bump(f"{kind}_cache_host_updates",
                      sum(1 for k in cur if k not in prev))
            self.bump(f"{kind}_cache_watch_updates",
                      sum(1 for k, h in cur.items() if k in prev and prev[k] != h))
            removed = sum(1 for k in prev if k not in cur)
            self.bump(f"{kind}_cache_rows_removed", removed)
            # reference vocabulary (watch_pods.rb:186): under the
            # snapshot loader a vanished row ages out rather than being
            # delete-ignored, but consumers keyed to the reference
            # counter name must still see the event — emit both names.
            self.bump(f"{kind}_cache_watch_delete_ignored", removed)
        self._prev[kind] = cur


def enrich_stream(stream_df: DataFrame, dims_loader: Callable[[], tuple[DataFrame, DataFrame]],
                  sink: Callable[[DataFrame, int], None],
                  cfg: PipelineConfig = PipelineConfig(),
                  checkpoint_dir: str | None = None,
                  watch_stats: WatchStats | None = None) -> StreamingQuery:
    """foreachBatch enrichment with per-batch dim refresh.

    ``dims_loader`` is called every micro-batch and must return fresh
    (pods_dim, namespaces_dim) DataFrames — the O3 watch-CDC analogue.
    ``sink(batch_df, batch_id)`` owns the write (idempotent by batch_id
    for exactly-once). Pass a ``WatchStats`` to get the reference's
    watch-path counters per batch."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        try:
            pods, ns = dims_loader()
        except Exception:
            if watch_stats is not None:
                watch_stats.bump("pod_watch_failures")
                watch_stats.bump("namespace_watch_failures")
            raise
        if watch_stats is not None:
            watch_stats.observe("pod", pods, ["namespace_name", "pod_name"])
            watch_stats.observe("namespace", ns, ["namespace_name"])
        out = enrich(batch_df, pods, ns, cfg)
        sink(out, batch_id)

    writer = stream_df.writeStream.foreachBatch(process)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def windowed_sink_counts(stream_df: DataFrame,
                         dims_loader: Callable[[], tuple[DataFrame, DataFrame]],
                         cfg: PipelineConfig = PipelineConfig(),
                         window: str = "10 minutes",
                         watermark: str = "30 minutes",
                         query_name: str = "sink_counts") -> StreamingQuery:
    """Continuous per-sink counts over event-time windows with a
    watermark for late turns (the streaming analogue of the stats dump,
    O22/O23). Uses a stream-static join; NOTE the static side's parquet
    file index is captured at query analysis, so the dims are a FIXED
    snapshot for the query's lifetime — dim rows updated between
    micro-batches are not picked up here. For the O24 watch-upsert
    semantics (true per-batch dim refresh) use ``enrich_stream``, whose
    foreachBatch re-reads the dims every batch."""
    pods, ns = dims_loader()
    enriched = enrich(stream_df, pods, ns, cfg)
    agg = (
        enriched.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("w"),
            F.coalesce(F.col("namespace_name"), F.lit(PASSTHROUGH)).alias("sink"),
        )
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    return (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def default_dims_loader(spark: SparkSession, sf_dir: str):
    base = aux_dir(sf_dir)

    def load():
        return (
            spark.read.parquet(f"{base}/pods_dim.parquet"),
            spark.read.parquet(f"{base}/namespaces_dim.parquet"),
        )

    return load


# ------------------------------------------------------- stateful operator

CONV_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_turns", T.LongType()),
        T.StructField("max_turn_idx", T.IntegerType()),
        T.StructField("first_ts", T.TimestampType()),
    ]
)

CONV_PROGRESS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("n_turns", T.LongType()),
        T.StructField("max_turn_idx", T.IntegerType()),
        T.StructField("first_ts", T.TimestampType()),
    ]
)


def conversation_progress(stream_df: DataFrame, query_name: str = "conv_progress",
                          timeout: str = "NoTimeout") -> StreamingQuery:
    """Custom stateful operator: per-conversation running progress
    (turn count, max turn index, first timestamp) maintained across
    micro-batches via applyInPandasWithState — the Arrow-batched stateful
    path for semantics Spark's built-in aggregates can't express (e.g.
    monotonic per-conversation watermarks for resumable consumers).

    State is one tiny row per conversation, partitioned by conv_id —
    the same key the batch pipeline salts, so a hot conversation lands
    on one state partition but its state row stays O(1).
    """
    import pandas as pd

    def update(key, pdfs, state):
        n, mx, first = state.get if state.exists else (0, -1, None)
        for pdf in pdfs:
            n += len(pdf)
            mx = max(mx, int(pdf["turn_idx"].max()))
            ts_min = pdf["ts"].min()
            first = ts_min if first is None else min(first, ts_min)
        state.update((n, mx, first))
        yield pd.DataFrame(
            {"conv_id": [key[0]], "n_turns": [n], "max_turn_idx": [mx], "first_ts": [first]}
        )

    out = stream_df.groupBy("conv_id").applyInPandasWithState(
        update, CONV_PROGRESS_SCHEMA, CONV_STATE_SCHEMA, "update", timeout
    )
    return (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream(stream_df: DataFrame, text_col: str = "text",
                 ts_col: str = "ts", delay: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup on ingest: the first record with a given
    normalized-content fingerprint passes, later copies within the
    watermark window are dropped — the training-data analogue of the
    batch ``exact_dedup`` keeper filter, for pipelines that dedup as
    data lands instead of in a later batch pass.

    Uses ``dropDuplicatesWithinWatermark`` so the per-fingerprint state
    EXPIRES ``delay`` after the watermark passes its event time —
    bounded state at any stream length, unlike a plain streaming
    dropDuplicates whose fingerprint set grows forever. The trade is
    the reference's TTL trade (io.dim_with_ttl): a copy arriving more
    than ``delay`` after the original is no longer remembered and
    passes; at 100 TB/day that window bounds state to a day-scale
    working set while still collapsing the burst-duplication (crawl
    re-fetches, retry storms) that dominates real ingest.

    The internal fingerprint column is dropped before returning, so
    the output schema equals the input schema — downstream sinks see
    exactly the transcript columns they were written against."""
    from fluent_plugin_kubernetes_metadata_filter_spark.ops.dedup import (
        _content_fingerprint,
    )

    return (
        stream_df.withColumn("_dedup_fp", _content_fingerprint(text_col))
        .withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(["_dedup_fp"])
        .drop("_dedup_fp")
    )


def routed_sink(out_dir: str,
                route_column: str = "namespace_name") -> Callable[[DataFrame, int], None]:
    """Micro-batch ROUTED fan-out writer over ENRICHED batches: every
    batch appends into the same one-directory-per-sink layout
    ``io.write_routed`` produces in batch mode, in the batch job's emit
    shape (``pipeline.EMIT_COLS``: assembled structs, no scratch
    columns) minus ``turn_seq``, which needs the whole conversation and
    a micro-batch holds only part of one. Same partition scheme, same
    null-route default partition. Per-sink count parity and the written
    column set are pinned by
    ``tests/test_streaming.py::test_dedup_enrich_stream_routed_fanout``.

    Delivery contract: with ``availableNow`` + a checkpoint, batch ids
    are stable and replay only happens on a crash between the write and
    the checkpoint commit — the standard foreachBatch at-least-once
    caveat; exactly-once needs a transactional table format (the O24
    Iceberg contract, runtime-blocked in this sandbox)."""
    from fluent_plugin_kubernetes_metadata_filter_spark.io import write_routed
    from fluent_plugin_kubernetes_metadata_filter_spark.pipeline import EMIT_COLS

    cols = [c for c in EMIT_COLS if c != "turn_seq"]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out = assemble_structs(batch_df).select(*cols)
        write_routed(out, out_dir, route_column, mode="append")

    return sink


def dedup_enrich_stream(stream_df: DataFrame,
                        dims_loader: Callable[[], tuple[DataFrame, DataFrame]],
                        sink: Callable[[DataFrame, int], None],
                        cfg: PipelineConfig = PipelineConfig(),
                        text_col: str = "text", ts_col: str = "ts",
                        delay: str = "30 minutes",
                        checkpoint_dir: str | None = None,
                        watch_stats: WatchStats | None = None) -> StreamingQuery:
    """Dedup-on-ingest composed ahead of enrichment — the streaming
    mirror of the batch dedup-then-enrich story: crawl re-fetches and
    retry storms are collapsed by the watermark-bounded fingerprint
    state BEFORE the dim joins spend any work on them, and each
    surviving micro-batch then takes the identical per-batch
    dim-refresh path as ``enrich_stream``. One job, one checkpoint;
    the dedup state bound is ``dedup_stream``'s TTL trade, and the
    routed output equals the batch path run on the fingerprint-deduped
    input (parity-tested against ``enrich`` over the same rows)."""
    deduped = dedup_stream(stream_df, text_col=text_col, ts_col=ts_col,
                           delay=delay)
    return enrich_stream(deduped, dims_loader, sink, cfg,
                         checkpoint_dir=checkpoint_dir,
                         watch_stats=watch_stats)
