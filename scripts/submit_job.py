"""spark-submit entrypoint for the enrich+route job.

Cluster usage (N and 4N executors — the BASELINE.json scaling setup):

    zip -r engine.zip fluent_plugin_kubernetes_metadata_filter_spark
    spark-submit --py-files engine.zip \
        --num-executors 250 --executor-cores 4 --executor-memory 16g \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.skewJoin.enabled=true \
        scripts/submit_job.py \
        --input  s3://bucket/transcripts/ \
        --pods-dim s3://bucket/dims/pods/ \
        --ns-dim s3://bucket/dims/namespaces/ \
        --output s3://bucket/routed/ \
        --manifest s3://bucket/manifests/run1/

In the sandbox it runs against the generated sf dirs on local[N]
(spark-submit scripts/submit_job.py --sf-dir /root/testdata/sf0.01).
"""

from __future__ import annotations

import argparse
import json
import sys
import time

try:  # on a cluster the package arrives via --py-files engine.zip
    import fluent_plugin_kubernetes_metadata_filter_spark  # noqa: F401
except ImportError:  # sandbox convenience: run straight from the repo
    sys.path.insert(0, "/root/repo")


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=None, help="sandbox: testdata sf dir")
    ap.add_argument("--input", default=None)
    ap.add_argument("--pods-dim", default=None)
    ap.add_argument("--ns-dim", default=None)
    ap.add_argument("--output", default=None)
    ap.add_argument("--manifest", default=None, help="lineage dir for resumable runs")
    ap.add_argument("--salt-buckets", type=int, default=8)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from fluent_plugin_kubernetes_metadata_filter_spark.config import PipelineConfig
    from fluent_plugin_kubernetes_metadata_filter_spark import pipeline
    from fluent_plugin_kubernetes_metadata_filter_spark.checkpoint import (
        LineageManifest,
        input_snapshot_id,
        resumable_fanout_write,
    )
    from fluent_plugin_kubernetes_metadata_filter_spark.io import aux_dir, write_routed
    from fluent_plugin_kubernetes_metadata_filter_spark.route import per_sink_counts

    spark = SparkSession.builder.appName("k8s-meta-enrich-route").getOrCreate()
    cfg = PipelineConfig(salt_buckets=args.salt_buckets)

    t0 = time.time()
    # ONE composition for both paths (pipeline.routed_frames): same
    # pruned output contract (no scratch columns, structs assembled) and
    # the same shuffle plan (window on the narrow raw input) whether the
    # source is an sf dir or cluster parquet/Iceberg paths.
    if args.sf_dir:
        df = pipeline.routed_output(spark, args.sf_dir, cfg)
        in_path = aux_dir(args.sf_dir)
    else:
        df = pipeline.routed_frames(
            spark.read.parquet(args.input),
            spark.read.parquet(args.pods_dim),
            spark.read.parquet(args.ns_dim),
            cfg,
        )
        in_path = args.input

    if args.manifest and args.output:
        manifest = LineageManifest(args.manifest)
        snap = input_snapshot_id(spark, in_path)
        recs = resumable_fanout_write(df, args.output, manifest, snap)
        counts = {r.sink: r.rows for r in recs}
    elif args.output:
        # counts read back from the WRITTEN partitions (metadata-cheap):
        # a per_sink_counts over the unwritten frame would execute the
        # whole scan->enrich DAG a second time
        write_routed(df, args.output, cfg.route_column)
        back = spark.read.parquet(args.output)
        counts = {r.sink: r.n_rows for r in per_sink_counts(back, cfg.route_column).collect()}
    else:
        counts = {r.sink: r.n_rows for r in per_sink_counts(df, cfg.route_column).collect()}

    import fluent_plugin_kubernetes_metadata_filter_spark as pkg

    # package_origin shows WHERE the code loaded from — on a cluster run
    # it must point into the --py-files zip, proving the ship path works
    print(json.dumps({
        "sinks": counts,
        "wall_sec": round(time.time() - t0, 2),
        "package_origin": pkg.__file__,
    }))


if __name__ == "__main__":
    main()
