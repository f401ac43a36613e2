"""The enrichment plan's Column expressions are built once per config and
JVM: a warm ``routed_frames`` build is a few hundred Py4J round trips,
and the cached expressions outlive a SparkSession restart in the same
JVM but not a different gateway."""

import json
import os
import subprocess
import sys
import textwrap
import threading

from py4j.clientserver import ClientServerConnection

from fluent_plugin_kubernetes_metadata_filter_spark import pipeline
from fluent_plugin_kubernetes_metadata_filter_spark.config import PipelineConfig
from fluent_plugin_kubernetes_metadata_filter_spark.exprcache import JvmMemo
from tests.conftest import EVENT_TIME, TAG_CONTAINERS, TAG_PODS, TRANSCRIPT_SCHEMA

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The chained-withColumn build made ~3,500 round trips per pass; one
# withColumns per stage over cached expressions makes ~200.
MAX_ROUND_TRIPS = 300


def transcripts(spark):
    """Tagged turns hitting the pod, the pods-tag and the passthrough
    branches, over a few conversations."""
    tags = [TAG_CONTAINERS, TAG_PODS, "some.other.tag", None]
    rows = [(f"conv-{c}", t, "tool", f"turn {c}.{t}", tags[(c + t) % len(tags)], EVENT_TIME)
            for c in range(5) for t in range(8)]
    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)


def test_warm_routed_frames_round_trip_ceiling(spark, pods_dim, ns_dim, monkeypatch):
    src = transcripts(spark)
    pipeline.routed_frames(src, pods_dim, ns_dim)  # fills the expression cache
    me = threading.get_ident()
    sent = []
    send = ClientServerConnection.send_command

    def counting(self, command):
        # only this thread's calls: py4j's finalizer thread sends object
        # deletions for garbage from earlier work at arbitrary times
        if threading.get_ident() == me:
            sent.append(command)
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    pipeline.routed_frames(src, pods_dim, ns_dim)
    monkeypatch.undo()
    assert 0 < len(sent) <= MAX_ROUND_TRIPS


def test_memo_misses_on_another_gateway():
    built = []
    memo = JvmMemo(lambda *key: built.append(key) or object())
    jvm_a, jvm_b = object(), object()
    first = memo.get(jvm_a, "cfg")
    assert memo.get(jvm_a, "cfg") is first
    assert memo.get(jvm_a, "other") is not first
    # a relaunched JVM has a new gateway: nothing built for the old one
    # is handed out
    assert memo.get(jvm_b, "cfg") is not first
    assert memo.get(jvm_a, "cfg") is not first
    assert built == [("cfg",), ("other",), ("cfg",), ("cfg",)]


def test_config_is_a_cache_key_even_with_a_list():
    listed = PipelineConfig(annotation_match=["custom.+"])
    assert listed == PipelineConfig(annotation_match=("custom.+",))
    assert hash(listed) == hash(PipelineConfig(annotation_match=("custom.+",)))


# Runs in its own interpreter (its own JVM), so stopping the session does
# not stop the test session's shared one.
RESTART = textwrap.dedent("""
    import json, sys
    from collections import Counter

    import pyspark.sql.functions as F

    from fluent_plugin_kubernetes_metadata_filter_spark import enrich, parse, pipeline
    from fluent_plugin_kubernetes_metadata_filter_spark.config import PipelineConfig
    from fluent_plugin_kubernetes_metadata_filter_spark.io import write_routed
    from fluent_plugin_kubernetes_metadata_filter_spark.session import build_session

    inp, out = sys.argv[1], sys.argv[2]
    cfg = PipelineConfig()

    def session():
        s = build_session(app="exprcache-restart", master="local[2]", shuffle_partitions=4)
        s.sparkContext.setLogLevel("ERROR")
        return s

    def build_and_write(spark, path):
        tables = (spark.read.parquet(f"{inp}/{t}") for t in ("transcripts", "pods", "namespaces"))
        write_routed(pipeline.routed_frames(*tables, cfg), path, cfg.route_column)

    def cached():
        return (enrich._enrich_exprs(cfg, "ts"),
                parse._extract_exprs("tool", None, None))

    spark = session()
    build_and_write(spark, out + "/first")
    before = cached()
    spark.stop()
    spark = session()
    build_and_write(spark, out + "/second")
    reused = all(a is b for a, b in zip(before, cached()))

    def rows(path):
        df = spark.read.parquet(path)
        return Counter(r[0] for r in df.select(F.to_json(F.struct(*sorted(df.columns)))).collect())

    first = rows(out + "/first")
    print(json.dumps({"reused": reused, "rows": sum(first.values()),
                      "same_rows": first == rows(out + "/second")}))
    spark.stop()
""")


def test_cache_survives_session_restart_in_one_jvm(spark, pods_dim, ns_dim, tmp_path):
    inp = tmp_path / "input"
    for name, df in (("transcripts", transcripts(spark)), ("pods", pods_dim),
                     ("namespaces", ns_dim)):
        df.write.parquet(str(inp / name))
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    done = subprocess.run(
        [sys.executable, "-c", RESTART, str(inp), str(tmp_path / "out")],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-4000:]
    got = json.loads(done.stdout.strip().splitlines()[-1])
    assert got["reused"]
    assert got["rows"] > 0 and got["same_rows"]
