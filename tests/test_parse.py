"""Extraction tests (SURVEY.md O5-O8) — regex parity with
filter_kubernetes_metadata.rb:57-58,365 and the tags at
test/plugin/test_filter_kubernetes_metadata.rb:27-28."""

import re

import pyspark.sql.functions as F
import pytest

from fluent_plugin_kubernetes_metadata_filter_spark.config import PipelineConfig
from fluent_plugin_kubernetes_metadata_filter_spark.parse import (
    REGEX_VAR_LOG_CONTAINERS,
    REGEX_VAR_LOG_PODS,
    extract_source_fields,
    group_index,
    resolve_identity,
)
from tests.conftest import (
    CONTAINER,
    DOCKER_ID,
    POD_NAME,
    POD_UID,
    TAG_CONTAINERS,
    TAG_PODS,
    transcript,
)

PY_PODS = re.compile(REGEX_VAR_LOG_PODS.replace("(?<", "(?P<"))
PY_CONT = re.compile(REGEX_VAR_LOG_CONTAINERS.replace("(?<", "(?P<"))


def _extract(spark, tag):
    df = extract_source_fields(transcript(spark, tag))
    return df.select(
        "x_namespace", "x_pod_name", "x_container_name", "x_pod_uuid", "x_docker_id", "x_branch"
    ).collect()[0]


def test_containers_tag(spark):
    r = _extract(spark, TAG_CONTAINERS)
    assert r.x_namespace == "default"
    assert r.x_pod_name == POD_NAME
    assert r.x_container_name == CONTAINER
    assert r.x_docker_id == DOCKER_ID
    assert r.x_pod_uuid is None
    assert r.x_branch == "containers"


def test_pods_tag(spark):
    r = _extract(spark, TAG_PODS)
    assert r.x_namespace == "default"
    assert r.x_pod_name == POD_NAME
    assert r.x_container_name == CONTAINER
    assert r.x_pod_uuid == POD_UID
    assert r.x_docker_id is None
    assert r.x_branch == "pods"


def test_dotted_pod_name(spark):
    # test_filter_kubernetes_metadata.rb:560-584
    tag = f"var.log.containers.fabric8-console-controller.98rqc_default_{CONTAINER}-{DOCKER_ID}.log"
    r = _extract(spark, tag)
    assert r.x_pod_name == "fabric8-console-controller.98rqc"
    assert r.x_namespace == "default"


@pytest.mark.parametrize("tag", ["non-kubernetes", "", "var.log.containers.malformed"])
def test_non_matching(spark, tag):
    r = _extract(spark, tag)
    assert r.x_branch is None
    assert r.x_namespace is None


def test_group_indices_match_python_re():
    """Group numbering used for the JVM extraction must match what Python
    re computes on the identical pattern (drift guard)."""
    gi = group_index(REGEX_VAR_LOG_CONTAINERS)
    m = re.search(
        REGEX_VAR_LOG_CONTAINERS.replace("(?<", "(?P<"), TAG_CONTAINERS
    )
    assert m.group(gi["docker_id"]) == DOCKER_ID
    assert m.group(gi["namespace"]) == "default"
    gi2 = group_index(REGEX_VAR_LOG_PODS)
    m2 = re.search(REGEX_VAR_LOG_PODS.replace("(?<", "(?P<"), TAG_PODS)
    assert m2.group(gi2["pod_uuid"]) == POD_UID


def test_cache_key_selection(spark):
    """O7 (filter:368-372): pod_uuid is the key for the pods branch,
    docker_id for the containers branch."""
    cfg = PipelineConfig()
    d1 = resolve_identity(extract_source_fields(transcript(spark, TAG_PODS)), cfg)
    assert d1.select("i_cache_key").collect()[0][0] == POD_UID
    d2 = resolve_identity(extract_source_fields(transcript(spark, TAG_CONTAINERS)), cfg)
    assert d2.select("i_cache_key").collect()[0][0] == DOCKER_ID


ADVERSARIAL = [
    "", "non-kubernetes", "var.log.containers.", "var.log.pods.",
    "var.log.containers.pod_ns_c-" + "a" * 64 + ".log",
    "var.log.containers.pod_ns_c-" + "a" * 63 + ".log",
    "var.log.containers.POD_ns_c-" + "a" * 64 + ".log",
    "prefix.var.log.containers.pod_ns_c-" + "a" * 64 + ".log",
    "var.log.pods.ns_pod_uuid-1.c.0.log",
    "var.log.pods.ns_pod_.c.0.log",
    "var.log.pods.ns_pod_uuid.c.log",
    "var.log.pods.ns_pod_uuid.c.x.y.log",
    "var.log.pods.ns_pod.c.0.log",
    "var.log.containers.pod_ns_c-x-" + "b" * 64 + ".log",
    "var.log.containers.pod_ns_c-" + "a" * 64 + ".log.extra",
    "var.log.pods.ns_pod_uuid.c..log",
    "var.log.containers.pod_ns_with_many_under_c-" + "c" * 64 + ".log",
    "var.log.pods.ns_my.dotted.pod_uuid.c.0.log",
]


def _python_re_fields(tag):
    """Ground truth: the reference patterns under Python ``re``, PODS
    branch first like the reference's union regex (filter:66-67)."""
    if tag is not None:
        m = PY_PODS.search(tag)
        if m:
            return (m["namespace"], m["pod_name"], m["container_name"],
                    m["pod_uuid"], None, "pods")
        m = PY_CONT.search(tag)
        if m:
            return (m["namespace"], m["pod_name"], m["container_name"],
                    None, m["docker_id"], "containers")
    return (None,) * 6


def _adversarial_frame(spark):
    import pyspark.sql.types as T

    return spark.createDataFrame(
        [(t,) for t in ADVERSARIAL], T.StructType([T.StructField("tool", T.StringType())])
    )


def _corpus_frame(spark):
    from fluent_plugin_kubernetes_metadata_filter_spark.io import load_table

    return load_table(spark, "/root/testdata/sf0.001", "transcripts").limit(2000)


@pytest.mark.parametrize(
    "frame, n",
    [(_adversarial_frame, len(ADVERSARIAL)), (_corpus_frame, 2000)],
    ids=["adversarial", "corpus"],
)
def test_extraction_matches_python_re(spark, frame, n):
    """The JVM extraction must agree with Python ``re`` on the reference
    patterns, row for row, over malformed / pathological tags and the
    sf0.001 corpus (2000 generated rows)."""
    cols = ["tool", "x_namespace", "x_pod_name", "x_container_name", "x_pod_uuid", "x_docker_id", "x_branch"]
    rows = extract_source_fields(frame(spark)).select(*cols).collect()
    assert len(rows) == n
    for r in rows:
        assert tuple(r)[1:] == _python_re_fields(r.tool), r.tool


def test_record_override_wins(spark):
    """O8 (filter:384-399): complete record-carried identity beats tag."""
    df = transcript(spark, TAG_CONTAINERS).withColumns(
        {
            "k8s_namespace_name": F.lit("recordns"),
            "k8s_pod_name": F.lit("recordpod"),
            "k8s_container_name": F.lit("recordcontainer"),
            "docker_container_id": F.lit("recid123"),
        }
    )
    r = resolve_identity(extract_source_fields(df), PipelineConfig()).collect()[0]
    assert r.i_namespace == "recordns"
    assert r.i_pod_name == "recordpod"
    assert r.i_cache_key == "recid123"
    assert r.i_docker_id == "recid123"


def test_record_override_partial_falls_back(spark):
    """Partial record identity (null container_name) -> tag parse wins."""
    df = transcript(spark, TAG_CONTAINERS).withColumns(
        {
            "k8s_namespace_name": F.lit("recordns"),
            "k8s_pod_name": F.lit("recordpod"),
            "k8s_container_name": F.lit(None).cast("string"),
            "docker_container_id": F.lit("recid123"),
        }
    )
    r = resolve_identity(extract_source_fields(df), PipelineConfig()).collect()[0]
    assert r.i_namespace == "default"
    assert r.i_pod_name == POD_NAME
    assert r.i_cache_key == DOCKER_ID


def test_record_override_disabled(spark):
    """lookup_from_k8s_field=false -> tag parse always wins (filter:77)."""
    df = transcript(spark, TAG_CONTAINERS).withColumns(
        {
            "k8s_namespace_name": F.lit("recordns"),
            "k8s_pod_name": F.lit("recordpod"),
            "k8s_container_name": F.lit("c"),
            "docker_container_id": F.lit("recid123"),
        }
    )
    cfg = PipelineConfig(lookup_from_k8s_field=False)
    r = resolve_identity(extract_source_fields(df), cfg).collect()[0]
    assert r.i_namespace == "default"


def test_record_override_nested_structs(spark):
    """O8 with the record's actual nested kubernetes/docker sub-records
    (the shape the reference reads at filter:384-399)."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("tool", T.StringType()),
            T.StructField(
                "kubernetes",
                T.StructType(
                    [
                        T.StructField("namespace_name", T.StringType()),
                        T.StructField("pod_name", T.StringType()),
                        T.StructField("container_name", T.StringType()),
                    ]
                ),
            ),
            T.StructField(
                "docker",
                T.StructType([T.StructField("container_id", T.StringType())]),
            ),
        ]
    )
    rows = [
        ("c1", 0, TAG_CONTAINERS, ("rns", "rpod", "rcont"), ("rid",)),
        ("c2", 0, TAG_CONTAINERS, ("rns", "rpod", None), ("rid",)),  # partial
        ("c3", 0, "non-kubernetes", None, None),
    ]
    df = spark.createDataFrame(rows, schema)
    out = {
        r.conv_id: r
        for r in resolve_identity(extract_source_fields(df), PipelineConfig()).collect()
    }
    assert out["c1"].i_namespace == "rns" and out["c1"].i_cache_key == "rid"
    assert out["c2"].i_namespace == "default"  # partial -> tag wins
    assert out["c3"].i_matched is False
