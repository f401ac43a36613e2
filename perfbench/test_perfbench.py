"""Tests of the benchmark itself: metric names and units, seeded inputs,
the output check against corrupted outputs, and the trace arithmetic.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

END_TO_END = {
    "rows_per_s": "1/s", "first_pass_s": "s", "setup_s": "s", "cpu_s_per_mrow": "s",
    "peak_rss_mb": "MB", "files_written": "count", "output_mb": "MB",
}
PER_LAYER = [
    "io.scan.task_s", "io.scan.mb", "route.window.shuffle_mb", "enrich.task_s",
    "enrich.cpu_s", "route.exchange.shuffle_mb", "route.exchange.task_skew",
    "io.write.task_s", "io.write.gc_s", "io.write.spill_mb", "pipeline.sink_counts_s",
    "checkpoint.snapshot_s", "checkpoint.fill_s", "checkpoint.group_write_s",
    "checkpoint.cache_mb", "checkpoint.sinks_written", "checkpoint.sinks_skipped",
    "checkpoint.rows_enriched_per_row_written", "jvm.gc_s", "spark.jobs", "spark.tasks",
    "driver.gap_s", "trace.overhead_rows_per_s",
]


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_every_metric_is_reported_with_its_unit():
    assert dict(run.END_TO_END) == END_TO_END
    assert [name for name, _unit in tracing.LAYER_METRICS] == PER_LAYER
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == dict(tracing.LAYER_METRICS)
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


def test_setup_has_the_largest_bound():
    bounds = {m["name"]: m["bound"] for m in _bench()["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_inputs_are_fixed_by_the_seed(tmp_path):
    a = inputs.make_inputs(str(tmp_path / "a"), "batch_routed", 3, rows=2000)
    b = inputs.make_inputs(str(tmp_path / "b"), "batch_routed", 3, rows=2000)
    c = inputs.make_inputs(str(tmp_path / "c"), "batch_routed", 4, rows=2000)
    ta, tb, tc = (pq.read_table(x["transcripts"]) for x in (a, b, c))
    assert ta.num_rows == tc.num_rows == 2000
    assert ta.equals(tb)
    assert not ta.equals(tc)


def test_long_turns_carry_kilobytes_of_text(tmp_path):
    inp = inputs.make_inputs(str(tmp_path), "long_turns", 1, rows=500)
    lens = pq.read_table(inp["transcripts"]).column("text").to_pylist()
    assert min(len(t) for t in lens) >= inputs.LONG_TEXT_BYTES[0]


def test_oracle_counts_cover_every_input_row(tmp_path):
    inp = inputs.make_inputs(str(tmp_path), "batch_routed", 5, rows=3000)
    counts = inputs.oracle_route_counts(inp["dir"])
    assert sum(counts.values()) == 3000
    assert "__passthrough__" in counts and ".orphaned" in counts


# --------------------------------------------------------- output check

def _write_tree(out: str, counts: dict) -> None:
    """A routed output tree with one parquet file per sink."""
    for sink, n in counts.items():
        value = "__HIVE_DEFAULT_PARTITION__" if sink == "__passthrough__" else sink
        d = os.path.join(out, f"namespace_name={value}")
        os.makedirs(d)
        pq.write_table(pa.table({"conv_id": [f"c{i}" for i in range(n)]}),
                       os.path.join(d, "part-00000.snappy.parquet"))


EXPECTED = {"default": 5, "ns-02": 3, ".orphaned": 2, "__passthrough__": 4}


def test_output_check_accepts_a_correct_output(tmp_path):
    _write_tree(str(tmp_path), EXPECTED)
    assert workloads.check_output(str(tmp_path), EXPECTED, 14) == []
    assert workloads.output_size(str(tmp_path))[0] == 4


def test_output_check_fails_on_a_deleted_sink_file(tmp_path):
    _write_tree(str(tmp_path), EXPECTED)
    os.remove(os.path.join(tmp_path, "namespace_name=ns-02", "part-00000.snappy.parquet"))
    problems = workloads.check_output(str(tmp_path), EXPECTED, 14)
    assert any("ns-02" in p for p in problems)
    assert any("written rows 11" in p for p in problems)


def test_output_check_fails_on_a_duplicated_file(tmp_path):
    _write_tree(str(tmp_path), EXPECTED)
    d = os.path.join(tmp_path, "namespace_name=default")
    shutil.copy(os.path.join(d, "part-00000.snappy.parquet"),
                os.path.join(d, "part-00001.snappy.parquet"))
    assert workloads.check_output(str(tmp_path), EXPECTED, 14)


def _records(snapshot="snap"):
    return [{"sink": s, "rows": n, "input_snapshot": snapshot, "wall_time_sec": 0.1,
             "completed_at": 0.0} for s, n in EXPECTED.items()]


def test_manifest_check_accepts_each_sink_once():
    recs = _records() + [dict(_records()[0], input_snapshot="older")]
    assert workloads.check_manifest(recs, "snap", EXPECTED) == []


def test_manifest_check_fails_on_a_duplicated_line():
    recs = _records()
    recs.append(dict(recs[1]))
    problems = workloads.check_manifest(recs, "snap", EXPECTED)
    assert any("2 times" in p for p in problems)


def test_manifest_check_fails_on_a_missing_sink():
    assert workloads.check_manifest(_records()[1:], "snap", EXPECTED)


# ------------------------------------------------------------ tracing

def test_disabled_tracer_records_nothing():
    t = tracing.Tracer()
    with t.span("pass") as idx:
        pass
    assert idx is None and t.spans == []


class _Ctx:
    def __init__(self):
        self.descriptions = []

    def setJobDescription(self, d):
        self.descriptions.append(d)


def test_spans_nest_and_tag_jobs():
    ctx = _Ctx()
    t = tracing.Tracer(ctx)
    with t.span("pass"):
        with t.span("io.write_routed"):
            pass
    assert [s.name for s in t.spans] == ["pass", "io.write_routed"]
    assert t.spans[1].parent == 0
    assert ctx.descriptions == ["span-0", "span-1", "span-0", None]


def test_self_time_subtracts_children_and_jobs():
    spans = [tracing.Span("pass", 0.0, 10.0), tracing.Span("io.write_routed", 1.0, 9.0, 0)]
    jobs = {0: tracing.Job(0, 1, 0, 2.0, 5.0), 1: tracing.Job(1, 1, 0, 4.0, 6.0)}
    self_s = tracing.self_times(spans, jobs)
    assert self_s["pass"] == pytest.approx(2.0)
    assert self_s["io.write_routed"] == pytest.approx(4.0)


def test_stages_are_classified_by_layer():
    scan = tracing.Stage(1, 0, {"Scan parquet ", "Exchange"}, in_b=1, sw_b=10)
    enrich = tracing.Stage(2, 0, {"Window", "Exchange"}, sr_b=10, sw_b=20)
    write = tracing.Stage(3, 0, {"WriteFiles"}, sr_b=20, out_b=5)
    dims = tracing.Stage(0, 0, {"Scan parquet ", "BroadcastExchange"}, in_b=1)
    layers = tracing.classify([write, enrich, scan, dims])
    assert layers["scan"] == [scan]
    assert layers["enrich"] == [enrich]
    assert layers["route_reader"] == [write]
    assert layers["write"] == [write]


def _resume_case(tmp_path, n_sinks=20, rows_per_sink=3):
    expected = {f"ns-{i:02d}": rows_per_sink + i for i in range(n_sinks)}
    inp = {"rows": sum(expected.values()), "dir": str(tmp_path / "input")}
    return workloads.ResumeAfterCrash(inp, expected, str(tmp_path)), expected


def _commit(wl, sinks, expected, snapshot="snap"):
    """What a resumable write leaves behind for ``sinks``: their output
    directories and one manifest record each."""
    _write_tree(wl.out, {s: expected[s] for s in sinks})
    os.makedirs(wl.manifest_dir, exist_ok=True)
    with open(os.path.join(wl.manifest_dir, "lineage.jsonl"), "a") as fh:
        for s in sinks:
            fh.write(json.dumps({"sink": s, "rows": expected[s], "input_snapshot": snapshot,
                                 "wall_time_sec": 0.1, "completed_at": 0.0}) + "\n")
    return {"snapshot": snapshot, "counts": {s: expected[s] for s in sinks}}


def test_resume_restores_the_crash_state_and_checks_the_resumed_pass(tmp_path):
    wl, expected = _resume_case(tmp_path)
    sinks = sorted(expected)
    wl.prepare()
    assert wl.check(_commit(wl, sinks, expected)) == []  # the clean first pass

    wl.prepare()  # restore: the first CRASHED_AFTER_SINKS sinks are committed
    committed = sinks[:workloads.CRASHED_AFTER_SINKS]
    assert workloads.written_counts(wl.out) == {s: expected[s] for s in committed}
    assert wl.check(_commit(wl, sinks[len(committed):], expected)) == []


def test_resume_check_fails_on_a_rewritten_committed_sink(tmp_path):
    wl, expected = _resume_case(tmp_path)
    sinks = sorted(expected)
    wl.prepare()
    wl.check(_commit(wl, sinks, expected))
    wl.prepare()
    shutil.rmtree(os.path.join(wl.out, f"namespace_name={sinks[0]}"))
    problems = wl.check(_commit(wl, [sinks[0]] + sinks[workloads.CRASHED_AFTER_SINKS:],
                                expected))
    assert any("2 times" in p for p in problems)
    assert any("clean run" in p for p in problems)
