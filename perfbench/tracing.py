"""Spans around the benchmark's calls into the engine, and per-layer
metrics from Spark's own event log.

Spans are kept in memory: name, start, end, parent. Each traced pass is a
root span; each call into ``pipeline``, ``io`` or ``checkpoint`` is a child
of its pass. While a call span is open the SparkContext's job description
names it, so the event log tags every job (and the stages it submits) with
the call that caused it; jobs become child spans of calls and stages child
spans of jobs.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field

MB = 1e6

# Event-log settings: uncompressed and non-rolling, so one plain JSON-lines
# file per application; the UI stays off (session.build_session).
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
    # block updates carry the size of every cached partition (checkpoint.cache_mb)
    "spark.eventLog.logBlockUpdates.enabled": "true",
}

# (name, unit) of every per-layer metric, in report order
LAYER_METRICS = [
    ("io.scan.task_s", "s"),
    ("io.scan.mb", "MB"),
    ("route.window.shuffle_mb", "MB"),
    ("enrich.task_s", "s"),
    ("enrich.cpu_s", "s"),
    ("route.exchange.shuffle_mb", "MB"),
    ("route.exchange.task_skew", "ratio"),
    ("io.write.task_s", "s"),
    ("io.write.gc_s", "s"),
    ("io.write.spill_mb", "MB"),
    ("pipeline.sink_counts_s", "s"),
    ("checkpoint.snapshot_s", "s"),
    ("checkpoint.fill_s", "s"),
    ("checkpoint.group_write_s", "s"),
    ("checkpoint.cache_mb", "MB"),
    ("checkpoint.sinks_written", "count"),
    ("checkpoint.sinks_skipped", "count"),
    ("checkpoint.rows_enriched_per_row_written", "ratio"),
    ("jvm.gc_s", "s"),
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("driver.gap_s", "s"),
    ("trace.overhead_rows_per_s", "1/s"),
]


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None


class Tracer:
    """In-memory spans. A disabled tracer records nothing and leaves the
    job description alone, so untraced passes run the bare calls."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._open: list[int] = []

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), parent=parent))
        self._open.append(idx)
        self.sc.setJobDescription(f"span-{idx}")
        try:
            yield idx
        finally:
            self.spans[idx].end = time.time()
            self._open.pop()
            self.sc.setJobDescription(f"span-{self._open[-1]}" if self._open else None)


# ------------------------------------------------------------ event log

@dataclass
class Stage:
    id: int
    span: int | None
    scopes: set
    start: float = 0.0
    end: float = 0.0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    in_b: int = 0
    sr_b: int = 0
    sw_b: int = 0
    out_b: int = 0
    spill_b: int = 0
    task_s: list = field(default_factory=list)


@dataclass
class Job:
    id: int
    span: int | None
    execution: int | None
    start: float
    end: float = 0.0
    stages: list = field(default_factory=list)


def _span_of(props: dict | None) -> int | None:
    desc = (props or {}).get("spark.job.description") or ""
    return int(desc[5:]) if desc.startswith("span-") else None


def _scan_metric_ids(plan: dict, out: set) -> None:
    """Accumulator ids of "size of files read" on the file-scan nodes."""
    if plan["nodeName"].startswith("Scan "):
        out.update(m["accumulatorId"] for m in plan["metrics"]
                   if m["name"] == "size of files read")
    for child in plan["children"]:
        _scan_metric_ids(child, out)


@dataclass
class EventLog:
    jobs: dict
    # cached-block size updates: (time, block id, bytes)
    blocks: list
    # bytes of input files each SQL execution's scans selected
    scan_bytes: dict


def read_event_log(path: str) -> EventLog:
    """Jobs with their stages (and task totals) of one application's log, the
    cached-block updates and the scanned input bytes per SQL execution.

    Task "Bytes Read" is not used for the scan: the parquet reader's
    vectored reads run outside the task thread and are not counted there,
    so the scan's driver-side "size of files read" metric stands in."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    # block updates carry no time; each takes the time of the job event before it
    blocks: list[tuple[float, str, int]] = []
    owner: dict[int, int] = {}  # stage id -> first job that lists it
    scan_ids: set = set()
    accums: list[tuple[int, int, int]] = []
    last_t = 0.0
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                ex = props.get("spark.sql.execution.id")
                last_t = ev["Submission Time"] / 1e3
                jobs[ev["Job ID"]] = Job(ev["Job ID"], _span_of(props),
                                         int(ex) if ex is not None else None,
                                         ev["Submission Time"] / 1e3)
                for sid in ev.get("Stage IDs", []):
                    owner.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                last_t = ev["Completion Time"] / 1e3
                jobs[ev["Job ID"]].end = last_t
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                scopes = {json.loads(r["Scope"])["name"] for r in info.get("RDD Info", [])
                          if r.get("Scope")}
                stages[info["Stage ID"]] = Stage(info["Stage ID"], _span_of(ev.get("Properties")),
                                                 scopes)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.get(info["Stage ID"])
                if st is not None:
                    st.start = info.get("Submission Time", 0) / 1e3
                    st.end = info.get("Completion Time", 0) / 1e3
            elif kind == "SparkListenerTaskEnd":
                st = stages.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if st is None or not m:
                    continue
                ti = ev["Task Info"]
                st.task_s.append((ti["Finish Time"] - ti["Launch Time"]) / 1e3)
                st.run_s += m["Executor Run Time"] / 1e3
                st.cpu_s += m["Executor CPU Time"] / 1e9
                st.gc_s += m["JVM GC Time"] / 1e3
                st.in_b += m["Input Metrics"]["Bytes Read"]
                st.out_b += m["Output Metrics"]["Bytes Written"]
                sr = m["Shuffle Read Metrics"]
                st.sr_b += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                st.sw_b += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                st.spill_b += m["Disk Bytes Spilled"]
            elif kind == "SparkListenerBlockUpdated":
                b = ev["Block Updated Info"]
                blocks.append((last_t, b["Block ID"], b["Memory Size"] + b["Disk Size"]))
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _scan_metric_ids(ev["sparkPlanInfo"], scan_ids)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                accums += [(ev["executionId"], a, v) for a, v in ev["accumUpdates"]]
    for st in stages.values():
        if st.id in owner:
            jobs[owner[st.id]].stages.append(st)
    scan_bytes: dict[int, int] = defaultdict(int)
    for ex, acc, value in accums:
        if acc in scan_ids:
            scan_bytes[ex] += value
    return EventLog(jobs, blocks, dict(scan_bytes))


def _union_s(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _descendants(spans: list[Span], root: int) -> set[int]:
    out = {root}
    for i, sp in enumerate(spans):
        if sp.parent in out:
            out.add(i)
    return out


def classify(stages: list[Stage]) -> dict[str, list[Stage]]:
    """Group a pass's stages by layer.

    - scan: reads the input files and writes the window exchange;
    - enrich: holds the conv_id Window (and the parse + broadcast enrich
      that pipeline onto it) and writes the route exchange;
    - route_reader: the first stage reading the route exchange;
    - write: writes parquet output.
    """
    layers: dict[str, list[Stage]] = defaultdict(list)
    for st in sorted(stages, key=lambda s: s.id):
        if st.sw_b and not st.sr_b and any(s.startswith("Scan ") for s in st.scopes):
            layers["scan"].append(st)
        elif st.sr_b and st.sw_b and "Window" in st.scopes:
            layers["enrich"].append(st)
        else:
            if st.sr_b and layers["enrich"] and not layers["route_reader"]:
                layers["route_reader"].append(st)
            if st.out_b:
                layers["write"].append(st)
    return layers


def pass_metrics(spans: list[Span], pass_idx: int, log: EventLog) -> dict:
    """Per-layer metrics of one traced pass."""
    mine = _descendants(spans, pass_idx)
    root = spans[pass_idx]
    by_name = {spans[i].name: spans[i] for i in mine}
    pjobs = [j for j in log.jobs.values() if j.span in mine]
    stages = [s for j in pjobs for s in j.stages]
    layers = classify(stages)

    def tot(layer, attr, scale=1.0):
        return sum(getattr(s, attr) for s in layers.get(layer, [])) / scale

    def dur(name):
        sp = by_name.get(name)
        return sp.end - sp.start if sp else 0.0

    reader = [t for s in layers.get("route_reader", []) for t in s.task_s]
    skew = max(reader) / statistics.median(reader) if reader else 0.0

    fill_s = group_s = cache_b = 0.0
    rfw = by_name.get("checkpoint.resumable_fanout_write")
    if rfw is not None:
        rjobs = [j for j in pjobs if rfw.start <= j.start <= rfw.end and j.execution is not None]
        if rjobs:
            first = min(j.execution for j in rjobs)
            fill = [j for j in rjobs if j.execution == first]
            fill_end = max(j.end for j in fill)
            fill_s = fill_end - min(j.start for j in fill)
            group_s = rfw.end - fill_end
        live: dict[str, int] = {}
        for t, bid, size in log.blocks:
            if bid.startswith("rdd_") and rfw.start <= t <= rfw.end:
                live[bid] = size
                cache_b = max(cache_b, sum(live.values()))

    return {
        "io.scan.task_s": tot("scan", "run_s"),
        "io.scan.mb": sum(log.scan_bytes.get(ex, 0)
                          for ex in {j.execution for j in pjobs}) / MB,
        "route.window.shuffle_mb": tot("scan", "sw_b", MB),
        "enrich.task_s": tot("enrich", "run_s"),
        "enrich.cpu_s": tot("enrich", "cpu_s"),
        "route.exchange.shuffle_mb": tot("enrich", "sw_b", MB),
        "route.exchange.task_skew": skew,
        "io.write.task_s": tot("write", "run_s"),
        "io.write.gc_s": tot("write", "gc_s"),
        "io.write.spill_mb": tot("write", "spill_b", MB),
        "pipeline.sink_counts_s": dur("pipeline.written_sink_counts"),
        "checkpoint.snapshot_s": dur("checkpoint.input_snapshot_id"),
        "checkpoint.fill_s": fill_s,
        "checkpoint.group_write_s": group_s,
        "checkpoint.cache_mb": cache_b / MB,
        "spark.jobs": len(pjobs),
        "spark.tasks": sum(len(s.task_s) for s in stages),
        "driver.gap_s": (root.end - root.start) - _union_s(
            (max(j.start, root.start), min(j.end, root.end)) for j in pjobs),
    }


def self_times(spans: list[Span], jobs: dict) -> dict[str, float]:
    """Self time per span name: its duration minus the part of it that its
    child spans (calls, and the Spark jobs they launched) cover."""
    children: dict[int, list] = defaultdict(list)
    for i, sp in enumerate(spans):
        if sp.parent is not None:
            children[sp.parent].append((sp.start, sp.end))
    for j in jobs.values():
        if j.span is not None:
            children[j.span].append((j.start, j.end))
    out: dict[str, float] = defaultdict(float)
    for i, sp in enumerate(spans):
        covered = _union_s((max(s, sp.start), min(e, sp.end))
                           for s, e in children[i] if e > sp.start and s < sp.end)
        out[sp.name] += (sp.end - sp.start) - covered
    return dict(out)


def dump(path: str, spans: list[Span], jobs: dict, extra: dict) -> None:
    """Write spans (with jobs and stages as child spans) and self times."""
    rows = [asdict(s) for s in spans]
    for j in jobs.values():
        jid = len(rows)
        rows.append({"name": f"spark.job.{j.id}", "start": j.start, "end": j.end,
                     "parent": j.span, "attrs": {"sql_execution": j.execution}})
        for s in j.stages:
            rows.append({"name": f"spark.stage.{s.id}", "start": s.start, "end": s.end,
                         "parent": jid, "attrs": {
                             "scopes": sorted(s.scopes), "tasks": len(s.task_s),
                             "run_s": s.run_s, "cpu_s": s.cpu_s, "gc_s": s.gc_s,
                             "input_mb": s.in_b / MB, "shuffle_read_mb": s.sr_b / MB,
                             "shuffle_write_mb": s.sw_b / MB, "output_mb": s.out_b / MB}})
    with open(path, "w") as fh:
        json.dump({"spans": rows, "self_s": self_times(spans, jobs), **extra}, fh, indent=1)
