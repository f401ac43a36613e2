"""Enrich -> route -> write benchmark.

    python3 perfbench/run.py --workload batch_routed --seed 1 --seconds 12 --trace 0

Generates seeded inputs under ``.perfbench-work/`` at the repository root,
starts one Spark session on ``local[<cpus>]`` with a pinned environment, and
runs closed-loop passes of one workload: a cold first pass, warm-up passes,
then timed passes for ``--seconds``. Every pass is checked against the
DuckDB oracle outside the timed window. The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``, with the
end-to-end metrics for ``--trace 0`` and the per-layer metrics (from the
Spark event log and the benchmark's spans) for ``--trace 1``. A readable
report goes to stderr. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS, output_size  # noqa: E402

# Pinned environment. The heap is fixed well below the host's memory;
# session.build_session would otherwise ask for 24g.
DRIVER_MEMORY = "2g"
# After the cold first pass the JIT keeps compiling for a dozen or more
# passes, and how many it needs hardly depends on the input size: most of
# what it compiles runs once per pass (planning, scheduling, commit). The
# warm-up passes therefore run the same workload over a small input of the
# same seed, which reaches the end of that curve sooner; they are checked
# but not timed.
WARMUP_PASSES = 3
WARMUP_ROWS = 2_000
# Full-size passes between the small warm-up and the timed window: the
# first passes over the large input after the small ones are still slow.
SETTLE_PASSES = 2
# Session set-ups per run; setup_s is their median. The first launches the
# JVM, the others stop and restart the SparkContext inside it.
SETUPS = 5
MIN_TIMED_PASSES = 3

END_TO_END = [
    ("rows_per_s", "1/s"),
    ("first_pass_s", "s"),
    ("setup_s", "s"),
    ("cpu_s_per_mrow", "s"),
    ("peak_rss_mb", "MB"),
    ("files_written", "count"),
    ("output_mb", "MB"),
]


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> dict:
    """Environment for the JVM the session launches: cpus, driver heap and
    every scratch directory inside the work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # the launcher JVM that spark-submit runs first
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", shlex.quote(
                f"spark.driver.defaultJavaOptions=-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf", f"spark.eventLog.dir={os.path.join(work, 'eventlog')}",
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    }
    os.makedirs(os.path.join(work, "eventlog"))
    os.environ.update(env)
    return env


# ------------------------------------------------------------------ /proc

def jvm_pid() -> int:
    """The java child of this process (the session's gateway JVM)."""
    me = os.getpid()
    for tid in os.listdir(f"/proc/{me}/task"):
        with open(f"/proc/{me}/task/{tid}/children") as fh:
            for pid in fh.read().split():
                with open(f"/proc/{pid}/comm") as c:
                    if c.read().strip() == "java":
                        return int(pid)
    raise RuntimeError("no java child process found")


def proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def self_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing")


# ------------------------------------------------------------ the session

def start_session(wl, conf: dict | None = None):
    """Session start plus input registration; returns (spark, seconds)."""
    from pyspark import SparkContext

    from fluent_plugin_kubernetes_metadata_filter_spark.session import build_session

    t0 = time.perf_counter()
    if conf:
        # build_session takes no extra settings; a restart in a running JVM
        # reads spark.* system properties into the new SparkContext's conf
        system = SparkContext._jvm.java.lang.System
        for k, v in conf.items():
            system.setProperty(k, v)
    spark = build_session(app="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    wl.register(spark)
    return spark, time.perf_counter() - t0


def gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def stop_jvm(spark, pid: int) -> None:
    """Stop the session, shut the gateway JVM down and wait until it exits."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
        time.sleep(0.1)


# ---------------------------------------------------------------- passes

class Runner:
    """Runs passes of one workload and keeps their tally."""

    def __init__(self, wl, jvm: int):
        self.wl = wl  # the workload timed passes run
        self.jvm = jvm
        self.attempted = 0
        self.failed = 0
        self.walls: list[float] = []
        # (pass span index, result) of the last pass, None if it raised
        self.last: tuple | None = None

    def one(self, tracer=None, wl=None) -> tuple[float, float]:
        """One pass of ``wl`` (default: the timed workload): restore its
        input state, run the calls, check the output. Returns the wall time
        and the JVM plus Python CPU time of the calls; restoring and
        checking are outside both."""
        tracer = tracer or tracing.Tracer()
        wl = wl or self.wl
        wl.prepare()
        self.attempted += 1
        self.last = None
        problems: list[str] = []
        c0 = proc_cpu_s(self.jvm) + self_cpu_s()
        t0 = time.perf_counter()
        try:
            with tracer.span("pass") as idx:
                result = wl.run_pass(tracer)
            wall = time.perf_counter() - t0
            cpu = proc_cpu_s(self.jvm) + self_cpu_s() - c0
            problems = wl.check(result)
            self.last = (idx, result)
        except Exception:
            wall = time.perf_counter() - t0
            cpu = proc_cpu_s(self.jvm) + self_cpu_s() - c0
            problems = [traceback.format_exc()]
        self.walls.append(wall)
        if problems:
            self.failed += 1
            for p in problems:
                print(f"[perfbench] pass {self.attempted} failed the output check: {p}",
                      file=sys.stderr)
        return wall, cpu

    def window(self, seconds: float, tracer=None) -> dict:
        """Closed-loop timed passes for ``seconds`` (at least
        MIN_TIMED_PASSES); their wall times and total CPU time."""
        walls, cpu = [], 0.0
        start = time.perf_counter()
        while len(walls) < MIN_TIMED_PASSES or time.perf_counter() - start < seconds:
            wall, c = self.one(tracer)
            walls.append(wall)
            cpu += c
        return {"walls": walls, "cpu_s": cpu}


def rows_per_s(rows: int, walls: list[float]) -> float:
    return rows / statistics.median(walls)


# ------------------------------------------------------------------ main

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    make = WORKLOADS[args.workload]
    inp = inputs.make_inputs(os.path.join(work, "input"), args.workload, args.seed)
    wl = make(inp, inputs.oracle_route_counts(inp["dir"]), work)
    small = inputs.make_inputs(os.path.join(work, "warm", "input"), args.workload,
                               args.seed, rows=WARMUP_ROWS)
    warm = make(small, inputs.oracle_route_counts(small["dir"]), os.path.join(work, "warm"))
    env = pin_environment(work)
    rows = inp["rows"]

    _phase("inputs")
    spark, setup = start_session(wl)
    setups = [setup]
    _phase("session")
    jvm = jvm_pid()
    run = Runner(wl, jvm)
    first_pass, _ = run.one()
    _phase("first pass")
    warm.register(spark)
    for _ in range(WARMUP_PASSES):
        run.one(wl=warm)
    for _ in range(SETTLE_PASSES):
        run.one()
    _phase("warm-up")

    if not args.trace:
        timed = run.window(args.seconds)
        _phase("timed window")
        rss = peak_rss_mb(jvm)
        files, size = output_size(wl.out)
        for _ in range(SETUPS - 1):
            spark.stop()
            spark, setup = start_session(wl)
            setups.append(setup)
        stop_jvm(spark, jvm)
        n = len(timed["walls"])
        metrics = {
            "rows_per_s": rows_per_s(rows, timed["walls"]),
            "first_pass_s": first_pass,
            "setup_s": statistics.median(setups),
            "cpu_s_per_mrow": timed["cpu_s"] / (rows * n) * 1e6,
            "peak_rss_mb": rss,
            "files_written": files,
            "output_mb": size / tracing.MB,
        }
        units = dict(END_TO_END)
        _report(args, env, run, metrics, units, timed["walls"])
    else:
        metrics = _traced(args, spark, wl, run, jvm, rows, work, env)
        units = dict(tracing.LAYER_METRICS)

    # keep only the trace of a run; inputs, outputs and Spark's scratch go
    for name in os.listdir(work):
        if name != "trace.json":
            shutil.rmtree(os.path.join(work, name))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _traced(args, spark, wl, run, jvm, rows, work, env) -> dict:
    """Half the window untraced, then a SparkContext with the event log on
    and spans around every call for the other half."""
    half = args.seconds / 2
    untraced = run.window(half)
    spark.stop()
    spark, _ = start_session(wl, tracing.EVENT_LOG_CONF)
    tracer = tracing.Tracer(spark.sparkContext)
    run.one(tracer)  # re-warm the new context; not reported
    walls, gcs, counts, passes = [], [], [], []
    start = time.perf_counter()
    while len(walls) < MIN_TIMED_PASSES or time.perf_counter() - start < half:
        g0 = gc_s(spark)
        walls.append(run.one(tracer)[0])
        if run.last is None:
            continue
        gcs.append(gc_s(spark) - g0)
        idx, result = run.last
        passes.append(idx)
        counts.append(wl.layer_counts(result))
    app = spark.sparkContext.applicationId
    stop_jvm(spark, jvm)
    if not passes:
        raise RuntimeError("no traced pass ran without an error")
    log = tracing.read_event_log(os.path.join(work, "eventlog", app))
    per_pass = []
    for idx, gc, cnt in zip(passes, gcs, counts):
        m = tracing.pass_metrics(tracer.spans, idx, log)
        m.update(cnt, **{"jvm.gc_s": gc})
        per_pass.append(m)
    metrics = {name: statistics.median(p[name] for p in per_pass)
               for name, _unit in tracing.LAYER_METRICS if name in per_pass[0]}
    metrics["trace.overhead_rows_per_s"] = (
        rows_per_s(rows, walls) - rows_per_s(rows, untraced["walls"]))
    path = os.path.join(work, "trace.json")
    tracing.dump(path, tracer.spans, log.jobs, {
        "workload": args.workload, "seed": args.seed, "environment": env,
        "traced_passes": passes,
        "per_pass": per_pass, "metrics": metrics,
    })
    units = dict(tracing.LAYER_METRICS)
    _report(args, env, run, metrics, units, walls, trace_file=path)
    return {name: metrics[name] for name, _unit in tracing.LAYER_METRICS}


_T0 = time.perf_counter()


def _phase(name: str) -> None:
    print(f"[perfbench] {time.perf_counter() - _T0:7.1f}s  {name} done", file=sys.stderr)


def _report(args, env, run, metrics, units, walls, trace_file=None) -> None:
    pinned = {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "SPARK_LOCAL_DIRS")}
    print(f"[perfbench] {args.workload} seed={args.seed} trace={args.trace} "
          f"timed_passes={len(walls)} attempted={run.attempted} failed={run.failed} "
          f"failed_share={run.failed / run.attempted:.3f} env={pinned}", file=sys.stderr)
    print(f"[perfbench] pass walls: {' '.join(f'{w:.2f}' for w in run.walls)}", file=sys.stderr)
    for k, v in metrics.items():
        print(f"[perfbench]   {k:42s} {v:14.4f} {units[k]}", file=sys.stderr)
    if trace_file:
        print(f"[perfbench] spans and self times: {trace_file}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
