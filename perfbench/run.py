"""Benchmark of the dataqualitykit_spark quality pipeline.

    python3 perfbench/run.py --workload near_dedup --seed 1 --seconds 15 --trace 0

Run from the repository root. One process, one client, closed loop:

1. Build (or read from .perfbench_cache/) the seeded input and its
   reference output (the pure-Python oracle, or a numpy top-k).
2. Open a Spark session on local[<cores / 2>] and warm its Python workers
   with one small run_pipeline call. setup_s is the time from process
   start to this point, less step 1.
3. Run WARM_OPS untimed warm-up operations, then timed operations until
   --seconds of them have elapsed, and at least MIN_OPS. cpu_s is the
   median CPU time the process tree (this process, the JVM, the Python
   workers) spends in one of them. Every operation's output, the
   warm-up's too, is checked against the reference.

Wall time per operation (wall_s, docs_per_s) is printed on the summary
line but is not a bounded metric: on a shared host with 1-18% CPU steal
from one run to the next it moves by up to 2x; CPU time per operation
moves far less.

--trace 0 prints the end-to-end metrics. --trace 1 prints the per-layer
metrics instead: a first session times one untraced operation after one
warm-up, a second writes a Spark event log, does the same, calls single
layers on the workload's own frames, and the log is parsed per job
description.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}. Everything the run writes stays under the repository root, in
.perfbench_cache/ (inputs, kept) and .perfbench_work/ (removed on exit).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_METRICS = {
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "write_amp": "ratio",
}
LAYER_METRICS = {
    "session.start_s": "s",
    "session.py_worker_start_s": "s",
    "sources.read_mb": "MB",
    "sources.write_mb": "MB",
    "sources.write_task_s": "s",
    "pipeline.exchanges": "count",
    "pipeline.shuffle_write_mb": "MB",
    "pipeline.jvm_task_s": "s",
    "pipeline.jobs": "count",
    "udfs.py_sent_mb": "MB",
    "udfs.py_returned_mb": "MB",
    "udfs.py_run_s": "s",
    "udfs.py_init_s": "s",
    "udfs.boundary_s": "s",
    "udfs.scored_rows_per_doc": "ratio",
    "semantics.scrub_us_per_doc": "us",
    "semantics.metrics_us_per_doc": "us",
    "dedup.sig_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.pair_yield": "ratio",
    "dedup.cc_s": "s",
    "dedup.cc_jobs": "count",
    "dedup.components": "count",
    "similarity.kernel_s": "s",
    "similarity.window_rows": "count",
    "similarity.shuffle_mb": "MB",
    "similarity.query_rows": "count",
    "lineage.bucketize_s": "s",
    "lineage.bucket_s": "s",
    "lineage.jobs_per_bucket": "count",
    "lineage.scorer_passes": "count",
    "lineage.scored_rows_per_doc": "ratio",
    "driver.jobs": "count",
    "driver.tasks": "count",
    "trace.overhead_frac": "ratio",
}
# untimed warm-up operations per session: a session's first operation
# compiles the workload's plans and starts its UDFs' Python workers
# (10-19 s against 4-8 s for near_dedup on a 4-vCPU host); from the
# second on, CPU time per operation is flat
WARM_OPS = 2
# timed operations per run
MIN_OPS = 3
# warm-up and timed operations per session of a traced run, which holds
# two sessions and the layer calls and must end within three minutes on
# a busy host too (near_dedup's took 180 s with two and two)
TRACED_OPS = 1
# C1 only: with the default tiered JIT, C2 keeps compiling Spark's
# per-job and per-task code for a minute or more of operations, and the
# CPU it burns and the speed it gains both vary with host load (CPU per
# operation fell from 15 s to 8 s over five near_dedup operations at 18%
# steal, from 9 s to 7 s at 1%); C1 reaches its steady speed within the
# warm-up
JVM_OPTS = "-XX:TieredStopAtLevel=1"
MB = 1e6
ROWS = "number of output rows"
SCORER_NODE = "ArrowEvalPython"


# ------------------------------------------------------------------ host


def process_age() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """Spark task slots: half the cores, because every task of a Python
    UDF keeps two of them busy (the JVM task thread feeding Arrow batches
    and the Python worker). On 4 vCPUs, local[2] ran near_dedup as fast
    as local[4] with 12% less CPU per operation and half its spread
    (three runs each)."""
    return max(1, cores() // 2)


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_record(cpu0: list[int]) -> dict:
    import pyspark

    cpu1 = _cpu_times()
    delta = [b - a for a, b in zip(cpu0, cpu1)]
    return {
        "nproc": cores(),
        "task_slots": task_slots(),
        "loadavg": list(os.getloadavg()),
        "steal_pct": 100.0 * delta[7] / max(1, sum(delta)),
        "pyspark": pyspark.__version__,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }


def _tree_stats() -> dict[int, list[str]]:
    """/proc/<pid>/stat fields after the command name, for this process
    and all its descendants."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    tree, stack = {}, [os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in stats:
            tree[pid] = stats[pid]
        stack += children.get(pid, [])
    return tree


def _tree_rss_bytes() -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    return sum(int(fields[21]) * page for fields in _tree_stats().values())


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by the process tree,
    including exited workers reaped by a process in it."""
    ticks = sum(sum(int(x) for x in fields[11:15]) for fields in _tree_stats().values())
    return ticks / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Samples the process tree's resident memory on a thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# --------------------------------------------------------------- session


def pin_environment(work: str) -> None:
    """Host pinning: task_slots() tasks, a driver heap below host RAM, workers
    that import the package from this checkout, temp files in `work`."""
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ["SPARK_GRAFT_CPUS"] = str(task_slots())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g" if ram_gib >= 4 else "512m"
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    sys.path.insert(0, ROOT)


def open_session(work: str, event_dir: str | None):
    """(spark, start_s, warm_s): get_spark, then one small pipeline call
    so the Python workers are up."""
    from dataqualitykit_spark import get_spark, run_pipeline
    from dataqualitykit_spark.fixtures import pages_dataframe

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the whole heap from the start (a heap growing from the default
        # start size made CPU per operation fall over the first few
        # operations); no hsperfdata file under /tmp; temp files stay in
        # `work`
        "spark.driver.extraJavaOptions": (
            f"{JVM_OPTS} -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:-UsePerfData"
            f" -Djava.io.tmpdir={os.environ['TMPDIR']}"
        ),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{task_slots()}]", extra_conf=conf)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setJobDescription("session.warm")
    run_pipeline(pages_dataframe(spark, 8)).write.format("noop").mode("overwrite").save()
    spark.sparkContext.setJobDescription(None)
    return spark, t1 - t0, time.perf_counter() - t1


def close_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ----------------------------------------------------------------- loop


class Loop:
    """Closed-loop operations with their timings and output checks."""

    def __init__(self, wl, entry, reference, work):
        self.wl, self.entry, self.reference, self.work = wl, entry, reference, work
        self.attempted = 0
        self.failed = 0
        self.times: list[float] = []
        self.cpus: list[float] = []
        self.write_amps: list[float] = []
        self.keep_dir: str | None = None

    def one(self, spark, desc: str) -> tuple[float, float]:
        """(wall seconds, CPU seconds) of one checked operation."""
        out = os.path.join(self.work, "out", f"op{self.attempted}")
        self.attempted += 1
        spark.sparkContext.setJobDescription(desc)
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            self.wl.op(spark, self.entry, out)
            problem = None
        except Exception:
            problem = traceback.format_exc()
        elapsed = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        spark.sparkContext.setJobDescription(None)
        if problem is None:
            problem = self.wl.check(out, self.entry, self.reference)
        if problem is not None:
            self.failed += 1
            print(f"perfbench: operation {self.attempted} failed: {problem}", file=sys.stderr)
        else:
            written = sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, files in os.walk(out)
                for f in files
            )
            self.write_amps.append(written / self.entry["input_bytes"])
        if problem is None and desc == "op" and self.keep_dir is None:
            self.keep_dir = out  # one labeled output for the layer calls
        else:
            shutil.rmtree(out, ignore_errors=True)
        return elapsed, cpu

    def timed(self, spark, seconds: float, desc: str, warm_ops: int, min_ops: int) -> list[float]:
        """`warm_ops` untimed warm-up operations, then operations until
        `seconds` of them have run, and at least `min_ops`; their wall
        times."""
        for _ in range(warm_ops):
            self.one(spark, desc + ".warm")
        times: list[float] = []
        while len(times) < min_ops or sum(times) < seconds:
            wall, cpu = self.one(spark, desc)
            times.append(wall)
            self.cpus.append(cpu)
        self.times += times
        return times


# -------------------------------------------------------------- metrics


def end_to_end(setup_s, loop, peak_rss) -> dict:
    return {
        "setup_s": setup_s,
        "cpu_s": statistics.median(loop.cpus),
        "peak_rss_mb": peak_rss / MB,
        "write_amp": statistics.median(loop.write_amps) if loop.write_amps else 0.0,
    }


def per_layer(wl, entry, reference, summaries, executions, ctx) -> dict:
    """Per-layer metrics from the parsed event log and the spans."""
    from eventlog import Summary
    from workloads import LINEAGE_BUCKETS

    n_ops = ctx["ops"]
    op = summaries.get("op", Summary())
    docs = entry["rows"]
    calls = ctx["calls"]
    lineage = summaries.get("lineage.run_resumable", Summary())
    bucketize = [
        e for e in executions
        if e.desc == "lineage.run_resumable"
        and (e.write_path or "").endswith("/bucketed")
    ]
    cc = summaries.get("dedup.connected_components", Summary())
    kernel_s = (calls.get("scrub_us", 0.0) + calls.get("metrics_us", 0.0)) * 1e-6
    # the scorer is the pipeline's ArrowEvalPython node; cosine_topk's
    # kernel is a MapInArrow node (as are the MinHash kernels, so those
    # are read on embed_topk only)
    scorer_run_s = op.metric("time to run Python workers", SCORER_NODE) / n_ops
    embed = wl.name == "embed_topk"
    return {
        "session.start_s": ctx["start_s"],
        "session.py_worker_start_s": ctx["warm_s"],
        "sources.read_mb": op.input_bytes / n_ops / MB,
        "sources.write_mb": op.output_bytes / n_ops / MB,
        "sources.write_task_s": op.write_task_s / n_ops,
        "pipeline.exchanges": op.exchanges / n_ops,
        "pipeline.shuffle_write_mb": op.shuffle_write_bytes / n_ops / MB,
        "pipeline.jvm_task_s": (op.run_s - op.metric("time to run Python workers")) / n_ops,
        "pipeline.jobs": op.jobs / n_ops,
        "udfs.py_sent_mb": op.metric("data sent to Python workers", SCORER_NODE) / n_ops / MB,
        "udfs.py_returned_mb": op.metric("data returned from Python workers", SCORER_NODE) / n_ops / MB,
        "udfs.py_run_s": scorer_run_s,
        "udfs.py_init_s": op.metric("time to initialize Python workers") / n_ops,
        "udfs.boundary_s": scorer_run_s - kernel_s * wl.scored_docs(reference),
        "udfs.scored_rows_per_doc": op.metric(ROWS, SCORER_NODE) / n_ops / docs,
        "semantics.scrub_us_per_doc": calls.get("scrub_us", 0.0),
        "semantics.metrics_us_per_doc": calls.get("metrics_us", 0.0),
        "dedup.sig_s": calls.get("sig_s", 0.0),
        "dedup.candidate_pairs": calls.get("candidate_pairs", 0),
        "dedup.pair_yield": calls.get("strong_pairs", 0) / max(1, calls.get("candidate_pairs", 0)),
        "dedup.cc_s": calls.get("cc_s", 0.0),
        "dedup.cc_jobs": cc.jobs,
        "dedup.components": calls.get("components", 0),
        "similarity.kernel_s": op.metric("time to run Python workers", "MapInArrow") / n_ops if embed else 0.0,
        "similarity.window_rows": op.metric(ROWS, "MapInArrow") / n_ops if embed else 0.0,
        "similarity.shuffle_mb": op.shuffle_write_bytes / n_ops / MB if embed else 0.0,
        "similarity.query_rows": wl.size.get("queries", 0),
        "lineage.bucketize_s": sum(e.seconds for e in bucketize),
        "lineage.bucket_s": calls.get("bucket_s", 0.0),
        "lineage.jobs_per_bucket": (lineage.jobs - sum(e.jobs for e in bucketize)) / LINEAGE_BUCKETS if lineage.jobs else 0.0,
        "lineage.scorer_passes": lineage.probe_executions / LINEAGE_BUCKETS,
        "lineage.scored_rows_per_doc": lineage.metric(ROWS, SCORER_NODE) / docs,
        "driver.jobs": sum(s.jobs for s in summaries.values()),
        "driver.tasks": sum(s.tasks for s in summaries.values()),
        "trace.overhead_frac": ctx["traced_wall"] / ctx["untraced_wall"],
    }


class Spans:
    """In-memory spans around calls into layers, written once at the end.
    A span opened inside another records that one as its parent."""

    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextlib.contextmanager
    def __call__(self, name: str):
        parent = self._open[-1]["name"] if self._open else None
        span = {"name": name, "parent": parent, "start": time.perf_counter(), "end": None}
        self._open.append(span)
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            self._open.pop()
            self.spans.append(span)


# ----------------------------------------------------------------- main


def traced_run(wl, entry, reference, loop, work, args) -> dict:
    """A short untraced session, then one with the event log on that
    repeats the operations and calls single layers; the log is parsed
    once that session has ended."""
    from eventlog import parse
    from workloads import SCORER_PROBE

    spans = Spans()
    spark, _, _ = open_session(work, None)
    try:
        with spans("ops.untraced"):
            untraced = loop.timed(spark, 0, "op.untraced", TRACED_OPS, TRACED_OPS)
    finally:
        close_session(spark)
    event_dir = os.path.join(work, "events")
    spark, start_s, warm_s = open_session(work, event_dir)
    try:
        with spans("ops.traced"):
            traced = loop.timed(spark, 0, "op", TRACED_OPS, TRACED_OPS)
        with spans("layers"):
            calls = wl.layer_calls(spark, entry, args.seed, work, loop.keep_dir, spans)
    finally:
        close_session(spark)
    summaries, executions = parse(event_dir, probe=SCORER_PROBE)
    ctx = {
        "ops": len(traced),
        "calls": calls,
        "start_s": start_s,
        "warm_s": warm_s,
        "traced_wall": statistics.median(traced),
        "untraced_wall": statistics.median(untraced),
    }
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"trace-{wl.name}-s{args.seed}.json"), "w") as f:
        json.dump(
            {
                "spans": spans.spans,
                "descriptions": {
                    d: {**vars(s), "sql": {f"{n}: {m}": v for (n, m), v in s.sql.items()}}
                    for d, s in summaries.items()
                },
            },
            f,
            indent=1,
        )
    return per_layer(wl, entry, reference, summaries, executions, ctx)


def result_line(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> str:
    return json.dumps(
        {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }
    )


def run(args) -> int:
    cpu0 = _cpu_times()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        pin_environment(work)
        import inputs
        import pyspark.sql  # noqa: F401  (import cost belongs to set-up)
        from workloads import WORKLOADS

        import dataqualitykit_spark  # noqa: F401

        boot_s = process_age()
        wl = WORKLOADS[args.workload]
        entry = wl.prepare(os.path.join(ROOT, ".perfbench_cache"), args.seed)
        reference = inputs.reference_lines(entry)
        loop = Loop(wl, entry, reference, work)
        if args.trace:
            values = traced_run(wl, entry, reference, loop, work, args)
            units = LAYER_METRICS
        else:
            spark, start_s, warm_s = open_session(work, None)
            try:
                with PeakRss() as rss:
                    loop.timed(spark, args.seconds, "op", WARM_OPS, MIN_OPS)
            finally:
                close_session(spark)
            values = end_to_end(boot_s + start_s + warm_s, loop, rss.peak)
            units = E2E_METRICS
        host = host_record(cpu0)
        print("perfbench host " + json.dumps(host))
        summary = " ".join(f"{k}={v:.6g}" for k, v in values.items())
        wall = statistics.median(loop.times)
        print(
            f"perfbench {wl.name} seed={args.seed} trace={args.trace} "
            f"ops={len(loop.times)} fail_frac={loop.failed / loop.attempted:.6g} "
            f"({loop.failed} of {loop.attempted} failed) {summary} "
            f"wall_s={wall:.6g} docs_per_s={entry['rows'] / wall:.6g} "
            f"op_s={[round(t, 3) for t in loop.times]} "
            f"op_cpu_s={[round(c, 2) for c in loop.cpus]}"
        )
        print(result_line(loop.failed == 0, loop.attempted, loop.failed, values, units))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["near_dedup", "embed_topk"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dataqualitykit_spark")):
        print(
            f"perfbench: no dataqualitykit_spark package under {ROOT}; "
            "run from a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, HERE)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
