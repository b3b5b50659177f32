"""Benchmark command: one workload, one seed, one Spark session at a time.

    python3 perfbench/run.py --workload video_curation --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout.  Untraced (``--trace 0``) it measures the
end-to-end metrics; traced (``--trace 1``) it wraps the program's layer
functions from outside, tags each span's Spark work with a job group, rolls
up the Spark event log and prints the per-layer metrics instead; it first
runs the same workload untraced in a child process (``--reference``, first
pass only) to measure tracing's cost.  The client
is a closed loop with one caller.  Every run starts a fresh driver JVM on
``local[N]``, N = min(4, usable cores), runs its passes, checks the outputs
outside the timed region, and stops the JVM and its Python workers before
it exits.

The last stdout line is the result JSON
(``{"correct", "attempted", "failed", "metrics"}``); the line before it is a
``{"detail": ...}`` record with host facts, every per-operation record and
every end-to-end metric by name.  The exit code is 0 only when every
operation succeeded and every output check passed.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: an operation running longer than this is cancelled and counts as failed
OP_TIMEOUT_S = 60.0
#: every operation ends by this many seconds after process start, leaving
#: time for the checks and the shutdown inside the 180 s a run may take
RUN_DEADLINE_S = 140.0
#: a run still going this long after start is stopped hard: the JVM and
#: its workers are killed and the process exits with code 4
HARD_DEADLINE_S = 170.0
#: nominal seconds per pass on 4 cores; --seconds / nominal gives the
#: number of passes, so a run's structure does not depend on its timing
NOMINAL_PASS_S = {"video_curation": 15.0, "query_mix": 7.5}
#: bound on the share of a traced pass's wall time not covered by its spans
PASS_SELF_BOUND = 0.05
DRIVER_MEM = "1g"

#: end-to-end metrics of the result line.  The detail line also carries
#: op_tail_s, clips_per_s, fail_frac, persisted_rdds_left and
#: jvm_peak_rss_mb.  They are not in the result line: a run of this length
#: holds 11-18 operations, too few for a tail with ten samples beyond it;
#: clips_per_s repeats pass_s; fail_frac and persisted_rdds_left are 0 on
#: some workloads, and a result metric must never be 0; the peak RSS sits
#: near 1.1 GB with a 1 GB heap, so cached data a query leaves behind
#: hardly moves it, where it does move the live heap.
END_TO_END = [
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("op_p50_s", "s"),
    ("jvm_heap_live_mb", "MB"),
]

_EXEC = [
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("failed_tasks", "count"),
    ("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"), ("core_busy_frac", "ratio"),
    ("fetch_wait_s", "s"), ("shuffle_write_bytes", "B"), ("shuffle_read_bytes", "B"),
    ("spill_bytes", "B"), ("input_bytes", "B"), ("output_bytes", "B"),
]
_EXEC_BY_PHASE = ["jobs", "tasks", "task_run_s", "core_busy_frac", "shuffle_write_bytes"]
PHASES = ["build", "exec", "stage"]

#: per-layer metrics of the traced run, per pass; (name, unit, better)
PER_LAYER = (
    [("session.get_spark_s", "s", "lower"),
     ("catalog.load_table.calls", "count", "lower"),
     ("catalog.load_table.s", "s", "lower"),
     ("catalog.rebalanced_scans", "count", "lower"),
     ("catalog.rebalance_shuffle_bytes", "B", "lower"),
     ("queries.build.s", "s", "lower"),
     ("queries.build.jobs", "count", "lower"),
     ("queries.build.driver_s", "s", "lower"),
     ("queries.plan.s", "s", "lower"),
     ("queries.exec.s", "s", "lower"),
     ("queries.persisted_rdds_delta", "count", "lower"),
     ("queries.persisted_rdds_left", "count", "lower")]
    + [(f"exec.{m}", u, "higher" if m == "core_busy_frac" else "lower") for m, u in _EXEC]
    + [(f"exec.{p}.{m}", dict(_EXEC)[m], "higher" if m == "core_busy_frac" else "lower")
       for p in PHASES for m in _EXEC_BY_PHASE]
    + [(f"{layer}.{m}", u, "lower") for layer in ("graph", "dedup", "similarity")
       for m, u in (("calls", "count"), ("s", "s"), ("jobs", "count"))]
    + [("video.bytes_read", "B", "lower"),
       ("video.read_amplification", "ratio", "lower"),
       ("scenecut.s", "s", "lower"),
       ("scenecut.clips", "count", "higher"),
       ("scenecut.python_run_s", "s", "lower"),
       ("media.python_run_s", "s", "lower"),
       ("media.python_start_s", "s", "lower"),
       ("media.python_bytes_sent", "B", "lower"),
       ("media.python_bytes_returned", "B", "lower"),
       ("media.null_scores", "count", "lower"),
       ("pipeline.write_snapshot.s", "s", "lower"),
       ("pipeline.bytes_written", "B", "lower"),
       ("pipeline.files_written", "count", "lower"),
       ("pipeline.rows_scored_frac", "ratio", "lower"),
       ("pipeline.resume_todo_frac", "ratio", "lower"),
       ("trace.overhead_frac", "ratio", "lower"),
       ("trace.pass_self_frac", "ratio", "lower")]
)


class Context:
    """What a workload needs from the run: the session, the tracer, the
    seed and the directories it may write."""

    def __init__(self, seed: int, work_dir: str, cache_dir: str, tracer):
        self.seed = seed
        self.work_dir = work_dir
        self.cache_dir = cache_dir
        self.tracer = tracer
        self.spark = None


def _usable_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest whole percentile with at least ten
    samples above it; with ten samples or fewer, the maximum (p100)."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return 100.0, xs[-1]
    p = math.floor(100.0 * (n - 10) / n)
    while p > 0:
        v = float(np.percentile(xs, p))
        if sum(1 for x in xs if x > v) >= 10:
            return float(p), v
        p -= 1
    return 0.0, xs[0]


def hd_median(values: list[float]) -> float:
    """Harrell-Davis estimate of the median: a mean of all order statistics
    weighted by a Beta((n+1)/2, (n+1)/2) distribution.  With a few samples
    from operations of different kinds, the sample median jumps between
    kinds from run to run; this estimate moves smoothly."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    a = (n + 1) / 2.0
    t = np.linspace(0.0, 1.0, 20001)[1:-1]
    log_pdf = (a - 1) * (np.log(t) + np.log1p(-t)) - (2 * math.lgamma(a) - math.lgamma(2 * a))
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(log_pdf)) * (t[1] - t[0])])
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, np.concatenate([[0.0], t]), cdf)
    return float(np.diff(edges) @ x)


def _descendant_pids(pid: int) -> list[int]:
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(x) for x in f.read().split()]
            except OSError:
                continue
            out += kids
            stack += kids
    return out


def _kill(pid: int) -> None:
    try:
        os.kill(pid, signal.SIGKILL)
    except OSError:
        pass  # already gone


def _hard_stop() -> None:
    print(f"perfbench: run exceeded {HARD_DEADLINE_S:g} s; stopping", file=sys.stderr, flush=True)
    for pid in _descendant_pids(os.getpid()):
        _kill(pid)
    os._exit(4)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing")


def _live_heap_mb(spark) -> float:
    """Driver heap in use after a full collection: what the session keeps
    alive (cached blocks, plans, listener state) once the passes are done.
    Python collects first, so py4j releases the JVM objects Python no longer
    holds.  Spark's ContextCleaner frees RDD, shuffle and broadcast state
    only after a collection finds it unreachable, and a reading can hold
    for two collections before the cleaner's work shows, so collections
    repeat until three readings in a row agree."""
    gc.collect()
    jvm = spark._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    readings: list[float] = []
    for _ in range(10):
        jvm.java.lang.System.gc()
        readings.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
        if len(readings) >= 3 and max(readings[-3:]) - min(readings[-3:]) <= 1e-3 * readings[-1]:
            break
        time.sleep(0.5)
    return readings[-1]


class Session:
    """Owns the driver JVM: starts sessions, and stops the JVM and every
    process under it."""

    def __init__(self, cores: int, conf: dict[str, str]):
        self.master = f"local[{cores}]"
        self.conf = conf
        self.spark = None

    def start(self, app: str):
        """Launch the JVM and start the session."""
        from lvm_datapipe_spark import session

        self.spark = session.get_spark(app, master=self.master, extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        pids = _descendant_pids(proc.pid) if proc is not None else []
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 - a hung JVM is killed below
                    proc.kill()
                    proc.wait(timeout=30)
            deadline = time.time() + 20
            while pids and time.time() < deadline:
                pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
                time.sleep(0.1)
            for p in pids:
                _kill(p)
            SparkContext._gateway = None
            SparkContext._jvm = None


class Watchdog:
    """Cancels the Spark jobs of an operation that outlives its timeout, so
    the operation fails and the run ends.  An operation that ignores the
    cancellation (driver-side work between jobs) is left to the run's hard
    deadline."""

    def __init__(self, sess: Session, timeout_s: float):
        self.timed_out = threading.Event()
        self._done = threading.Event()
        self._sess = sess
        self._thread = threading.Thread(target=self._watch, args=(timeout_s,), daemon=True)
        self._thread.start()

    def _watch(self, timeout_s: float) -> None:
        if self._done.wait(timeout_s):
            return
        self.timed_out.set()
        self._sess.spark.sparkContext.cancelAllJobs()

    def finish(self) -> None:
        self._done.set()
        self._thread.join(timeout=10)


def _persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def run_ops(ctx, sess: Session, ops, pass_index: int, records: list, t_start: float) -> bool:
    """Run operations in a closed loop, recording each; returns False when
    the run must end (timeout or deadline).  Kind "bench" is the
    benchmark's own input preparation."""
    tracer, spark = ctx.tracer, ctx.spark
    for name, kind, fn in ops:
        timeout_s = min(OP_TIMEOUT_S, RUN_DEADLINE_S - (time.perf_counter() - t_start))
        if timeout_s <= 0:
            records.append(dict(op=name, kind=kind, passno=pass_index, ok=False,
                                error="run deadline reached", seconds=None))
            return False
        before = _persisted_rdds(spark)
        dog = Watchdog(sess, timeout_s)
        ok, error = True, None
        t_op = time.perf_counter()
        with tracer.span(name, kind) as sp:
            try:
                fn(sp)
            except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
                ok, error = False, f"{type(e).__name__}: {e}"[:500]
                traceback.print_exc(file=sys.stderr)
        seconds = time.perf_counter() - t_op
        dog.finish()
        if dog.timed_out.is_set():
            ok, error = False, f"timed out after {timeout_s:.3g} s"
        delta = _persisted_rdds(spark) - before
        if sp is not None:
            sp.attrs["persisted_rdds_delta"] = delta
        records.append(dict(op=name, kind=kind, passno=pass_index, ok=ok, error=error,
                            seconds=seconds, persisted_rdds_delta=delta))
        if dog.timed_out.is_set():
            return False
    return True


def run_pass(ctx, sess: Session, workload, pass_index: int, records: list, t_start: float) -> bool:
    """One measured pass; its time excludes the benchmark's own steps."""
    with ctx.tracer.span(f"pass{pass_index}", "pass"):
        t0 = time.perf_counter()
        first = len(records)
        ok = run_ops(ctx, sess, workload.ops(ctx, pass_index), pass_index, records, t_start)
        wall = time.perf_counter() - t0
    if ok:
        bench_s = sum(r["seconds"] for r in records[first:] if r["kind"] == "bench")
        records.append(dict(op=f"pass{pass_index}", kind="pass", passno=pass_index, ok=True,
                            seconds=wall - bench_s, wall=wall))
    return ok


def untraced_first_pass_s(args) -> float | None:
    """Seconds of the first pass of an untraced run with the same
    arguments, in a child process that stops after that pass: no wrappers,
    no job groups, no event log.  With the traced run's own first pass it
    gives tracing's cost; both start in a fresh process and JVM.  None if
    the child's pass fails."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0", "--reference"]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True).stdout.splitlines()
    try:
        result, detail = json.loads(out[-1]), json.loads(out[-2])["detail"]
    except (IndexError, KeyError, ValueError):
        return None  # the child failed before printing its result
    if not result["correct"]:
        return None
    return next(r["seconds"] for r in detail["ops"] if r["kind"] == "pass")


def _install_wrappers(tracer) -> None:
    """Layers whose calls the benchmark does not make itself.  The video,
    scene-cut, media and pipeline-stage layers are each one operation of
    the curation workload, so their spans are the operation spans."""
    from lvm_datapipe_spark import catalog, queries, session
    from lvm_datapipe_spark.operators import dedup, graph, similarity
    from lvm_datapipe_spark.plans import pipeline

    def mark_rebalanced(sp, df):
        plan = df._jdf.queryExecution().logical()
        sp.attrs["rebalanced"] = plan.getClass().getSimpleName() == "Repartition"

    tracer.wrap(session, "get_spark", "session")
    tracer.wrap(catalog, "load_table", "catalog", on_result=mark_rebalanced)
    # queries.py binds load_table at import; its binding is wrapped too
    tracer.wrap(queries, "load_table", "catalog", on_result=mark_rebalanced)
    for module, layer in ((graph, "graph"), (dedup, "dedup"), (similarity, "similarity")):
        tracer.wrap_module(module, layer)
    tracer.wrap(pipeline, "write_snapshot", "pipeline_write")


def layer_metrics(tracer, groups, n_passes: int, cores: int, facts: dict) -> dict[str, float]:
    """Per-layer metrics per pass, from the spans and the event-log roll-up;
    all but ``trace.overhead_frac``, which needs the untraced reference."""
    from perfbench.eventlog import GroupStats, union_seconds

    spans = tracer.spans
    by_id = {s.id: s for s in spans}
    kids: dict[str | None, list] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)

    def subtree(span):
        out, stack = [], [span]
        while stack:
            s = stack.pop()
            out.append(s)
            stack += kids.get(s.id, [])
        return out

    def in_pass(span) -> bool:
        while span.parent is not None:
            span = by_id[span.parent]
        return span.kind == "pass"

    def incl(span_list) -> GroupStats:
        total = GroupStats()
        seen = set()
        for top in span_list:
            for s in subtree(top):
                if s.id in seen or s.id not in groups:
                    continue
                seen.add(s.id)
                g = groups[s.id]
                for f in ("jobs", "stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s", "gc_s",
                          "fetch_wait_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                          "input_bytes", "output_bytes", "rebalance_shuffle_bytes"):
                    setattr(total, f, getattr(total, f) + getattr(g, f))
                total.job_intervals += g.job_intervals
                for k, v in g.sql.items():
                    total.sql[k] = total.sql.get(k, 0.0) + v
        return total

    def select(kind=None, name=None, pred=None):
        return [s for s in spans if in_pass(s) and (kind is None or s.kind == kind)
                and (name is None or s.name == name) and (pred is None or pred(s))]

    per = 1.0 / max(1, n_passes)
    out: dict[str, float] = {}
    passes = [s for s in spans if s.kind == "pass"]
    # the run's first session, which launched the JVM
    setups = [s for s in spans if s.kind == "layer" and s.name == "session"]
    out["session.get_spark_s"] = setups[0].duration if setups else 0.0

    loads = select("layer", "catalog")
    out["catalog.load_table.calls"] = len(loads) * per
    out["catalog.load_table.s"] = sum(s.duration for s in loads) * per
    out["catalog.rebalanced_scans"] = sum(1 for s in loads if s.attrs.get("rebalanced")) * per
    # the program's operations only: the benchmark's own steps in a pass
    # (cache clearing, nulling the resume subset) stay out of the layers
    op_spans = select("op")
    everything = incl(op_spans)
    out["catalog.rebalance_shuffle_bytes"] = everything.rebalance_shuffle_bytes * per

    builds, plans, execs = select("phase", "build"), select("phase", "plan"), select("phase", "exec")
    build_stats = incl(builds)
    out["queries.build.s"] = sum(s.duration for s in builds) * per
    out["queries.build.jobs"] = build_stats.jobs * per
    out["queries.build.driver_s"] = sum(
        s.duration - union_seconds(incl([s]).job_intervals) for s in builds) * per
    out["queries.plan.s"] = sum(s.duration for s in plans) * per
    out["queries.exec.s"] = sum(s.duration for s in execs) * per
    query_ops = [s for s in op_spans if any(c.name == "build" for c in kids.get(s.id, []))]
    out["queries.persisted_rdds_delta"] = sum(s.attrs.get("persisted_rdds_delta", 0) for s in query_ops) * per
    out["queries.persisted_rdds_left"] = facts.get("persisted_rdds_left", 0)

    def exec_block(prefix: str, g: GroupStats, wall: float, fields) -> None:
        for f in fields:
            if f == "core_busy_frac":
                out[f"{prefix}.{f}"] = g.task_run_s / (wall * cores) if wall else 0.0
            else:
                out[f"{prefix}.{f}"] = getattr(g, f) * per

    exec_block("exec", everything, sum(s.duration for s in op_spans), [m for m, _ in _EXEC])
    for phase in PHASES:
        ph = select("phase", phase)
        exec_block(f"exec.{phase}", incl(ph), sum(s.duration for s in ph), _EXEC_BY_PHASE)

    for layer in ("graph", "dedup", "similarity"):
        ls = select("layer", layer)
        out[f"{layer}.calls"] = len(ls) * per
        out[f"{layer}.s"] = sum(s.duration for s in ls) * per
        out[f"{layer}.jobs"] = incl(ls).jobs * per

    cut_ops = select("op", "scenecut")
    cut = incl(cut_ops)
    out["video.bytes_read"] = cut.input_bytes * per
    corpus = facts.get("corpus_bytes") or 0
    out["video.read_amplification"] = cut.input_bytes * per / corpus if corpus else 0.0
    out["scenecut.s"] = sum(s.duration for s in cut_ops) * per
    out["scenecut.clips"] = facts.get("clips", 0)
    out["scenecut.python_run_s"] = cut.sql_total("time to run Python workers") * per

    score_ops = select("op", pred=lambda s: s.name.startswith(("score:", "resume:")))
    sc = incl(score_ops)
    out["media.python_run_s"] = sc.sql_total("time to run Python workers") * per
    out["media.python_start_s"] = (sc.sql_total("time to start Python workers")
                                   + sc.sql_total("time to initialize Python workers")) * per
    out["media.python_bytes_sent"] = sc.sql_total("data sent to Python workers") * per
    out["media.python_bytes_returned"] = sc.sql_total("data returned from Python workers") * per
    out["media.null_scores"] = facts.get("null_scores", 0)

    writes = select("layer", "pipeline_write")
    w = incl(writes)
    out["pipeline.write_snapshot.s"] = sum(s.duration for s in writes) * per
    out["pipeline.bytes_written"] = w.output_bytes * per
    out["pipeline.files_written"] = w.sql_total("number of written files") * per
    resume_ops = [s for s in score_ops if s.name.startswith("resume:")]
    clips = facts.get("clips", 0)
    if resume_ops and clips:
        # rows each resume stage's scorer saw: the largest row count out of a
        # Python-UDF node in that stage (frame sampling and scoring see the same rows)
        seen = sum(incl([s]).sql_node_max("ArrowEvalPython", "number of output rows") for s in resume_ops)
        out["pipeline.rows_scored_frac"] = seen / (clips * len(resume_ops))
        out["pipeline.resume_todo_frac"] = facts.get("resume_rows", 0) / clips
    else:
        out["pipeline.rows_scored_frac"] = 0.0
        out["pipeline.resume_todo_frac"] = 0.0

    out["trace.pass_self_frac"] = max(
        (tracer.self_time(s) / s.duration for s in passes if s.duration), default=0.0)
    return out


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # the untraced reference a traced run starts: first pass only, no checks
    ap.add_argument("--reference", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    # also covers hangs outside any operation, such as a JVM that never
    # finishes starting
    guard = threading.Timer(HARD_DEADLINE_S, _hard_stop)
    guard.daemon = True
    guard.start()
    # the program under test: without it there is nothing to measure
    try:
        import bench  # noqa: F401 - the frozen query lists
        import lvm_datapipe_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import eventlog, workloads
    from perfbench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    workload = workloads.WORKLOADS[args.workload]()
    # before this run's own session: one Spark session at a time, and the
    # child uses the same work directory
    untraced_s = untraced_first_pass_s(args) if args.trace else None
    t_reference = time.perf_counter() - t_start
    cores = min(4, _usable_cores())
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, "work")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp", "events", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    tracer = Tracer(enabled=bool(args.trace))
    ctx = Context(args.seed, work, os.path.join(state, "cache"), tracer)
    os.makedirs(ctx.cache_dir, exist_ok=True)
    workload.prepare(ctx)
    if args.trace:
        _install_wrappers(tracer)

    sess = Session(cores, conf)
    records: list[dict] = []
    problems: list[str] = []
    facts: dict = {}
    timeline = {"reference": t_reference, "prepared": time.perf_counter() - t_start}
    n_passes = 1 if args.reference else max(1, round(args.seconds / NOMINAL_PASS_S[args.workload]))
    app = f"perfbench-{args.workload}"
    try:
        # set-up is what every run pays once: launching the driver JVM,
        # starting the session and running a first job
        t0 = time.perf_counter()
        with tracer.span("setup", "setup"):
            spark = sess.start(app)
            tracer.bind(spark)
            spark.range(1000).selectExpr("sum(id)").collect()
        setup_s = time.perf_counter() - t0
        ctx.spark = spark
        app_id = spark.sparkContext.applicationId
        for p in range(n_passes):
            if not run_pass(ctx, sess, workload, p, records, t_start):
                break
        spark.catalog.clearCache()
        facts["persisted_rdds_left"] = _persisted_rdds(spark)
        facts["jvm_peak_rss_mb"] = _vm_hwm_mb(sess.jvm_pid())
        facts["jvm_heap_live_mb"] = _live_heap_mb(spark)
        facts["spark_version"] = spark.version
        facts["jvm_version"] = spark._jvm.java.lang.System.getProperty("java.version")
        timeline["passes_end"] = time.perf_counter() - t_start
        measured_ok = all(r["ok"] for r in records)
        if not measured_ok:
            problems.append("some operations failed; outputs not checked")
        elif not args.reference:
            try:
                check_problems, check_facts = workload.check(ctx)
            except Exception as e:  # noqa: BLE001 - a check that cannot run fails the run
                traceback.print_exc(file=sys.stderr)
                check_problems, check_facts = [f"check raised {type(e).__name__}: {e}"], {}
            problems += check_problems
            facts.update(check_facts)
        timeline["check_end"] = time.perf_counter() - t_start
    finally:
        tracer.unwrap_all()
        sess.close()
    timeline["closed"] = time.perf_counter() - t_start

    ops = [r for r in records if r["kind"] == "op"]
    passes = [r for r in records if r["kind"] == "pass"]
    attempted = len(ops)
    failed = sum(1 for r in ops if not r["ok"])
    if args.trace and untraced_s is None:
        problems.append("the untraced reference pass failed")
    correct = failed == 0 and not problems and len(passes) == n_passes
    lat = [r["seconds"] for r in ops if r["ok"]]
    tail_p, tail_v = tail_percentile(lat) if lat else (0.0, 0.0)
    pass_s = statistics.median([r["seconds"] for r in passes]) if passes else 0.0
    facts.update(workload.facts())
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": {"cores_used": cores, "cores_usable": _usable_cores(), "os_cpu_count": os.cpu_count(),
                 "driver_memory": DRIVER_MEM},
        "passes": n_passes,
        "timeline_s": timeline,
        "end_to_end": {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "op_p50_s": hd_median(lat) if lat else None,
            "op_sample_median_s": statistics.median(lat) if lat else None,
            "op_tail_s": tail_v, "op_tail_percentile": tail_p, "op_samples": len(lat),
            "clips_per_s": facts["clips"] / pass_s if "clips" in facts and pass_s else None,
            "fail_frac": failed / attempted if attempted else 1.0,
            "persisted_rdds_left": facts.get("persisted_rdds_left"),
            "jvm_peak_rss_mb": facts.get("jvm_peak_rss_mb"),
            "jvm_heap_live_mb": facts.get("jvm_heap_live_mb"),
        },
        "facts": facts,
        "problems": problems,
        "ops": records,
    }
    if args.trace and correct:
        groups = eventlog.rollup(os.path.join(work, "events", app_id))
        layers = layer_metrics(tracer, groups, len(passes), cores, facts)
        layers["trace.overhead_frac"] = passes[0]["seconds"] / untraced_s - 1.0
        detail["per_layer"] = layers
        detail["trace_overhead"] = {"traced_first_pass_s": passes[0]["seconds"],
                                    "untraced_first_pass_s": untraced_s,
                                    "bookkeeping_s": tracer.overhead_s}
        timeline["rolled_up"] = time.perf_counter() - t_start
        detail["per_op_leaks"] = {r["op"]: r["persisted_rdds_delta"] for r in ops
                                  if r.get("persisted_rdds_delta")}
        if layers["trace.pass_self_frac"] > PASS_SELF_BOUND:
            problems.append(f"spans cover too little of a pass: self share "
                            f"{layers['trace.pass_self_frac']:.3f} > {PASS_SELF_BOUND}")
            correct = False
        metrics = {name: {"value": layers[name], "unit": unit} for name, unit, _ in PER_LAYER}
    elif args.trace:
        metrics = {}  # a failed traced run has no per-layer figures to report
    else:
        e2e = detail["end_to_end"]
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    result = {"correct": correct, "attempted": max(1, attempted), "failed": failed, "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
