#!/usr/bin/env python3
"""Seeded, checked benchmark of the XLSX source: loads, split-index retrofit
and filtered loads.

    python3 perfbench/run.py --workload big_sheet --seed 1 --seconds 8 --trace 0

Run from the repository root. One client drives ``local[N]`` (N = the CPUs
this process may use) and issues one operation at a time (a closed loop).
Inputs are generated from ``--seed`` under ``.perfbench_work/`` and removed
at exit. Every operation's output is checked; an exception, a wrong result
or a failed Spark task counts as a failed operation.

The last stdout line is one JSON object ``{correct, attempted, failed,
metrics}``. With ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``:

    setup_s             process start to the first timed operation, less
                        input generation: JVM and session, configure_session,
                        register, and a warm-up that runs every operation
                        once
    pass_s              one pass over the workload's operations (median over
                        the run's passes)
    pass_cpu_s          CPU seconds the benchmark's process tree (this
                        process, the JVM and the Python workers) spends in
                        one pass: unlike pass_s, not inflated by CPU time the
                        machine gives to other guests
    worker_peak_rss_mb  the largest VmHWM of the Python workers

With ``--trace 1`` they are the per-layer ones of ``layers.UNITS``, and the
spans and the full record are written under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time

T_PROCESS = time.perf_counter()

import tracing  # noqa: E402 — after the process clock starts

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Markers Spark prints when a task fails or a job aborts (the set bench.py's
# stderr audit uses).
FAILURE_MARKERS = (b"Lost task", b"Exception in task", b"Aborting TaskSet",
                   b"Stage failure", b"failed; aborting job")


# End-to-end metrics of an untraced run, by name, with unit and bound: the
# share of the parent's median by which a change may make it worse.
E2E = {
    "setup_s": ("s", 0.25),
    "pass_s": ("s", 0.25),
    "pass_cpu_s": ("s", 0.25),
    "worker_peak_rss_mb": ("MB", 0.15),
}


WARM_PASSES = 1


def cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


class StderrLog:
    """fd 2 of this process, and so of the JVM it launches, goes to a file;
    ``new_failures`` counts failure markers written since the last call."""

    def __init__(self, path: str):
        self.path = path
        self._saved = os.dup(2)
        self._f = open(path, "wb", buffering=0)
        os.dup2(self._f.fileno(), 2)
        self._pos = 0

    def new_failures(self) -> int:
        with open(self.path, "rb") as f:
            f.seek(self._pos)
            data = f.read()
        self._pos += len(data)
        return sum(1 for line in data.splitlines() if any(m in line for m in FAILURE_MARKERS))

    def restore(self) -> None:
        os.dup2(self._saved, 2)
        os.close(self._saved)
        self._f.close()

    def tail(self, n: int = 4000) -> str:
        with open(self.path, "rb") as f:
            data = f.read()
        return data[-n:].decode(errors="replace")


def process_tree() -> dict:
    """``/proc/<pid>/stat`` of this process and of every process below it
    (the JVM, its Python workers and the data-source planning runners), as
    pid -> (command name, the fields after it)."""
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        cut = stat.rfind(")")
        stats[int(pid)] = (stat[stat.find("(") + 1:cut], stat[cut + 2:].split())
    me = os.getpid()
    tree = {}
    for pid, st in stats.items():
        p = pid
        while p and p != me:
            p = int(stats[p][1][1]) if p in stats else 0
        if p == me:
            tree[pid] = st
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree, including children that
    have exited and been waited for (utime, stime, cutime, cstime)."""
    ticks = sum(int(x) for _, fields in process_tree().values() for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class WorkerRss:
    """Largest ``VmHWM`` of any Python process below this one (the Spark
    Python workers and the data-source planning runners), polled in a
    background thread."""

    def __init__(self, interval: float = 0.25):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, args=(interval,), daemon=True)
        self._t.start()

    def _loop(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self.poll()

    def poll(self) -> None:
        me = os.getpid()
        for pid, (name, _) in process_tree().items():
            if pid == me or not name.startswith("python"):
                continue
            try:
                with open(f"/proc/{pid}/status") as f:
                    hwm = [line for line in f if line.startswith("VmHWM:")]
            except OSError:
                continue
            if hwm:
                self.peak_kb = max(self.peak_kb, int(hwm[0].split()[1]))

    def stop(self) -> float:
        self._stop.set()
        self._t.join(timeout=5)
        return self.peak_kb / 1024.0


def session_builder(work: str, n: int, event_dir: "str | None"):
    from pyspark.sql import SparkSession

    from sheetreader_duckdb_spark.session import static_builder_confs

    b = (SparkSession.builder.master(f"local[{n}]").appName("perfbench")
         .config("spark.sql.shuffle.partitions", str(n))
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "2g")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse-dir"))
         .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"))
    for k, v in static_builder_confs().items():
        b = b.config(k, v)
    if event_dir:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir", "file://" + event_dir))
    return b


def setup(wl, builder):
    """The set-up a user pays before the first query: the JVM and the
    session, ``configure_session``, ``register``, and a warm-up that runs
    every operation ``WARM_PASSES`` times and checks it, so that no timed
    sample pays a first-use cost (Python worker start, JIT, codegen; seconds
    per operation type on the first pass). Returns (session, seconds the
    session took to start)."""
    from sheetreader_duckdb_spark import register
    from sheetreader_duckdb_spark.session import configure_session

    t0 = time.perf_counter()
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    try:
        configure_session(spark)
        register(spark)
        for _ in range(WARM_PASSES):
            for op in wl.ops(spark):
                op.prep()
                op.check(op.act(op.build()))
    except BaseException:
        shutdown(spark)
        raise
    return spark, start_s


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def run_op(spark, op, tracer, traced: bool, run_id: str) -> tuple:
    """Time one operation. Traced, it is split into construct, Catalyst
    planning and execution, and its jobs are tagged with ``run_id``.
    Returns (seconds, result, index of the execution span)."""
    if traced:
        spark.sparkContext.setJobGroup(run_id, op.name)
        tracer.run_id = run_id
    op.prep()
    t0 = time.perf_counter()
    with tracer.span(f"op.{op.name}"):
        with tracer.span("plans.construct"):
            df = op.build()
        if traced and df is not None:
            with tracer.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("plans.exec"):
            exec_span = len(tracer.spans) - 1
            result = op.act(df)
    seconds = time.perf_counter() - t0
    if traced:
        spark.sparkContext.setJobGroup(tracing.UNTIMED_GROUP, tracing.UNTIMED_GROUP)
        tracer.run_id = ""
    return seconds, result, exec_span


def median(xs: list) -> float:
    return float(statistics.median(xs))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    import workloads as W
    import sheetreader_duckdb_spark  # noqa: F401 — fail fast outside a checkout

    if args.workload not in W.LAYOUTS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(W.LAYOUTS)}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "events"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = None
    log = StderrLog(os.path.join(work, "stderr.log"))
    try:
        record = run(args, work, W, log)
    except BaseException:
        tail = log.tail()
        log.restore()
        sys.stderr.write(tail)
        shutil.rmtree(work, ignore_errors=True)
        raise
    log.restore()
    shutil.rmtree(work, ignore_errors=True)
    for line in record.pop("lines"):
        print(line)
    print(json.dumps(record["result"]))
    return 0


def stamp(args, n: int, inputs: dict) -> dict:
    import pyarrow
    import pyspark

    commit = "unknown"
    if os.path.exists(os.path.join(ROOT, ".git")):
        import subprocess

        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short=12", "HEAD"],
                                capture_output=True, text=True).stdout.strip() or commit
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": commit, "nproc": os.cpu_count(),
        "cpus_usable": n, "master": f"local[{n}]",
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "inputs": inputs,
    }


def run(args, work: str, W, log: StderrLog) -> dict:
    import layers

    n = cores()
    traced_run = bool(args.trace)
    tracer = tracing.Tracer(traced_run)
    wl = W.Workload(work, args.seed, W.LAYOUTS[args.workload])
    t_gen = time.perf_counter()
    inputs = wl.prepare()
    gen_s = time.perf_counter() - t_gen
    rss = WorkerRss()

    # Set-up runs once, from process start less input generation: a second
    # set-up in the same process would start a SparkContext in an already
    # warm JVM, and a cold one costs more than three passes of the
    # operations.
    event_dir = os.path.join(work, "events") if traced_run else None
    with tracer.span("session"):
        spark, start_s = setup(wl, session_builder(work, n, event_dir))
    setup_s = time.perf_counter() - T_PROCESS - gen_s
    log.new_failures()  # set-up is not an operation

    try:
        ops = wl.ops(spark)
        times = {op.name: [] for op in ops}
        traced_times = {op.name: [] for op in ops}
        attempted = failed = 0
        failures: list = []
        exec_index: dict = {}
        py4j = tracing.Py4JCounter(spark) if traced_run else None
        py4j_traced = 0
        # Whole passes over the operations, in a fixed order, until the time is
        # up: at least two, so that every median has two samples. A traced run
        # alternates untraced and traced passes, at least two of each, so
        # per-operation medians of the two give the tracing overhead.
        min_passes = 4 if traced_run else 2
        deadline = time.perf_counter() + args.seconds
        steal0, total0 = cpu_ticks()
        passes: list = []  # total seconds of each untraced pass without a failure
        cpu_passes: list = []  # CPU seconds of the process tree in each of them
        p = 0
        while p < min_passes or time.perf_counter() < deadline:
            traced = traced_run and p % 2 == 1
            tracer.enabled = traced
            pass_s = 0.0
            cpu0 = tree_cpu_s()
            for op in ops:
                run_id = f"{op.name}#{p}"
                attempted += 1
                calls0 = py4j.calls if py4j else 0
                err = None
                try:
                    secs, result, exec_span = run_op(spark, op, tracer, traced, run_id)
                    op.check(result)
                except Exception as e:  # any failure of the program counts against it
                    err = f"{type(e).__name__}: {str(e)[:300]}"
                if log.new_failures() and err is None:
                    err = "Spark task failure in stderr"
                if err is not None:
                    failed += 1
                    failures.append(f"{run_id}: {err}")
                    pass_s = None
                    continue
                if pass_s is not None:
                    pass_s += secs
                if traced:
                    py4j_traced += py4j.calls - calls0
                    exec_index[run_id] = exec_span
                    traced_times[op.name].append(secs)
                else:
                    times[op.name].append(secs)
            if not traced and pass_s is not None:
                passes.append(pass_s)
                cpu_passes.append(tree_cpu_s() - cpu0)
            p += 1

        steal1, total1 = cpu_ticks()
        tracer.enabled = traced_run
        if traced_run:
            # Since the JVM started: the warm-up compiles nearly every class a
            # pass needs, and the codegen cache serves the passes.
            compiles = tracing.CodegenCounter(spark).read()
            probe = layers.probe(wl, tracer, spark)
            app_id = spark.sparkContext.applicationId
    finally:
        shutdown(spark)
    peak_rss_mb = rss.stop()
    meta = stamp(args, n, inputs)
    meta["input_generation_s"] = round(gen_s, 3)
    # CPU time the hypervisor gave to other guests while the passes ran: a
    # slow run with a high share was slowed by the machine, not the program.
    meta["cpu_steal_share"] = round((steal1 - steal0) / max(1, total1 - total0), 4)

    lines = [f"# {json.dumps(meta)}"]
    lines += [f"# FAILED {f}" for f in failures[:20]]
    missing = [o for o in times if not times[o] or (traced_run and not traced_times[o])]
    if missing or not passes:
        raise RuntimeError(f"no successful run of {missing or 'a pass'}: {failures[:3]}")
    op_s = {name: median(xs) for name, xs in times.items()}
    for name, xs in times.items():
        lines.append(f"# {args.workload} {name}_s = {op_s[name]:.4f} s (median of {len(xs)})")
    lines.append(f"# {args.workload} pass_s = {median(passes):.4f} s, pass_cpu_s = "
                 f"{median(cpu_passes):.2f} s (medians of {len(passes)})")
    lines.append("# samples " + json.dumps({**{k: [round(x, 4) for x in xs] for k, xs in times.items()},
                                            "pass": [round(x, 4) for x in passes],
                                            "pass_cpu": cpu_passes}))
    if traced_run:
        overhead = sum(median(traced_times[o]) - median(times[o]) for o in times)
        jobs = tracing.event_log_jobs(event_dir, app_id)
        per_layer = dict(probe)
        per_layer.update({f"op.{name}_s": v for name, v in op_s.items()})
        n_pass = len(traced_times[ops[0].name])
        per_layer.update(layers.spark_layers(
            jobs, tracer, exec_index, start_s, *compiles,
            py4j_traced, n_pass, probe, n, overhead))
        metrics = {k: {"value": per_layer[k], "unit": u} for k, u in layers.UNITS.items()}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        base = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
        tracer.dump(base + "-spans.json")
        with open(base + "-record.json", "w") as f:
            json.dump({"meta": meta, "per_layer": per_layer,
                       "self_s": tracing.self_times(tracer.spans),
                       "layer_targets": layers.TARGETS,
                       "op_times_s": {"untraced": times, "traced": traced_times},
                       "jobs": jobs}, f, indent=1)
        lines.append(f"# tracing overhead = {overhead:.4f} s per pass "
                     "(traced minus untraced, summed over the operations)")
    else:
        values = {"setup_s": setup_s, "pass_s": median(passes),
                  "pass_cpu_s": median(cpu_passes), "worker_peak_rss_mb": peak_rss_mb}
        metrics = {k: {"value": values[k], "unit": u} for k, (u, _) in E2E.items()}
    lines.append(f"# failed_share = {failed / attempted:.4f} ({failed} of {attempted} operations)")
    return {"lines": lines, "result": {
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}}


if __name__ == "__main__":
    sys.exit(main())
