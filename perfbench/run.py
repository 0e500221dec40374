#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's VPC flow-log pipeline.

Run from the repository root:

    python3 perfbench/run.py --workload flowlog_ingest --seed 1 --seconds 10 --trace 0

One client process drives one workload: it generates seeded inputs
(``gen.py``), starts the engine's session, warms up with a fixed number
of ops, then runs ops back to back for ``--seconds`` seconds of op time,
each timed around a full materialisation (a ``noop`` write) and checked
against the first op's output fingerprint, which is itself compared
with the query's DuckDB oracle at the end (``gate.py``). Design notes,
evidence and predictions: ``DESIGN.md``.

With ``--trace 0`` the last stdout line reports the end-to-end metrics;
with ``--trace 1`` it reports per-layer metrics, measured by timing
calls into each layer's public functions from outside (``layers.py``),
and the spans are written under ``perfbench/.work/spans``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

T_LOAD = time.perf_counter()


def _since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


SINCE_START_AT_LOAD = _since_process_start()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

FLOW_QUERIES = ("flow_top_talkers", "flow_session_reassembly", "flow_bidirectional_pairs")
INGEST_QUERY = "stream_ingest_e2e"

# One op type per workload. warmup_ops is measured (DESIGN.md): after the
# cold op and one more, op time is within ~20% of its level. reads_per_op
# counts the passes an op makes over the events table.
WORKLOADS = {
    "flowlog_ingest": {"queries": (INGEST_QUERY,), "warmup_ops": 2, "reads_per_op": 1},
    "flowlog_analytics": {"queries": FLOW_QUERIES, "warmup_ops": 2, "reads_per_op": 3},
}
DRIVER_MEM = "2g"  # initial = maximum heap; see configure_env
SUITE_PASSES = 2  # layer-suite passes in a traced run; the first warms up
STEAL_LIMIT = 0.05  # stolen share of wanted CPU time above which an op is not timed
STEAL_CAP = 1.5  # op time a timed phase may spend, in units of --seconds

END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "1/s", "peak_rss_mb": "MB"}
PER_LAYER_UNITS = {
    "registry.scan_s": "s",
    "ingest.synthesize_s": "s",
    "ingest.decode_s": "s",
    "ingest.parse_s": "s",
    "stream.batches_per_op": "count",
    "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.commit_ms": "ms",
    "sink.files_per_op": "count",
    "sink.bytes_per_op": "bytes",
    **{f"flow.{q}_s": "s" for q in FLOW_QUERIES},
    "flow.self_s": "s",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_write_mb_per_op": "MB",
    "spark.executor_cpu_s_per_op": "s",
    "spark.py_wait_frac": "fraction",
    "spark.gc_s_per_op": "s",
    "pyworker.peak_rss_mb": "MB",
    "trace.overhead_frac": "fraction",
}


def host_context(work_dir: str, cpus: int) -> dict:
    import pyspark

    fs, best = "?", ""
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, fstype = line.split()[:3]
            if work_dir.startswith(mnt) and len(mnt) > len(best):
                fs, best = fstype, mnt
    return {
        "nproc": cpus,
        "filesystem": f"{fs} on {best}",
        "pyspark": pyspark.__version__,
        "loadavg_start": os.getloadavg(),
    }


def configure_env(run_dir: str, cpus: int, trace: bool) -> None:
    """Point every scratch path of the engine, Spark and the JVM into
    this run's own directory, so runs never touch each other's files."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # a fixed-size driver heap (initial = max): with the engine's 8 GB
    # default, G1 grew the heap in ~600 MB steps at GC-timing-dependent
    # moments, and the JVM's high-water mark moved ~30% between runs
    os.environ["ENGINE_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the engine's UDF closures
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    )
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "events"))
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
            "spark.eventLog.compress": "false",
        })
    # no hsperfdata file: HotSpot would write it under /tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}"
    args = ["--driver-java-options", java_opts]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(map(shlex.quote, args)) + " pyspark-shell"


class Client:
    """Runs one workload's ops against one session and checks them."""

    def __init__(self, spark, in_dir: str, queries, gate) -> None:
        self.spark, self.in_dir, self.queries, self.gate = spark, in_dir, queries, gate

    def query(self, name: str, collect: bool = False):
        """Run one registered query to completion; return its fingerprint
        and, with ``collect``, its rows as pandas."""
        import engine
        from gate import fingerprint, observed

        df, obs = observed(engine.QUERIES[name](self.spark, self.in_dir))
        if collect:
            pdf = df.toPandas()
            return fingerprint(obs), pdf
        df.write.format("noop").mode("overwrite").save()
        return fingerprint(obs), None

    def op(self, on_query=None) -> bool:
        """One op: every query of the workload, in order. True if every
        output matches its verified reference."""
        ok = True
        for q in self.queries:
            if on_query:
                with on_query(q):
                    fp, _ = self.query(q)
            else:
                fp, _ = self.query(q)
            ok &= self.gate.check(q, fp)
        return ok

    def reference_op(self) -> None:
        """An op whose outputs are collected and recorded as the reference
        that later ops are checked against (and that ``Gate.verify``
        compares with the DuckDB oracles)."""
        for q in self.queries:
            fp, pdf = self.query(q, collect=True)
            self.gate.record(q, pdf, fp)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def timed_loop(seconds: float, one_op) -> tuple[list[float], int, int]:
    """Closed loop: start the next op when the previous one ends.

    Every op is checked, but an op during which the hypervisor took more
    than ``STEAL_LIMIT`` of the CPU time this machine wanted is not
    timed: on a shared host other tenants slow every op of such a
    stretch by up to 50%, while ops without steal agree to a few
    percent. The loop ends once the timed ops add up to ``seconds`` or
    all ops to ``STEAL_CAP`` times that. If every op saw steal, each is
    timed net of its stolen share. Returns (timed op seconds, attempted
    ops, failed ops). An op that raises counts as failed."""
    import layers

    ops, failed = [], 0
    while True:
        t0, s = layers.cpu_ticks(), time.perf_counter()
        try:
            ok = one_op(len(ops))
        except Exception:
            traceback.print_exc()
            ok = False
        ops.append((time.perf_counter() - s, layers.steal_share(t0, layers.cpu_ticks())))
        failed += not ok
        clean = [t for t, st in ops if st <= STEAL_LIMIT]
        if sum(clean) >= seconds or sum(t for t, _ in ops) >= STEAL_CAP * seconds:
            break
    log("timed ops " + " ".join(f"{t:.2f}s (steal {st:.3f})" for t, st in ops))
    return clean or [t * (1 - st) for t, st in ops], len(ops), failed


def layer_suite(spark, in_dir: str, run_dir: str, tracer, listener, op_id: str) -> dict:
    """Time each layer's public entry point, forced from outside, in
    pipeline order: scan, synthesize, decode, parse, the streaming sink
    (the registered ingest op), then each flow query."""
    import engine
    from engine.ingest import (
        decode_envelopes, flowlog_line_col, parse_flowlog_lines, synthesize_envelopes,
    )
    from layers import sink_listing

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    src = os.path.join(run_dir, "probe_src")
    lines = os.path.join(run_dir, "probe_lines")
    if not os.path.exists(lines):
        # the flow queries' parse input, materialised once outside any span
        par = spark.sparkContext.defaultParallelism
        engine.table(spark, in_dir, "events").select(
            "event_id", flowlog_line_col().alias("line")
        ).repartition(par).write.parquet(lines)
    out = {}
    with tracer.span("suite", op_id):
        with tracer.span("registry.scan", op_id):
            force(engine.table(spark, in_dir, "events"))
        with tracer.span("ingest.synthesize", op_id):
            # staged exactly as the ingest op stages its stream source
            synthesize_envelopes(engine.table(spark, in_dir, "events")).repartition(
                16
            ).write.mode("overwrite").parquet(src)
        with tracer.span("ingest.decode", op_id):
            force(decode_envelopes(spark.read.schema("payload STRING").parquet(src)))
        with tracer.span("ingest.parse", op_id):
            force(parse_flowlog_lines(spark.read.parquet(lines)))
        before = listener.run_ids()
        with tracer.span(f"ingest_ops.{INGEST_QUERY}", op_id):
            force(engine.QUERIES[INGEST_QUERY](spark, in_dir))
        runs = listener.run_ids() - before
        listener.wait_terminated(runs)
        out["stream"] = listener.batches(runs)
        out["sink"] = sink_listing(listener.sink_paths(runs))
        for q in FLOW_QUERIES:
            with tracer.span(f"flow.{q}", op_id):
                force(engine.QUERIES[q](spark, in_dir))
    return out


def traced_phase(spark, client, args, in_dir: str, run_dir: str):
    """The traced run: untraced ops for half the time (the overhead
    baseline), traced ops for the other half, then the layer suite.
    Returns (attempted ops, failed ops, per-layer metrics, traced op ids);
    the event-log metrics of those ops are read by ``spark_task_metrics``
    once Spark has stopped."""
    import layers
    from layers import median

    tracer = layers.Tracer()
    listener = layers.StreamProgress()
    spark.streams.addListener(listener)
    sc = spark.sparkContext
    half = args.seconds / 2
    base_times, attempted_a, failed_a = timed_loop(half, lambda i: client.op())
    op_stats = []

    def traced_op(i):
        op_id = f"op-{i}"
        sc.setJobGroup(op_id, op_id)
        sc.setLocalProperty(layers.OP_PROPERTY, op_id)
        before = listener.run_ids()
        gc0 = layers.gc_seconds(spark)
        try:
            with tracer.span("op", op_id):
                ok = client.op(lambda q: tracer.span(q, op_id))
        finally:
            sc.setLocalProperty(layers.OP_PROPERTY, None)
            sc.setJobGroup("perfbench-idle", "idle")
        gc_s = layers.gc_seconds(spark) - gc0
        runs = listener.run_ids() - before
        listener.wait_terminated(runs)
        jobs, tasks = layers.jobs_and_tasks(sc, [op_id, *runs])
        op_stats.append({"op_id": op_id, "jobs": jobs, "tasks": tasks, "gc_s": gc_s})
        return ok

    traced_times, attempted_b, failed_b = timed_loop(half, traced_op)
    suites = [
        layer_suite(spark, in_dir, run_dir, tracer, listener, f"suite-{k}")
        for k in range(SUITE_PASSES)
    ]
    tracer.write(os.path.join(WORK, "spans", f"{args.workload}-seed{args.seed}.jsonl"))

    last = f"suite-{SUITE_PASSES - 1}"
    m = {
        "registry.scan_s": median(tracer.durations("registry.scan", last)),
        "ingest.synthesize_s": median(tracer.durations("ingest.synthesize", last)),
        "ingest.decode_s": median(tracer.durations("ingest.decode", last)),
        "ingest.parse_s": median(tracer.durations("ingest.parse", last)),
    }
    flow = {q: median(tracer.durations(f"flow.{q}", last)) for q in FLOW_QUERIES}
    m.update({f"flow.{q}_s": v for q, v in flow.items()})
    # each flow query re-parses the events; self time is what is left
    m["flow.self_s"] = sum(flow.values()) - len(flow) * m["ingest.parse_s"]
    batches = suites[-1]["stream"]
    m["stream.batches_per_op"] = len(batches)
    for name, key in (("add_batch", "addBatch"), ("query_planning", "queryPlanning"),
                      ("latest_offset", "latestOffset"), ("commit", "commitOffsets")):
        m[f"stream.{name}_ms"] = float(sum(b.get(key, 0) for b in batches))
    m["sink.files_per_op"], m["sink.bytes_per_op"] = suites[-1]["sink"]
    m["spark.jobs_per_op"] = median([s["jobs"] for s in op_stats])
    m["spark.tasks_per_op"] = median([s["tasks"] for s in op_stats])
    m["spark.gc_s_per_op"] = median([s["gc_s"] for s in op_stats])
    m["pyworker.peak_rss_mb"] = layers.python_worker_hwm_mb(
        sc._jvm.ProcessHandle.current().pid())
    m["trace.overhead_frac"] = median(traced_times) / median(base_times) - 1.0
    return attempted_a + attempted_b, failed_a + failed_b, m, [s["op_id"] for s in op_stats]


def spark_task_metrics(run_dir: str, op_ids) -> dict:
    """Per-op task metrics of the traced ops, from the event log."""
    import layers

    per_op = layers.event_log_task_metrics(os.path.join(run_dir, "events"))
    ops = [per_op.get(o, {}) for o in op_ids]
    run_s = sum(o.get("run_ms", 0.0) for o in ops) / 1e3
    cpu_s = sum(o.get("cpu_ns", 0.0) for o in ops) / 1e9
    n = len(ops)
    return {
        "spark.shuffle_write_mb_per_op":
            sum(o.get("shuffle_write_bytes", 0.0) for o in ops) / n / 2**20,
        "spark.executor_cpu_s_per_op": cpu_s / n,
        # executor time off the CPU: a from-outside proxy for the time
        # tasks wait on Python workers (and on I/O)
        "spark.py_wait_frac": (run_s - cpu_s) / run_s if run_s else 0.0,
    }


def stop_spark(spark):
    """Stop the session and let its JVM exit; return the JVM process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    return proc


def wait_process(proc, timeout: float = 60.0) -> None:
    if proc is None:
        return
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--events", type=int, default=None,
                    help="events rows (default: the bench size in gen.py)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "engine", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import gen

    wl = WORKLOADS[args.workload]
    sizes = dict(gen.DEFAULT_SIZES)
    if args.events:
        sizes["events"] = args.events
    in_dir = os.path.join(WORK, "inputs", f"seed{args.seed}-ev{sizes['events']}")
    meta = gen.generate(in_dir, args.seed, sizes)
    gen_s = meta["generate_s"] if not meta["cached"] else 0.0
    gen_wall = time.perf_counter() - T_LOAD

    cpus = len(os.sched_getaffinity(0))
    for stale in glob.glob(os.path.join(WORK, "run-*")):  # left by killed runs
        pid = stale.rsplit("-", 1)[1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(stale, ignore_errors=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir, cpus, bool(args.trace))
    context = {"workload": args.workload, "seed": args.seed, "inputs": meta,
               **host_context(run_dir, cpus)}
    print(json.dumps({"context": context}), flush=True)
    log(f"inputs ready in {gen_s:.2f}s (cached={meta['cached']})")

    import engine  # noqa: F401  (registers the queries)
    from engine.session import get_session

    import layers
    from gate import Gate, GateError, oracle_df

    t = time.perf_counter()
    spark = get_session(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    log(f"session ready after {SINCE_START_AT_LOAD + t - T_LOAD - gen_wall:.2f}s "
        f"of imports and {time.perf_counter() - t:.2f}s of start-up")
    gate = Gate()
    client = Client(spark, in_dir, wl["queries"], gate)
    correct = True
    try:
        # set-up ends after the warm-up ops; op 0 records the reference
        t = time.perf_counter()
        client.reference_op()
        log(f"warm-up op 0 (reference) {time.perf_counter() - t:.2f}s")
        for i in range(1, wl["warmup_ops"]):
            t = time.perf_counter()
            correct &= client.op()
            log(f"warm-up op {i} {time.perf_counter() - t:.2f}s")
        setup_s = SINCE_START_AT_LOAD + time.perf_counter() - T_LOAD - gen_wall

        if args.trace:
            attempted, failed, metrics, op_ids = traced_phase(
                spark, client, args, in_dir, run_dir)
            units = PER_LAYER_UNITS
        else:
            times, attempted, failed = timed_loop(args.seconds, lambda i: client.op())
            jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
            metrics = {
                "setup_s": setup_s,
                "op_p50_s": layers.median(times),
                "rows_per_s": sizes["events"] * wl["reads_per_op"] * len(times) / sum(times),
                "peak_rss_mb": layers.vm_hwm_mb(jvm_pid) + layers.vm_hwm_mb(os.getpid()),
            }
            units = END_TO_END_UNITS
    finally:
        jvm = stop_spark(spark)

    try:
        # the JVM shuts down while the reference is held to the oracles
        t = time.perf_counter()
        gate.verify(lambda q: oracle_df(engine.ORACLES[q], in_dir))
        log(f"oracle check passed in {time.perf_counter() - t:.2f}s")
    except GateError:
        traceback.print_exc()
        correct, failed = False, attempted
    finally:
        wait_process(jvm)
    if args.trace:
        metrics.update(spark_task_metrics(run_dir, op_ids))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": bool(correct and failed == 0),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
