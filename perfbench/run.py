"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload topic_query --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The run builds nothing: it imports the
``hiveka_spark`` package from the checkout (and puts it on the Spark Python
workers' path), generates its inputs from ``--seed``, sets up a Spark
session and the workload's topics, measures for ``--seconds``, checks every
output against a reference, and prints as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  The line before it is
the full record: every metric under the names the workload's description
uses, the tail percentile and sample counts, and the run context.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, and appends
its ``op_cpu_ref`` to ``perfbench_out/<workload>/``.
``--trace 1`` runs the workload traced (spans, Spark event log, streaming
progress listener) and reports the per-layer metrics, with the tracing
overhead: the traced run's ``op_cpu_ref`` against the median of the
untraced runs recorded in this checkout (when there are none, the run
makes one first).  The traced run's spans, progress records, layer self
times, per-operation statistics and event log are written to
``perfbench_out/<workload>/trace/``.

A sampler process (``procs.HostSpeed``) times a fixed reference decode ten
times a second throughout the run; ``end_to_end`` says why.

Brokers, checkpoints, state roots, temporary files and the event log live
under ``.perfbench_scratch/<workload>-<pid>/`` in the checkout and are
removed when the run ends; only ``perfbench_out/`` is kept, and it holds
the latest trace and the ``op_cpu_ref`` of at most 50 untraced runs per
workload.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

from procs import EXCLUDED, HostSpeed, cpu_by_process, descendants, peak_rss_mb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("topic_query", "curate_stream")
DRIVER_MEM, YOUNG_GEN = "2g", "512m"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(scratch: str) -> None:
    """Point every writer at the scratch root and make ``hiveka_spark``
    importable here and in the Python workers Spark starts."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # half the CPUs as task slots: each slot's Python worker and the JVM's
    # compiler and GC threads need CPUs of their own, and a run with more
    # busy threads than CPUs measures the scheduler
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, nproc() // 2))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, ROOT)


def clear_stale_scratch(base: str) -> None:
    """Remove scratch roots left by runs that were killed."""
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it: the
    11th-largest sample, and that percentile (floor).  With ten samples or
    fewer no percentile qualifies; the maximum is returned as p100."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100
    return xs[n - 11], (100 * (n - 10)) // n


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM and the Python
    workers it started have exited.  The next session starts a fresh JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the gateway server exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants() - EXCLUDED and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants() - EXCLUDED:
        os.kill(pid, signal.SIGKILL)


# --------------------------------------------------------------------------
# one session: set up, measure, check
# --------------------------------------------------------------------------


def phase(name: str, seed: int, seconds: float, trace: bool, scratch: str, speed: HostSpeed) -> dict:
    from hiveka_spark.session import get_spark
    from spans import NO_TRACE, Tracer
    from workloads import WORKLOADS, Ctx, SimBroker, TracedBroker, topic_files

    tracer = Tracer() if trace else NO_TRACE
    root = os.path.join(scratch, "traced" if trace else "untraced")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(scratch, "local"),
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        # no hsperfdata file in the system temp directory; a heap and young
        # generation of fixed size, so peak memory does not follow the
        # collector's timing-driven resizing; JIT compiler threads that live
        # as long as the JVM, so procs.cpu_s can tell their time apart
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            f" -Xms{DRIVER_MEM} -Xmn{YOUNG_GEN} -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    evdir = os.path.join(root, "eventlog")
    if trace:
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(app_name=f"perfbench-{name}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    progress: list[dict] = []
    if trace:
        from pyspark.sql.streaming import StreamingQueryListener

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Progress())
    broker_root = os.path.join(root, "broker")
    broker = TracedBroker(broker_root, tracer) if trace else SimBroker(broker_root)
    ctx = Ctx(spark, tracer, broker, root, seed)
    try:
        wl = WORKLOADS[name](ctx)
        wl.setup()
        setup_s = time.perf_counter() - t0
        e1, t1, cpu1 = time.time(), time.perf_counter(), cpu_by_process()
        wl.measure(seconds)
        measured_s = time.perf_counter() - t1
        cpu2 = cpu_by_process()
        window = (e1, time.time())
        rss = peak_rss_mb()
        wl.check()
        sc = spark.sparkContext
        context = {
            "workload": name,
            "seed": seed,
            "trace": int(trace),
            "defaultParallelism": sc.defaultParallelism,
            "master": sc.master,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "nproc": nproc(),
            "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "spark.driver.memory": sc.getConf().get("spark.driver.memory", None),
            "spark_version": spark.version,
            "python_version": platform.python_version(),
            "input_sizes": ctx.sizes,
            "run_seconds": seconds,
            "measured_s": measured_s,
            "measured_cpu_s_by_process": {k: v - cpu1.get(k, 0.0) for k, v in cpu2.items()},
            "loop": "closed, 1 client",
        }
        topic_rows = {t: sum(p.values()) for t, p in broker.latest().items()}
        log_bytes = sum(os.path.getsize(f) for t in topic_rows for f in topic_files(broker, t))
    finally:
        stop_spark(spark)
    return {
        "ctx": ctx, "wl": wl, "setup_s": setup_s, "session_s": session_s,
        "rss_mb": sum(rss.values()), "speed": speed, "measure_window": window,
        "context": {**context, "peak_rss_mb_by_process": rss}, "progress": progress, "evdir": evdir,
        "log_bytes_per_record": log_bytes / max(1, sum(topic_rows.values())),
    }


def end_to_end(ph: dict) -> tuple[dict, dict]:
    """(contract metrics, full record) of one phase.

    Besides set-up time and peak memory, the contract metrics are the
    CPU time the program spends per operation, per decoded or streamed row
    and per produced row, and the wall-clock latency of an operation, each
    divided by the mean time of the reference decode sampled over the same
    interval (``procs.HostSpeed``; per operation for the per-operation
    medians): in units of ``ref``.  On a shared host the speed at which the
    same code runs moves by tens of percent between runs minutes apart, in
    CPU time as much as in wall-clock time; the reference moves with it,
    the ratio much less.  CPU time leaves out the JVM's JIT compiler
    threads (``procs.cpu_s``).
    The record carries the raw figures too, under the names the workload's
    description uses (query_p50_ms, batch_p50_ms, decode_rows_per_s, ...).
    """
    ctx, wl, speed = ph["ctx"], ph["wl"], ph["speed"]
    ref_ms = statistics.fmean(speed.samples(*ph["measure_window"]))
    ingest_ref_ms = statistics.fmean(
        speed.samples(min(p.start for p in ctx.produce), max(p.end for p in ctx.produce))
    )

    def ref_over(start_s: float, end_s: float, default: float) -> float:
        """Mean reference time over one operation."""
        xs = speed.samples(start_s, end_s)
        return statistics.fmean(xs) if xs else default

    op_refs = [ref_over(op.start / 1000.0, (op.start + op.ms) / 1000.0, ref_ms) for op in ctx.ops]
    ms = [op.ms for op in ctx.ops]
    tail_ms, tail_pct = tail(ms)
    rows_per_s, rows_per_cpu_s = wl.rows_per_s()
    rows = sum(p.rows for p in ctx.produce)
    produce_rows_per_cpu_s = rows / sum(p.cpu_s for p in ctx.produce)
    metrics = {
        "setup_s": (ph["setup_s"], "s"),
        "peak_rss_mb": (ph["rss_mb"], "MB"),
        "op_cpu_ref": (statistics.median(op.cpu_ms / r for op, r in zip(ctx.ops, op_refs)), "ref"),
        "op_p50_ref": (statistics.median(op.ms / r for op, r in zip(ctx.ops, op_refs)), "ref"),
        "rows_per_cpu_ref": (rows_per_cpu_s * ref_ms / 1000.0, "rows/ref"),
        "produce_rows_per_cpu_ref": (produce_rows_per_cpu_s * ingest_ref_ms / 1000.0, "rows/ref"),
    }
    record = {
        **metrics,
        "op_cpu_ms": (statistics.median(op.cpu_ms for op in ctx.ops), "ms"),
        "op_p50_ms": (statistics.median(ms), "ms"),
        "op_tail_ms": (tail_ms, "ms"),
        "rows_per_cpu_s": (rows_per_cpu_s, "rows/cpu_s"),
        "rows_per_s": (rows_per_s, "rows/s"),
        "produce_rows_per_cpu_s": (produce_rows_per_cpu_s, "rows/cpu_s"),
        "produce_rows_per_s": (rows / sum(p.s for p in ctx.produce), "rows/s"),
        "op_jit_cpu_ms": (statistics.median(op.jit_ms for op in ctx.ops), "ms"),
        "ref_ms": (ref_ms, "ms"),
        "ingest_ref_ms": (ingest_ref_ms, "ms"),
    }
    record = {wl.RECORD_NAMES.get(k, k): v for k, v in record.items()}
    record["error_rate"] = (sum(not op.ok for op in ctx.ops) / len(ctx.ops), "ratio")
    kinds = sorted({op.kind for op in ctx.ops})
    for k in kinds if len(kinds) > 1 else ():
        record[f"{k}_p50_ms"] = (statistics.median(op.ms for op in ctx.ops if op.kind == k), "ms")
    record = {k: {"value": v, "unit": u} for k, (v, u) in record.items()}
    record["tail"] = {"percentile": tail_pct, "samples": len(ms), "beyond": min(10, len(ms) - 1)}
    record["operations"] = [
        [op.kind, round(op.ms, 1), round(op.cpu_ms, 1), round(op.jit_ms, 1), op.ok] for op in ctx.ops
    ]
    record["produce_calls"] = [[p.rows, round(p.s, 3), round(p.cpu_s, 3)] for p in ctx.produce]
    record["context"] = ph["context"]
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, record


def untraced_refs(path: str, add: float | None = None, keep: int = 50) -> list[float]:
    """``op_cpu_ref`` of the last untraced runs of a workload in this
    checkout, the reference a traced run's overhead is measured against;
    ``add`` appends one."""
    refs: list[float] = []
    if os.path.exists(path):
        with open(path) as fh:
            refs = [float(line) for line in fh if line.strip()]
    if add is not None:
        refs = (refs + [add])[-keep:]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write("".join(f"{r!r}\n" for r in refs))
    return refs


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hiveka_spark")):
        print(f"no hiveka_spark package under {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_scratch")
    clear_stale_scratch(base)
    scratch = os.path.join(base, f"{args.workload}-{os.getpid()}")
    out = os.path.join(ROOT, "perfbench_out", args.workload)
    refs_path = os.path.join(out, "untraced_op_cpu_ref.txt")
    prepare_env(scratch)
    speed = HostSpeed(scratch)
    ops = []
    try:
        if args.trace:
            import layers

            refs = untraced_refs(refs_path)
            if not refs:  # no untraced run yet in this checkout: make one
                ref = phase(args.workload, args.seed, args.seconds, False, scratch, speed)
                ops += ref["ctx"].ops
                refs = untraced_refs(refs_path, add=end_to_end(ref)[0]["op_cpu_ref"]["value"])
            ph = phase(args.workload, args.seed, args.seconds, True, scratch, speed)
            traced, record = end_to_end(ph)
            overhead_pct = 100.0 * (traced["op_cpu_ref"]["value"] / statistics.median(refs) - 1.0)
            metrics = layers.per_layer(ph, overhead_pct, os.path.join(out, "trace"))
            record["layers"] = metrics
            record["untraced_reference"] = {"op_cpu_ref": statistics.median(refs), "runs": len(refs)}
        else:
            ph = phase(args.workload, args.seed, args.seconds, False, scratch, speed)
            metrics, record = end_to_end(ph)
            untraced_refs(refs_path, add=metrics["op_cpu_ref"]["value"])
        ops += ph["ctx"].ops
    finally:
        speed.stop()
        shutil.rmtree(scratch, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(base)  # only when no other run is using it
    failed = sum(not op.ok for op in ops)
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
