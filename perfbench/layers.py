"""Per-layer metrics of a traced run, and the trace files it leaves.

Sources: the spans the benchmark recorded around calls into each layer, the
Spark event log folded per operation (``eventlog.py``), the streaming
progress records of a ``StreamingQueryListener``, and counts the workload
took at the layer boundary (``Ctx.layer``).  An operation is a query
(topic_query) or a micro-batch (curate_stream); per-operation values are
means over the timed operations.  A layer the workload does not exercise
reports 0.  ``stream.rows_per_batch`` is Spark's ``numInputRows``, which
counts every scan of the source within a batch.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics

import eventlog
from spans import layer_self_ms, self_times

# (name, unit, better) -- BENCHMARK.json's per_layer list
PER_LAYER = (
    ("session.start_s", "s", "lower"),
    ("kafka_sim.produce_ms", "ms", "lower"),
    ("kafka_sim.produce_files", "count", "lower"),
    ("kafka_sim.log_bytes_per_record", "B", "lower"),
    ("kafka_sim.offsets_for_times_ms", "ms", "lower"),
    ("kafka_sim.scan_records_read", "count", "lower"),
    ("kafka_sim.scan_useful_ratio", "ratio", "higher"),
    ("kafka_io.bind_ms", "ms", "lower"),
    ("kafka_io.decode_plan_ms", "ms", "lower"),
    ("kafka_io.write_kafka_ms", "ms", "lower"),
    ("avro_codec.python_run_ms", "ms", "lower"),
    ("avro_codec.python_start_ms", "ms", "lower"),
    ("avro_codec.bytes_to_python", "B", "lower"),
    ("avro_codec.bytes_from_python", "B", "lower"),
    ("avro_codec.decode_us_per_row", "us", "lower"),
    ("avro_codec.encode_us_per_row", "us", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.executor_run_ms", "ms", "lower"),
    ("exec.executor_cpu_ms", "ms", "lower"),
    ("exec.gc_ms", "ms", "lower"),
    ("exec.shuffle_read_bytes", "B", "lower"),
    ("exec.shuffle_write_bytes", "B", "lower"),
    ("exec.spill_bytes", "B", "lower"),
    ("exec.task_skew", "ratio", "lower"),
    ("driver.gap_ms", "ms", "lower"),
    ("stream.add_batch_ms", "ms", "lower"),
    ("stream.query_planning_ms", "ms", "lower"),
    ("stream.wal_commit_ms", "ms", "lower"),
    ("stream.commit_offsets_ms", "ms", "lower"),
    ("stream.latest_offset_ms", "ms", "lower"),
    ("stream.engine_overhead_ms", "ms", "lower"),
    ("stream.rows_per_batch", "count", "higher"),
    ("stream.jobs_per_batch", "count", "lower"),
    ("kafka_sink.call_ms", "ms", "lower"),
    ("kafka_sink.replays_skipped", "count", "higher"),
    ("curation.call_ms", "ms", "lower"),
    ("curation.jobs_per_batch", "count", "lower"),
    ("curation.kept_ratio", "ratio", "higher"),
    ("curation.tombstones", "count", "lower"),
    ("curation.state_bytes", "B", "lower"),
    ("curation.state_versions", "count", "lower"),
    ("op.recent_p50_ms", "ms", "lower"),
    ("trace.overhead_pct", "%", "lower"),
)


def _mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(traced: dict, overhead_pct: float, out_dir: str) -> dict:
    """Per-layer metrics of ``traced``; writes spans, progress records,
    layer self times, per-operation execution statistics and the event log
    to ``out_dir`` (replacing an earlier traced run's)."""
    ctx = traced["ctx"]
    spans = ctx.tracer.spans
    named: dict[str, list] = {}
    for s in spans:
        named.setdefault(s.name, []).append(s)
    st = self_times(spans)

    def dur(name: str) -> list[float]:
        return [s.end - s.start for s in named.get(name, [])]

    def self_of(name: str) -> list[float]:
        return [st[s.id] for s in named.get(name, [])]

    log = eventlog.fold(traced["evdir"])
    ex = [eventlog.window(log, op.start, op.start + op.ms) for op in ctx.ops]

    def py(w: dict, key: str) -> int:
        return sum(d.get(key, 0) for d in w["python"].values())

    whole = eventlog.window(log, 0, float("inf"))["python"]

    def us_per_row(codec: str) -> float:
        d = whole.get(codec, {})
        return 1000.0 * d.get("run_ms", 0) / d["rows"] if d.get("rows") else 0.0

    # offset-range scans: the ``recent`` operations resolve a start offset
    # and read a suffix of the topic
    ranged = [w for op, w in zip(ctx.ops, ex) if op.kind == "recent"]
    decoded = sum(w["python"].get("decode", {}).get("rows", 0) for w in ranged)
    read = sum(w["records_read"] for w in ranged)
    timed = {(p["runId"], p["batchId"]) for p in ctx.progress}
    progress = [p for p in traced["progress"] if (p["runId"], p["batchId"]) in timed]

    def pdur(key: str) -> float:
        return _median(p["durationMs"].get(key, 0) for p in progress)

    def jobs_in(name: str) -> float:
        return _mean(eventlog.window(log, s.start, s.end)["jobs"] for s in named.get(name, []))

    m = {
        "session.start_s": traced["session_s"],
        "kafka_sim.produce_ms": _mean(dur("kafka_sim.produce")),
        "kafka_sim.produce_files": _mean(s.attrs["files"] for s in named.get("kafka_sim.produce", [])),
        "kafka_sim.log_bytes_per_record": traced["log_bytes_per_record"],
        "kafka_sim.offsets_for_times_ms": _mean(dur("kafka_sim.offsets_for_times")),
        "kafka_sim.scan_records_read": _mean(w["records_read"] for w in ranged),
        "kafka_sim.scan_useful_ratio": decoded / read if read else 0.0,
        "kafka_io.bind_ms": _mean(dur("kafka_io.register_kafka_table")),
        # register_kafka_table's time outside the broker scan it calls is
        # its decode plan build; streams call decode_wire directly
        "kafka_io.decode_plan_ms": _mean(
            self_of("kafka_io.register_kafka_table") + dur("kafka_io.decode_wire")
        ),
        # write_kafka's time outside the broker produce it calls
        "kafka_io.write_kafka_ms": _mean(self_of("kafka_io.write_kafka")),
        "avro_codec.python_run_ms": _mean(py(w, "run_ms") for w in ex),
        "avro_codec.python_start_ms": _mean(py(w, "boot_ms") + py(w, "init_ms") for w in ex),
        "avro_codec.bytes_to_python": _mean(py(w, "bytes_sent") for w in ex),
        "avro_codec.bytes_from_python": _mean(py(w, "bytes_received") for w in ex),
        "avro_codec.decode_us_per_row": us_per_row("decode"),
        "avro_codec.encode_us_per_row": us_per_row("encode"),
        **{
            f"exec.{k}": _mean(w[k] for w in ex)
            for k in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
                      "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "task_skew")
        },
        "driver.gap_ms": _mean(w["driver_gap_ms"] for w in ex),
        "stream.add_batch_ms": pdur("addBatch"),
        "stream.query_planning_ms": pdur("queryPlanning"),
        "stream.wal_commit_ms": pdur("walCommit"),
        "stream.commit_offsets_ms": pdur("commitOffsets"),
        "stream.latest_offset_ms": pdur("latestOffset"),
        "stream.engine_overhead_ms": _median(
            p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0) for p in progress
        ),
        "stream.rows_per_batch": _median(p["numInputRows"] for p in progress),
        "stream.jobs_per_batch": _mean(w["jobs"] for w in ex) if progress else 0.0,
        "kafka_sink.call_ms": _mean(dur("kafka_sink.call")),
        "kafka_sink.replays_skipped": ctx.layer.get("kafka_sink.replays_skipped", 0),
        "curation.call_ms": _mean(dur("curation.call")),
        "curation.jobs_per_batch": jobs_in("curation.call"),
        "curation.kept_ratio": ctx.layer.get("curation.kept_ratio", 0.0),
        "curation.tombstones": ctx.layer.get("curation.tombstones", 0.0),
        "curation.state_bytes": ctx.layer.get("curation.state_bytes", 0.0),
        "curation.state_versions": ctx.layer.get("curation.state_versions", 0.0),
        "op.recent_p50_ms": _median(op.ms for op in ctx.ops if op.kind == "recent"),
        "trace.overhead_pct": overhead_pct,
    }
    units = {n: u for n, u, _ in PER_LAYER}
    metrics = {n: {"value": float(m[n]), "unit": units[n]} for n, _, _ in PER_LAYER}

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    dump = {
        "spans.json": ctx.tracer.to_json(),
        "progress.json": traced["progress"],
        "layers.json": {
            "self_ms": layer_self_ms(spans),
            "operations": [{"kind": op.kind, "start": op.start, "ms": op.ms, "cpu_ms": op.cpu_ms, **w}
                           for op, w in zip(ctx.ops, ex)],
            "metrics": metrics,
        },
    }
    for fname, obj in dump.items():
        with open(os.path.join(out_dir, fname), "w") as fh:
            json.dump(obj, fh, indent=1)
    shutil.move(traced["evdir"], os.path.join(out_dir, "eventlog"))
    return metrics
