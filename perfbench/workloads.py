"""The benchmark's workloads, driven only through the program's public
functions: ``sources.kafka_sim``, ``sources.kafka_io``,
``streaming.kafka_sink``, ``streaming.curation`` and ``session``.

Every workload is a closed loop with one client: an operation (a query, or
a micro-batch) starts when the previous one has completed.  Each has a
``setup`` (topics produced, warm-up), a ``measure`` loop that runs until its
time is up, and a ``check`` that compares every output with a reference
computed from the generator's source rows.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import SparkSession

import gen
import procs
from hiveka_spark.sources.kafka_io import (
    KafkaTableConfig,
    decode_wire,
    pushdown_time_predicate,
    read_kafka_batch,
    register_kafka_table,
    write_kafka,
)
from hiveka_spark.sources.kafka_sim import SimBroker
from hiveka_spark.streaming.kafka_sink import KafkaStreamSink
from spans import now_ms

BOOTSTRAP = "sim://perfbench"


class TracedBroker(SimBroker):
    """SimBroker whose public calls each record a span, so the calls the
    program makes into the broker are timed at the layer boundary."""

    def __init__(self, root: str, tracer) -> None:
        super().__init__(root)
        self.tracer = tracer

    def produce(self, payload, topic):
        with self.tracer.span("kafka_sim.produce") as s:
            before = len(topic_files(self, topic))
            counts = super().produce(payload, topic)
            s.attrs.update(rows=sum(counts.values()), files=len(topic_files(self, topic)) - before)
            return counts

    def offsets_for_times(self, spark, topic, ts_ms):
        with self.tracer.span("kafka_sim.offsets_for_times"):
            return super().offsets_for_times(spark, topic, ts_ms)

    def scan(self, spark, *args, **kwargs):
        with self.tracer.span("kafka_sim.scan"):
            return super().scan(spark, *args, **kwargs)

    def stream(self, spark, *args, **kwargs):
        with self.tracer.span("kafka_sim.stream"):
            return super().stream(spark, *args, **kwargs)


def topic_files(broker: SimBroker, topic: str) -> list[str]:
    """The topic's log segment files."""
    return glob.glob(os.path.join(broker.root, topic, "partition=*", "*.parquet"))


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )


@dataclass
class Op:
    """One timed operation: a query, or one micro-batch.  ``cpu_ms`` is the
    CPU time the whole program (driver, JVM, Python workers) spent on it,
    ``jit_ms`` that of the JVM's JIT compiler threads meanwhile (not in
    ``cpu_ms``; see ``procs.cpu_s``)."""

    kind: str
    start: float  # epoch ms
    ms: float
    ok: bool = True
    cpu_ms: float = 0.0
    jit_ms: float = 0.0


@dataclass
class Produce:
    """One timed ingest ``write_kafka`` call: wall and CPU seconds, and its
    start and end in epoch seconds."""

    rows: int
    s: float
    cpu_s: float
    start: float
    end: float


@dataclass
class Ctx:
    spark: SparkSession
    tracer: object
    broker: SimBroker
    scratch: str
    seed: int
    ops: list[Op] = field(default_factory=list)
    produce: list[Produce] = field(default_factory=list)  # timed ingest calls
    sizes: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)  # workload-specific per-layer numbers
    progress: list[dict] = field(default_factory=list)  # timed micro-batches

    def span(self, name: str, **kw):
        return self.tracer.span(name, **kw)

    def ingest(self, pdf, cfg: KafkaTableConfig, topic: str, segments: int, key_col: str,
               ts_col: str | None = None, record: bool = True) -> None:
        """Produce ``pdf`` in ``segments`` time-ordered ``write_kafka`` calls."""
        for idx in np.array_split(np.arange(len(pdf)), segments):
            df = self.spark.createDataFrame(pdf.iloc[idx[0]: idx[-1] + 1])
            cpu, _ = procs.cpu_s()
            start, t = time.time(), time.perf_counter()
            with self.span("kafka_io.write_kafka"):
                write_kafka(df, cfg, topic, key_col=key_col, broker=self.broker, ts_col=ts_col)
            if record:
                self.produce.append(
                    Produce(len(idx), time.perf_counter() - t, procs.cpu_s()[0] - cpu, start, time.time())
                )

    def collect(self, df) -> list:
        with self.span("spark.collect"):
            return df.collect()


def _timed_loop(deadline: float, step) -> None:
    """Run ``step(i)`` until ``deadline``; a step is started only if at
    least half the duration of the previous one remains."""
    i, last = 0, 0.0
    while time.perf_counter() + last / 2 < deadline:
        t = time.perf_counter()
        step(i)
        last = time.perf_counter() - t
        i += 1


# --------------------------------------------------------------------------
# topic_query: analyst queries over a Kafka-backed events table
# --------------------------------------------------------------------------


class TopicQuery:
    """Each operation binds the events table with ``register_kafka_table``
    and runs one query; ``recent`` first resolves the newest few percent of
    the topic to offsets with ``pushdown_time_predicate``."""

    N_EVENTS = 30_000
    SEGMENTS = 4
    PARTITIONS = 8
    RECENT_FRAC = 0.03
    KINDS = ("count", "project", "group_by", "join", "recent")
    FULL = ("count", "project", "group_by", "join")
    RECORD_NAMES = {"op_cpu_ms": "query_cpu_ms", "rows_per_cpu_s": "decode_rows_per_cpu_s",
                    "op_p50_ms": "query_p50_ms", "op_tail_ms": "query_tail_ms",
                    "rows_per_s": "decode_rows_per_s"}

    SQL = {
        "count": "SELECT count(*) FROM ev",
        "project": f"SELECT event_id, amount FROM ev WHERE {gen.PROJECT_SQL}",
        "group_by": "SELECT kind, count(*), sum(amount) FROM ev GROUP BY kind",
        "join": (
            "SELECT u.segment, count(*), sum(e.amount) FROM ev e "
            "JOIN users u ON e.user_id = u.user_id GROUP BY u.segment"
        ),
        "recent": (
            "SELECT kind, count(*), sum(amount) FROM ev_recent "
            "WHERE timestamp >= timestamp_millis({cutoff}) GROUP BY kind"
        ),
    }

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.events = gen.events(ctx.seed, self.N_EVENTS)
        self.users = gen.users(ctx.seed)
        self.cutoff = gen.recent_cutoff_ms(self.events, self.RECENT_FRAC)
        self.cfg = KafkaTableConfig(
            bootstrap_servers=BOOTSTRAP, whitelist_topics=["events"], ddl=gen.EVENT_DDL
        )
        self.results: list[tuple[Op, list]] = []
        ctx.sizes.update(
            events=self.N_EVENTS, users=len(self.users), segments=self.SEGMENTS,
            timed_produce_calls=2 * self.SEGMENTS,
            partitions=self.PARTITIONS, recent_frac=self.RECENT_FRAC,
            key_skew=f"zipf(s=1.1) over {len(self.users)} user keys",
        )

    def setup(self) -> None:
        c = self.ctx
        c.broker.create_topic("events", partitions=self.PARTITIONS)
        c.ingest(self.events, self.cfg, "events", self.SEGMENTS, "user_id", ts_col="ts", record=False)
        c.spark.createDataFrame(self.users).createOrReplaceTempView("users")
        for kind in self.KINDS:  # warm-up: one of each type, untimed
            self._run(kind)
        # the timed ingest, once the produce path has run and the JVM is
        # warm: the same events twice more, into a topic no query reads
        c.broker.create_topic("ingest", partitions=self.PARTITIONS)
        for _ in range(2):
            c.ingest(self.events, self.cfg, "ingest", self.SEGMENTS, "user_id", ts_col="ts")

    def _bind(self, name: str, cfg: KafkaTableConfig) -> None:
        with self.ctx.span("kafka_io.register_kafka_table"):
            register_kafka_table(self.ctx.spark, name, cfg, broker=self.ctx.broker)

    def _run(self, kind: str) -> list:
        c = self.ctx
        if kind == "recent":
            with c.span("kafka_io.pushdown_time_predicate"):
                cfg = pushdown_time_predicate(c.spark, self.cfg, self.cutoff, broker=c.broker)
            self._bind("ev_recent", cfg)
        else:
            self._bind("ev", self.cfg)
        return c.collect(c.spark.sql(self.SQL[kind].format(cutoff=self.cutoff)))

    def measure(self, seconds: float) -> None:
        c = self.ctx
        seq = gen.op_sequence(c.seed, 10_000, self.KINDS)

        def step(i: int) -> None:
            kind = seq[i]
            op = Op(kind, now_ms(), 0.0)
            cpu0, jit0 = procs.cpu_s()
            t = time.perf_counter()
            rows: list | None = None
            with c.span(f"op.{kind}", op=f"op{i}"):
                try:
                    rows = self._run(kind)
                except Exception:
                    traceback.print_exc()
                    op.ok = False
            op.ms = (time.perf_counter() - t) * 1000.0
            cpu1, jit1 = procs.cpu_s()
            op.cpu_ms, op.jit_ms = (cpu1 - cpu0) * 1000.0, (jit1 - jit0) * 1000.0
            c.ops.append(op)
            self.results.append((op, rows))

        _timed_loop(time.perf_counter() + seconds, step)

    def rows_per_s(self) -> tuple[float, float]:
        """Records decoded per second of full-topic query time, and per
        CPU second the program spent on those queries."""
        full = [op for op in self.ctx.ops if op.kind in self.FULL]
        rows = self.N_EVENTS * len(full) * 1000.0
        return rows / sum(op.ms for op in full), rows / sum(op.cpu_ms for op in full)

    def check(self) -> None:
        answers = gen.topic_query_answers(self.events, self.users, self.cutoff)
        for op, rows in self.results:
            if rows is not None and sorted(tuple(r) for r in rows) != answers[op.kind]:
                print(f"wrong answer: {op.kind} at {op.start:.0f}", file=sys.stderr)
                op.ok = False


# --------------------------------------------------------------------------
# curate_stream: the live curation pipeline (s23) in many small micro-batches
# --------------------------------------------------------------------------


def _progress(p) -> dict:
    return p if isinstance(p, dict) else json.loads(p.json)


def _progress_ms(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() * 1000.0


class CurateStream:
    """Decode -> Gopher rules -> Bloom containment -> MinHash band-index
    dedup -> compacted produce with tombstones, over the public pieces of
    the s23 entry.  Each drain is a fresh ``availableNow`` query (own
    checkpoint, band-index state and curated topic) over the whole backlog,
    one produced file per micro-batch, so the band index grows across the
    batches of a drain."""

    N_DOCS = 1200
    SEGMENTS = 6
    PARTITIONS = 1  # one file per produce call: every micro-batch holds N_DOCS / SEGMENTS
    OUT_PARTITIONS = 3
    BLOOM_M, BLOOM_H = 2**18, 3  # s23's Bloom filter
    RECORD_NAMES = {"op_cpu_ms": "batch_cpu_ms", "rows_per_cpu_s": "stream_rows_per_cpu_s",
                    "op_p50_ms": "batch_p50_ms", "op_tail_ms": "batch_tail_ms",
                    "rows_per_s": "stream_rows_per_s"}

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.drains: list[dict] = []
        self.docs = gen.corpus(ctx.seed, self.N_DOCS)
        self.web = self.docs[self.docs["source"] == "web"][["doc_id", "text", "lang", "n_chars"]]
        ctx.sizes.update(
            docs=self.N_DOCS, eval_docs=len(self.docs) - self.N_DOCS, segments=self.SEGMENTS,
            partitions=self.PARTITIONS, curated_partitions=self.OUT_PARTITIONS, files_per_trigger=1,
            timed_produce_calls=2 * self.SEGMENTS,
            batches_per_drain=self.SEGMENTS * self.PARTITIONS,
            near_dup_rate=0.15, contamination_rate=0.08, short_doc_rate=0.05, vocabulary=4000,
        )

    @staticmethod
    def _cfg_in(topic: str) -> KafkaTableConfig:
        return KafkaTableConfig(
            bootstrap_servers=BOOTSTRAP, whitelist_topics=[topic], ddl=gen.DOC_DDL
        )

    def setup(self) -> None:
        from hiveka_spark.operators import dedup as D

        c = self.ctx
        ev = c.spark.createDataFrame(self.docs[self.docs["source"] != "web"][["doc_id", "text"]])
        with c.span("curation.prepare"):
            self.ev_sh = D.eval_shingle_set(ev, "text", k=3).localCheckpoint(eager=True)
            self.bitset = D.build_bloom_bitset(self.ev_sh, self.BLOOM_M, self.BLOOM_H)
        # warm-up: one untimed micro-batch over a topic of one segment
        c.broker.create_topic("warm", partitions=1)
        c.ingest(self.web.iloc[: self.N_DOCS // self.SEGMENTS], self._cfg_in("warm"), "warm", 1, "doc_id",
                 record=False)
        self._drain("warm", "warm", timed=False)
        # the timed ingest, once the produce path has run and the JVM is
        # warm: the topic the drains read, then the same documents again
        # into a topic no drain reads, for a steadier rate
        c.broker.create_topic("docs", partitions=self.PARTITIONS)
        c.ingest(self.web, self._cfg_in("docs"), "docs", self.SEGMENTS, "doc_id")
        c.broker.create_topic("ingest", partitions=self.PARTITIONS)
        c.ingest(self.web, self._cfg_in("ingest"), "ingest", self.SEGMENTS, "doc_id")

    def _drain(self, tag: str, src: str, timed: bool = True) -> None:
        """One drain of topic ``src`` into a fresh curated topic."""
        from hiveka_spark.streaming.curation import StreamCurationSink, curated_topic_config
        from hiveka_spark.streaming.neardup import committed_versions

        c = self.ctx
        out = f"cur_{tag}"
        c.broker.create_topic(out, partitions=self.OUT_PARTITIONS)
        produce = KafkaStreamSink(
            curated_topic_config(BOOTSTRAP, out), out, os.path.join(c.scratch, "commits", tag),
            broker=c.broker, key_col="doc_id", tombstone_col="_tombstone",
        )
        state = os.path.join(c.scratch, "state", tag)
        curate = StreamCurationSink(
            state, c.tracer.wrap(produce, "kafka_sink.call"), self.bitset, self.ev_sh,
            num_perm=32, bands=8, k=3, threshold=0.8,
            bloom_m=self.BLOOM_M, bloom_h=self.BLOOM_H,
        )
        call = c.tracer.wrap(curate, "curation.call")

        # CPU marks at the start of every batch and at the end of the drain:
        # batch i's CPU is the difference between marks i and i + 1
        marks: list[tuple[float, float]] = []

        def batch(df, batch_id):
            marks.append(procs.cpu_s())
            if not c.tracer.enabled:
                return call(df, batch_id)
            with c.span("stream.batch", op=f"{tag}/b{batch_id}"):
                call(df, batch_id)

        with c.span("kafka_io.decode_wire"):
            typed = decode_wire(
                c.broker.stream(c.spark, src, max_files_per_trigger=1), self._cfg_in(src)
            ).select("doc_id", "text", "lang", "n_chars")
        t = time.perf_counter()
        q = (
            typed.writeStream.foreachBatch(batch)
            .option("checkpointLocation", os.path.join(c.scratch, "checkpoints", tag))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.perf_counter() - t
        marks.append(procs.cpu_s())
        if not timed:
            return
        batches = [b for b in map(_progress, q.recentProgress) if b["numInputRows"] > 0]
        ops = [
            Op("batch", _progress_ms(b), float(b["durationMs"]["triggerExecution"]),
               cpu_ms=(m1[0] - m0[0]) * 1000.0, jit_ms=(m1[1] - m0[1]) * 1000.0)
            for b, m0, m1 in zip(batches, marks, marks[1:])
        ]
        c.ops.extend(ops)
        c.progress.extend(batches)
        self.drains.append({
            "tag": tag, "out": out, "produce": produce, "ops": ops, "wall_s": wall,
            # numInputRows counts every scan of the source within a batch;
            # the drain's input is the topic's records
            "rows": sum(c.broker.latest()[src].values()),
            "cpu_s": marks[-1][0] - marks[0][0],
            "state_bytes": dir_bytes(state),
            "state_versions": len(committed_versions(curate.bands_root, 10**9)),
        })

    def measure(self, seconds: float) -> None:
        c = self.ctx

        def step(i: int) -> None:
            try:
                self._drain(f"d{i}", "docs")
            except Exception:
                traceback.print_exc()
                c.ops.append(Op("batch", now_ms(), 0.0, ok=False))

        _timed_loop(time.perf_counter() + seconds, step)

    def rows_per_s(self) -> tuple[float, float]:
        """Input rows per second of drain wall time, and per CPU second the
        program spent on the drains' micro-batches."""
        rows = sum(d["rows"] for d in self.drains)
        return rows / sum(d["wall_s"] for d in self.drains), rows / sum(d["cpu_s"] for d in self.drains)

    def check(self) -> None:
        """Each drain's compacted read-back equals the s23 entry's DuckDB
        oracle on the generated documents, and replaying its last committed
        batch leaves every end offset of the curated topic unchanged."""
        import duckdb

        from hiveka_spark.queries import all_oracles
        from hiveka_spark.streaming.curation import curated_topic_config, read_compacted

        c = self.ctx
        con = duckdb.connect()
        try:
            con.register("documents", self.docs)
            want = sorted(con.execute(all_oracles()["s23_stream_curation_e2e"]).fetchall())
        finally:
            con.close()
        kept, tombstones, replays = [], [], 0
        for d in self.drains:
            cfg = curated_topic_config(BOOTSTRAP, d["out"])
            got = sorted(tuple(r) for r in read_compacted(c.spark, cfg, broker=c.broker).collect())
            kept.append(len(got) / len(self.web))
            tombstones.append(
                read_kafka_batch(c.spark, cfg, broker=c.broker).filter(F.col("value").isNull()).count()
            )
            before = c.broker.latest()[d["out"]]
            d["produce"](c.spark.range(0), max(d["produce"].committed_batches()))
            replayed = c.broker.latest()[d["out"]] != before
            replays += not replayed
            if got != want or not got or replayed:
                why = "replayed batch appended to the log" if replayed else (
                    f"{len(got)} docs read back, {len(want)} in the s23 oracle")
                print(f"wrong output: drain {d['tag']}: {why}", file=sys.stderr)
                for op in d["ops"]:
                    op.ok = False
        if self.drains:
            c.layer.update({
                "kafka_sink.replays_skipped": replays,
                "curation.kept_ratio": float(np.mean(kept)),
                "curation.tombstones": float(np.mean(tombstones)),
                "curation.state_bytes": float(np.mean([d["state_bytes"] for d in self.drains])),
                "curation.state_versions": float(np.mean([d["state_versions"] for d in self.drains])),
            })


WORKLOADS = {"topic_query": TopicQuery, "curate_stream": CurateStream}
