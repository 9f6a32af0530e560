"""Span bookkeeping: interval unions, self time, per-thread nesting."""

import threading

from spans import NO_TRACE, Span, Tracer, layer_self_ms, self_times, union_ms


def test_union_merges_overlaps_and_skips_empty():
    assert union_ms([]) == 0
    assert union_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert union_ms([(0, 10), (2, 3)]) == 10
    assert union_ms([(5, 5), (7, 6)]) == 0
    assert union_ms([(10, 20), (0, 10)]) == 20


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "op.q", 0, 100, None, "op0"),
        Span(1, "kafka_io.bind", 10, 40, 0, "op0"),
        Span(2, "kafka_sim.scan", 20, 30, 1, "op0"),
        # overlapping children of the root count once
        Span(3, "spark.collect", 35, 90, 0, "op0"),
        # a child that outlives its parent is clipped to the parent
        Span(4, "kafka_sim.produce", 80, 120, 3, "op0"),
    ]
    st = self_times(spans)
    assert st == {0: 100 - 80, 1: 30 - 10, 2: 10, 3: 55 - 10, 4: 40}
    assert layer_self_ms(spans) == {"op": 20, "kafka_io": 20, "kafka_sim": 50, "spark": 45}


def test_tracer_nests_per_thread_and_inherits_the_operation():
    tr = Tracer()
    with tr.span("op.q", op="op1"):
        with tr.span("kafka_io.bind"):
            pass
        done = threading.Event()

        def other():
            with tr.span("stream.batch", op="d0/b0"):
                pass
            done.set()

        t = threading.Thread(target=other)
        t.start()
        t.join(timeout=10)
        assert done.is_set()
    by = {s.name: s for s in tr.spans}
    assert by["kafka_io.bind"].parent == by["op.q"].id
    assert by["kafka_io.bind"].op == "op1"
    assert by["stream.batch"].parent is None
    assert by["stream.batch"].op == "d0/b0"
    assert all(s.end >= s.start for s in tr.spans)
    assert [s["name"] for s in tr.to_json()] == ["op.q", "kafka_io.bind", "stream.batch"]


def test_wrap_records_one_span_per_call():
    tr = Tracer()
    f = tr.wrap(lambda a, b: a + b, "kafka_sink.call")
    assert f(1, 2) == 3 and f(3, 4) == 7
    assert [s.name for s in tr.spans] == ["kafka_sink.call"] * 2


def test_no_trace_records_nothing_and_passes_callables_through():
    fn = print
    with NO_TRACE.span("x", op="y") as s:
        assert s is None
    assert NO_TRACE.wrap(fn, "x") is fn
