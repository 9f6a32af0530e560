"""BENCHMARK.json agrees with the code that produces its metrics."""

import json
import os
import re

import layers
import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load(name: str) -> dict:
    with open(os.path.join(ROOT, *name.split("/"))) as fh:
        return json.load(fh)


def test_per_layer_list_is_the_code_list():
    b = load("BENCHMARK.json")
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == list(layers.PER_LAYER)


def test_workloads_and_notes_agree():
    b = load("BENCHMARK.json")
    notes = load("perfbench/benchmark_notes.json")
    names = [w["name"] for w in b["workloads"]]
    assert names == list(run.WORKLOAD_NAMES) == list(notes["workloads"])
    mapped = {m for row in notes["layer_map"] for m in row["layer"]}
    assert mapped == {n for n, _, _ in layers.PER_LAYER}
    from workloads import WORKLOADS

    for name, w in notes["workloads"].items():
        assert w["record_names"] == WORKLOADS[name].RECORD_NAMES


def test_end_to_end_prints_every_metric_with_its_unit():
    from types import SimpleNamespace as NS

    from workloads import Op, Produce, TopicQuery

    ops = [Op("count", 0.0, 1000.0 + i, cpu_ms=2000.0, jit_ms=100.0) for i in range(12)]
    ph = {
        "ctx": NS(ops=ops, produce=[Produce(100, 1.0, 2.0, 10.0, 11.0)]),
        "wl": NS(rows_per_s=lambda: (10.0, 5.0), RECORD_NAMES=TopicQuery.RECORD_NAMES),
        "speed": NS(samples=lambda start, end: [4.0, 6.0]),  # mean 5 ms
        "measure_window": (0.0, 1.0), "setup_s": 1.0, "rss_mb": 2.0, "context": {},
    }
    metrics, record = run.end_to_end(ph)
    b = load("BENCHMARK.json")
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == {k: v["unit"] for k, v in metrics.items()}
    assert metrics["op_cpu_ref"]["value"] == 400.0  # 2000 ms / 5 ms
    assert metrics["op_p50_ref"]["value"] == 201.1  # 1005.5 ms / 5 ms
    assert metrics["rows_per_cpu_ref"]["value"] == 0.025  # 5 rows per CPU s * 5 ms
    assert metrics["produce_rows_per_cpu_ref"]["value"] == 0.25  # 50 rows per CPU s * 5 ms
    assert record["query_cpu_ms"]["value"] == 2000.0 and record["ref_ms"]["value"] == 5.0


def test_contract_shape():
    b = load("BENCHMARK.json")
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    seen = set()
    for m in b["end_to_end"] + b["per_layer"] + b["workloads"]:
        assert name.match(m["name"]) and m["name"] not in seen
        seen.add(m["name"])
    for m in b["end_to_end"] + b["per_layer"]:
        assert unit.match(m["unit"]) and m["better"] in ("higher", "lower")
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in b["end_to_end"])
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]


def test_tail_is_the_eleventh_largest():
    xs = list(range(1, 31))  # 30 samples
    assert run.tail(xs) == (20, 66)
    assert run.tail(list(range(11))) == (0, 9)
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100)
