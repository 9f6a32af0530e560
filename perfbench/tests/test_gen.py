"""Seeded inputs: the same seed gives byte-identical topics and reference
answers, another seed different ones."""

import json

import pandas as pd
import pytest

import gen
from hiveka_spark.sources.avro_codec import encode_record
from hiveka_spark.sources.kafka_io import KafkaTableConfig


def topic_bytes(pdf: pd.DataFrame, ddl: str, key: str) -> list[tuple[bytes, bytes]]:
    """(key, Avro value) of every record, as the producer would write them."""
    schema = json.loads(KafkaTableConfig(bootstrap_servers="", ddl=ddl).schema_json())
    names = [f["name"] for f in schema["fields"]]
    return [
        (str(row[key]).encode(), encode_record(schema, {n: _plain(row[n]) for n in names}))
        for row in pdf.to_dict("records")
    ]


def _plain(v):
    return v.item() if hasattr(v, "item") else v


def topic_query_inputs(seed: int):
    ev = gen.events(seed, 2000)
    us = gen.users(seed, 300)
    cutoff = gen.recent_cutoff_ms(ev, 0.03)
    return (
        topic_bytes(ev, gen.EVENT_DDL, "user_id"),
        ev["ts"].tolist(),
        gen.topic_query_answers(ev, us, cutoff),
        gen.op_sequence(seed, 20, ("count", "project", "group_by", "join", "recent")),
    )


def corpus_inputs(seed: int):
    docs = gen.corpus(seed, 200)
    web = docs[docs["source"] == "web"]
    return topic_bytes(web, gen.DOC_DDL, "doc_id"), docs.to_dict("list")


@pytest.mark.parametrize("make", [topic_query_inputs, corpus_inputs])
def test_same_seed_same_bytes_other_seed_different(make):
    assert make(7) == make(7)
    assert make(7) != make(8)


def test_op_sequence_runs_every_type_equally():
    kinds = ("a", "b", "c")
    seq = gen.op_sequence(3, 30, kinds)
    assert all(seq.count(k) == 10 for k in kinds)
    assert seq != gen.op_sequence(4, 30, kinds)


def test_event_keys_are_skewed_and_time_ordered():
    ev = gen.events(1, 20_000)
    top = ev["user_id"].value_counts()
    assert top.iloc[0] > 20 * top.median()
    assert ev["ts"].is_monotonic_increasing


def test_recent_answer_covers_the_newest_share():
    ev = gen.events(2, 10_000)
    cutoff = gen.recent_cutoff_ms(ev, 0.03)
    ans = gen.topic_query_answers(ev, gen.users(2), cutoff)
    assert sum(c for _, c, _ in ans["recent"]) == 300
    assert ans["count"] == [(10_000,)]
    assert sum(c for _, c, _ in ans["join"]) == 10_000


def test_curation_oracle_keeps_a_stated_share():
    """The s23 oracle keeps a nonzero share: the generator's vocabulary is
    large enough that only injected duplicates, contaminated and short
    documents are dropped."""
    duckdb = pytest.importorskip("duckdb")
    from hiveka_spark.queries import all_oracles

    docs = gen.corpus(5, 400)
    con = duckdb.connect()
    try:
        con.register("documents", docs)
        kept = con.execute(all_oracles()["s23_stream_curation_e2e"]).fetchall()
    finally:
        con.close()
    share = len(kept) / 400
    assert 0.6 < share < 0.85
