"""Seeded input generators and reference answers for the benchmark.

Everything here is plain NumPy/pandas: the program under test receives
only the frames these functions return (produced into simulated topics),
never the seed.  The same seed gives byte-identical frames and reference
answers; every random draw goes through one ``numpy.random.Generator``
keyed on ``(seed, stream)`` so adding a draw to one generator never shifts
another's.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

EVENT_DDL = "event_id BIGINT, user_id BIGINT, kind STRING, amount BIGINT"
KINDS = ("view", "click", "buy", "refund")
KIND_P = (0.6, 0.25, 0.1, 0.05)
SEGMENTS = ("free", "pro", "team", "enterprise")
T0_MS = 1_700_000_000_000
STEP_MS = 10

# topic_query's selective projection
PROJECT_SQL = "kind = 'refund' AND amount >= 9000"

DOC_DDL = "doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT"
EVAL_SOURCES = ("src0", "src1", "src2", "src3", "src4")
# the Gopher rule's English stopwords (operators/text.py EN_STOPWORDS)
STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "it", "for", "on", "with")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def events(seed: int, n: int, n_users: int = 5000, zipf_s: float = 1.1) -> pd.DataFrame:
    """``n`` click-stream events in event-time order.  ``user_id`` (the
    Kafka key) is Zipf(``zipf_s``) over ``n_users`` keys, so key-hash
    partitions are uneven.  ``ts`` is strictly increasing, so per-partition
    record timestamps are non-decreasing (what offset-for-time resolution
    assumes)."""
    rng = _rng(seed, 1)
    user_id = rng.choice(np.arange(1, n_users + 1, dtype=np.int64), n, p=zipf_probs(n_users, zipf_s))
    kind = np.asarray(KINDS)[rng.choice(len(KINDS), n, p=KIND_P)]
    amount = rng.integers(1, 10_000, n, dtype=np.int64)
    ts_ms = T0_MS + np.arange(n, dtype=np.int64) * STEP_MS + rng.integers(0, STEP_MS, n)
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "user_id": user_id,
            "kind": kind,
            "amount": amount,
            "ts": pd.to_datetime(ts_ms, unit="ms"),
        }
    )


def users(seed: int, n_users: int = 5000) -> pd.DataFrame:
    """Static dimension joined by topic_query's ``join`` operation."""
    rng = _rng(seed, 2)
    return pd.DataFrame(
        {
            "user_id": np.arange(1, n_users + 1, dtype=np.int64),
            "segment": np.asarray(SEGMENTS)[rng.integers(0, len(SEGMENTS), n_users)],
        }
    )


def op_sequence(seed: int, n: int, kinds: tuple[str, ...]) -> list[str]:
    """``n`` operation types: consecutive blocks of one of each type, each
    block in seeded order, so every seed runs the same mix."""
    rng = _rng(seed, 3)
    out: list[str] = []
    while len(out) < n:
        out.extend(kinds[i] for i in rng.permutation(len(kinds)))
    return out[:n]


def recent_cutoff_ms(ev: pd.DataFrame, frac: float) -> int:
    """Event time at which the newest ``frac`` of the topic starts."""
    return int(ev["ts"].iloc[int(len(ev) * (1.0 - frac))].value // 1_000_000)


def topic_query_answers(ev: pd.DataFrame, us: pd.DataFrame, cutoff_ms: int) -> dict:
    """Reference answer of every topic_query operation type, in the shape
    the benchmark normalizes Spark's rows into."""
    proj = ev[(ev["kind"] == "refund") & (ev["amount"] >= 9000)]  # PROJECT_SQL
    grp = ev.groupby("kind")["amount"].agg(["count", "sum"])
    joined = ev.merge(us, on="user_id").groupby("segment")["amount"].agg(["count", "sum"])
    recent = ev[ev["ts"] >= pd.Timestamp(cutoff_ms, unit="ms")].groupby("kind")["amount"].agg(["count", "sum"])

    def rows(g: pd.DataFrame) -> list[tuple]:
        return sorted((k, int(c), int(s)) for k, c, s in g.itertuples())

    return {
        "count": [(len(ev),)],
        "project": sorted(zip(proj["event_id"].tolist(), proj["amount"].tolist())),
        "group_by": rows(grp),
        "join": rows(joined),
        "recent": rows(recent),
    }


def _word(rng: np.random.Generator) -> str:
    return "".join(chr(97 + c) for c in rng.integers(0, 26, int(rng.integers(4, 10))))


def corpus(
    seed: int,
    n_docs: int,
    n_eval: int = 40,
    vocab_size: int = 4000,
    dup_rate: float = 0.15,
    contam_rate: float = 0.08,
    short_rate: float = 0.05,
) -> pd.DataFrame:
    """Documents for the live curation pipeline, with known traffic shares:

    - ``dup_rate``: near-duplicates of an earlier document (one word
      replaced; shingle Jaccard >= 0.8, so one side of each pair is dropped);
    - ``contam_rate``: copies of an eval document (all shingles are eval
      shingles, so the containment rule flags them);
    - ``short_rate``: 8-word documents the Gopher word-count rule drops;
    - ``n_eval`` eval documents under ``EVAL_SOURCES`` (never produced).

    A 4000-word vocabulary keeps unrelated documents' shingles apart, so
    the remaining ~70% of documents survive.  ``doc_id`` is a seeded
    permutation, so a near-duplicate can arrive before or after its
    smaller-id partner."""
    rng = _rng(seed, 4)
    vocab: list[str] = []
    seen = set(STOPWORDS)
    while len(vocab) < vocab_size:
        w = _word(rng)
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    vocab_a = np.asarray(vocab)
    stop_a = np.asarray(STOPWORDS)

    def doc(n_words: int) -> list[str]:
        words = vocab_a[rng.integers(0, vocab_size, n_words)].tolist()
        for i in np.flatnonzero(rng.random(n_words) < 0.25):
            words[i] = str(stop_a[rng.integers(0, len(STOPWORDS))])
        return words

    evals = [doc(int(rng.integers(30, 50))) for _ in range(n_eval)]
    # exact category counts, placed in seeded order
    counts = [round(n_docs * r) for r in (dup_rate, contam_rate, short_rate)]
    rest = np.repeat([0, 1, 2, 3], [n_docs - 1 - sum(counts), *counts])
    kinds = np.concatenate([[0], rng.permutation(rest)])  # a near-duplicate needs an earlier doc
    texts: list[list[str]] = []
    for kind in kinds:
        if kind == 1:
            words = list(texts[int(rng.integers(0, len(texts)))])
            words[int(rng.integers(0, len(words)))] = str(vocab_a[rng.integers(0, vocab_size)])
        elif kind == 2:
            words = list(evals[int(rng.integers(0, n_eval))])
        elif kind == 3:
            words = doc(8)
        else:
            words = doc(int(rng.integers(30, 50)))
        texts.append(words)
    n = n_docs + n_eval
    ids = rng.permutation(n).astype(np.int64) + 1
    all_texts = [" ".join(w) for w in texts + evals]
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": all_texts,
            "source": ["web"] * n_docs + [EVAL_SOURCES[i % len(EVAL_SOURCES)] for i in range(n_eval)],
            "lang": ["en"] * n,
            "n_chars": np.asarray([len(t) for t in all_texts], dtype=np.int64),
        }
    )
