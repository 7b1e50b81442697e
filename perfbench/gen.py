"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(seed, size)``: the same seed gives the
same bytes. The program under test only ever sees what these functions
return (frames over a socket, parquet files), never the generator's ground
truth, which the checks in ``refs.py`` use.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

# -- market feed -------------------------------------------------------------

N_SYMBOLS = 40
QUOTE, ORDER = 0, 1
QUOTE_FMT = ">Bdd"  # kind, bid, offer
ORDER_FMT = ">Bqi"  # kind, order_id, qty
WIDE_SPREAD = 0.05  # reject an order iff (offer - bid) >= WIDE_SPREAD * mid


@dataclass
class Feed:
    """A market-data + order feed for one TCP connection.

    ``due_ms[i]`` is when message ``i`` is due to be sent, relative to the
    start of the feed; it is also the frame's event time, so event time
    rises strictly along the connection and per-symbol processing order is
    fixed. ``frames[i]`` is the wire frame, made by the program's ``codec.encode_frame``.
    """

    symbols: list[str]
    kinds: np.ndarray  # QUOTE / ORDER per message
    sym_idx: np.ndarray
    bid: np.ndarray
    offer: np.ndarray
    order_id: np.ndarray
    due_ms: np.ndarray
    frames: list[bytes]


def market_feed(seed: int, n_msgs: int, period_ms: int, first_order_id: int = 0) -> Feed:
    """Quotes and orders over a fixed symbol set, one message every
    ``period_ms`` ms of event time. About 30% of quotes carry a wide spread
    (6-10% of mid), the rest a narrow one (0.5-3%), so both decisions occur
    and none sits near the 5% cut."""
    from wallaroo_spark.sources.codec import encode_frame

    if period_ms < 1:
        raise ValueError("period_ms must be >= 1 so event time rises strictly")
    rng = np.random.default_rng([seed, 1])
    symbols = [f"S{i:03d}" for i in range(N_SYMBOLS)]
    kinds = np.where(rng.random(n_msgs) < 0.5, QUOTE, ORDER).astype(np.int8)
    sym_idx = rng.integers(0, N_SYMBOLS, n_msgs)
    base_mid = rng.uniform(10.0, 200.0, N_SYMBOLS)
    mid = base_mid[sym_idx] * rng.uniform(0.98, 1.02, n_msgs)
    wide = rng.random(n_msgs) < 0.3
    frac = np.where(wide, rng.uniform(0.06, 0.10, n_msgs), rng.uniform(0.005, 0.03, n_msgs))
    bid = np.round(mid * (1 - frac / 2), 4)
    offer = np.round(mid * (1 + frac / 2), 4)
    order_id = first_order_id + np.arange(n_msgs, dtype=np.int64)
    qty = rng.integers(1, 1000, n_msgs)
    due_ms = np.arange(n_msgs, dtype=np.int64) * period_ms
    keys = [s.encode() for s in symbols]
    frames = []
    for i in range(n_msgs):
        if kinds[i] == QUOTE:
            payload = struct.pack(QUOTE_FMT, QUOTE, float(bid[i]), float(offer[i]))
        else:
            payload = struct.pack(ORDER_FMT, ORDER, int(order_id[i]), int(qty[i]))
        frames.append(encode_frame(int(due_ms[i]), keys[sym_idx[i]], payload))
    return Feed(symbols, kinds, sym_idx, bid, offer, order_id, due_ms, frames)


# -- corpus ------------------------------------------------------------------

STOPWORDS = ("the", "of", "and", "to", "in", "is", "that", "for", "it", "as")


@dataclass
class Corpus:
    """Documents with planted duplicate groups.

    ``groups`` lists the planted groups as lists of doc ids; ``exact`` tells
    whether a group's members are byte-identical (True) or near-duplicates
    of one base text with a single word replaced per copy (False). All
    other documents are unique random word sequences.
    """

    doc_ids: np.ndarray
    texts: list[str]
    groups: list[list[int]]
    exact: list[bool]
    embeddings: np.ndarray  # float32 (n_docs, EMB_DIM), unit norm, row = text index
    queries: np.ndarray  # float32 (n_queries, EMB_DIM), held out


EMB_DIM = 64
N_TOPICS = 16
TOPIC_NOISE = 1.4 / np.sqrt(EMB_DIM)


def _unit_rows(v: np.ndarray) -> np.ndarray:
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def corpus(seed: int, n_docs: int, n_queries: int, vocab: int = 20000) -> Corpus:
    """About a fifth of documents sit in exact-duplicate groups and a
    quarter in near-duplicate groups (sizes 2-3). A near-duplicate copy replaces one
    word of its base text, which changes at most three of its ~80 word
    3-gram shingles, so planted pairs have shingle Jaccard of about 0.8 or
    more; unique documents draw 60-100 words from a ``vocab``-word
    vocabulary and share almost no shingles.

    Each document also gets a unit embedding: unique documents and group
    bases lie around one of ``N_TOPICS`` random topic centres (noise of
    norm about 1.4, so topics overlap); group members add small noise to
    their base (pairwise cosine about 0.95). ``queries`` are held-out
    vectors drawn like unique documents."""
    rng = np.random.default_rng([seed, 2])
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    words: list[str] = []
    seen = set(STOPWORDS)
    while len(words) < vocab:
        w = letters[rng.integers(0, 26, int(rng.integers(4, 10)))].tobytes().decode()
        if w not in seen:
            seen.add(w)
            words.append(w)
    pool = np.array(words + list(STOPWORDS))
    n_stop = len(STOPWORDS)

    def fresh_text() -> list[str]:
        n = int(rng.integers(60, 101))
        # stopwords make up ~15% of tokens, like English prose
        idx = np.where(
            rng.random(n) < 0.15,
            vocab + rng.integers(0, n_stop, n),
            rng.integers(0, vocab, n),
        )
        return list(pool[idx])

    texts: list[list[str]] = []
    groups: list[list[int]] = []
    exact: list[bool] = []
    embs: list[np.ndarray] = []
    centres = _unit_rows(rng.standard_normal((N_TOPICS, EMB_DIM)))

    def unit(v: np.ndarray) -> np.ndarray:
        return v / np.linalg.norm(v)

    def topic_vector() -> np.ndarray:
        c = centres[int(rng.integers(0, N_TOPICS))]
        return unit(c + TOPIC_NOISE * rng.standard_normal(EMB_DIM))

    while len(texts) < n_docs:
        r = rng.random()
        size = int(rng.integers(2, 4))
        if r < 0.75 or len(texts) + size > n_docs:
            texts.append(fresh_text())
            embs.append(topic_vector())
            continue
        base = fresh_text()
        base_v = topic_vector()
        ids = list(range(len(texts), len(texts) + size))
        is_exact = r < 0.85
        used: set[int] = set()
        for j in range(size):
            t = list(base)
            if not is_exact and j > 0:
                # one replaced word per copy, never at a position another
                # copy changed, so copies stay near each other too
                pos = int(rng.integers(0, len(t)))
                while pos in used:
                    pos = int(rng.integers(0, len(t)))
                used.add(pos)
                # a new word, or the copy would be an exact duplicate
                w = t[pos]
                while w == t[pos]:
                    w = words[int(rng.integers(0, vocab))]
                t[pos] = w
            texts.append(t)
            embs.append(unit(base_v + 0.03 * rng.standard_normal(EMB_DIM)))
        groups.append(ids)
        exact.append(is_exact)
    # shuffle doc ids so groups are not contiguous in id order
    perm = rng.permutation(n_docs)
    doc_ids = np.empty(n_docs, dtype=np.int64)
    doc_ids[perm] = np.arange(n_docs)
    return Corpus(
        doc_ids=doc_ids,
        texts=[" ".join(t) for t in texts],
        groups=[sorted(int(doc_ids[i]) for i in g) for g in groups],
        exact=exact,
        embeddings=np.stack(embs).astype(np.float32),
        queries=np.stack([topic_vector() for _ in range(n_queries)]).astype(np.float32),
    )
