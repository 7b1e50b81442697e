"""Streaming token-budget admission: per-domain budget state over an
unbounded document stream.

The streaming counterpart of ``operators.text.token_budget_admit`` (round-7
candidate #3): an ingestion front-door that admits documents into a training
corpus until each domain's token budget is exhausted, then closes the gate —
without ever re-scanning what was already admitted.

- **token counting is stateless column math** (``F.size(tokens(text))``)
  before the stateful op — the Python state function never touches text;
- **state is one BIGINT per domain** (tokens seen so far): bounded by the
  number of domains, not the stream, kept by the keyed-state runner
  (``state.run_keyed``) with no timer — a budget is a forever fact, so the
  counter must outlive any horizon;
- **admission order**: arrival order, made deterministic within a
  micro-batch by sorting on (event-ts, id). The batch operator admits in
  salted-bucket-then-id order instead; feed the stream in that order (or
  any fixed order shared by both) and the drained result is identical —
  parity-tested in ``tests/test_streaming.py``;
- **prefix-cut semantics** (matches batch exactly): the running total
  counts EVERY document seen, including rejected ones, and a doc is
  admitted iff the total including it stays <= budget. With non-negative
  token counts the admitted set is a strict prefix of the domain's arrival
  order, so "budget exhausted" is a stable, monotone state.

Reference parity: this is the reference's keyed state-computation shape
(`lib/wallaroo/core/state/state.pony:27`, SURVEY §2.1 S3) applied to corpus
admission — per-key state mutated per message, emitting 0/1 outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wallaroo_spark.operators.text import tokens
from wallaroo_spark.streaming.state import run_keyed


def token_budget_admit_stream(
    sdf: DataFrame,
    budget: int,
    domain: str = "source",
    text: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Admit streaming docs per-domain until ``budget`` tokens have been
    seen (prefix-cut; see module docstring). Output one row per ADMITTED
    doc: (domain, id_col, n_tokens, cum_tokens)."""
    d = sdf.select(
        F.col(domain).alias("_dom"),
        F.col(id_col).cast("long").alias("_id"),
        F.col(ts_col).alias("_ts"),
        F.size(tokens(F.col(text))).cast("long").alias("_nt"),
    )
    out_schema = (
        f"{domain} string, {id_col} bigint, n_tokens bigint, cum_tokens bigint"
    )
    budget = int(budget)

    def step(key, pdf, used, wm):
        (dom,) = key
        rows = []
        for did, nt in zip(pdf["_id"], pdf["_nt"]):
            used += int(nt)
            if used <= budget:
                rows.append((dom, int(did), int(nt), used))
        return rows, used, None

    # deterministic in-batch order: event time, then id — over the WHOLE
    # micro-batch, so the admission prefix never depends on Arrow chunking
    # (batch parity)
    return run_keyed(
        d, ["_dom"], step, out_schema, "used bigint",
        init=lambda: 0, pack=lambda used: (used,), unpack=lambda t: t[0],
        order=["_ts", "_id"],
    )


def pack_sequences_stream(
    sdf: DataFrame,
    seq_len: int,
    text: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    domain: str | None = None,
) -> DataFrame:
    """ONLINE GPT-style sequence packing: assign each arriving document its
    training-context placement (seq_id, seq_offset, n_seqs) as the stream
    flows — the streaming counterpart of ``text.pack_sequences``.

    The insight: concat-then-chunk placement is pure arithmetic on a doc's
    global token START OFFSET, and the admission machinery already
    maintains exactly that — a running token total in arrival order. So
    this is ``token_budget_admit_stream`` with an unbounded budget (the
    counter state is one bigint) under a single constant domain, plus a
    map-side projection of the placement math. The stateful op touches
    only (id, ts, n_tokens) rows; token counting stays native upstream.

    Order note (same contract as the batch operator's salted-bucket order):
    placements follow the admission order — (event-ts, id) within each
    micro-batch, micro-batches in arrival order. Feed the stream in the
    batch operator's order and the layout is identical (parity-tested).
    Token-less docs occupy no space and are dropped.

    ``domain``: None (default) = ONE global layout — the offset counter is
    a single state key, inherently sequential (any global packing is).
    Pass a column name for PER-DOMAIN layouts (one independent sequence
    space per source/language): state and ordering then parallelize across
    domains, the scale dial when layouts need not be global.
    """
    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    L = int(seq_len)
    src = sdf.withColumn("_g", F.lit("_")) if domain is None else sdf
    adm = token_budget_admit_stream(
        src,
        budget=(1 << 62),  # unbounded: packing admits everything
        domain=("_g" if domain is None else domain),
        text=text,
        id_col=id_col,
        ts_col=ts_col,
    )
    return adm.filter(F.col("n_tokens") > 0).select(
        *([] if domain is None else [domain]),
        id_col,
        "n_tokens",
        F.expr(f"(cum_tokens - n_tokens) div {L}").alias("seq_id"),
        ((F.col("cum_tokens") - F.col("n_tokens")) % L).alias("seq_offset"),
        (
            F.expr(f"(cum_tokens - 1) div {L}")
            - F.expr(f"(cum_tokens - n_tokens) div {L}")
            + 1
        ).alias("n_seqs"),
    )
