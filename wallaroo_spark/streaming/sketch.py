"""Bounded-state streaming heavy hitters (Misra-Gries / space-saving).

A streaming exact per-token count is unbounded state; the Misra-Gries
summary keeps at most ``capacity`` counters and still guarantees:

- every item with true count > N/capacity is present (no false negatives
  above that support), and
- ``true - N/capacity <= est <= true`` for every tracked item.

This is the stream-side complement of ``operators/sketch.countmin_*``
(which streams natively as a running cell count but cannot enumerate
items). Implemented as one per-key step on the keyed-state runner
(``state.run_keyed``); one state row per key holds the counter map —
state size is capacity-bounded regardless of vocabulary, the property that
matters at 100 TB. The global (un-keyed) variant funnels through one state
key per partition-group and merges summaries downstream (MG summaries merge
by counter addition + decrement — associative), mirroring the reference's
collect() funnel (`application.pony:250-256`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wallaroo_spark.streaming.state import key_schema, run_keyed


def misra_gries_update(counters: dict, item, capacity: int) -> None:
    """One MG step: increment if tracked or room; else decrement all."""
    if item in counters:
        counters[item] += 1
    elif len(counters) < capacity:
        counters[item] = 1
    else:
        for k in list(counters):
            counters[k] -= 1
            if counters[k] == 0:
                del counters[k]


def heavy_hitters_stream(
    sdf: DataFrame,
    keys: list[str],
    item_col: str,
    capacity: int = 64,
) -> DataFrame:
    """Per-key Misra-Gries summary, emitted (full summary) each micro-batch.

    Output: keys, item, est_count, n_seen — downstream filters
    ``est_count >= support * n_seen`` for the guarantee-backed heavy set.

    The counter state lives in a ``map<string, bigint>`` cell, so the item
    column is canonicalized to string up front (and emitted as string):
    otherwise counter keys restored from the state store come back as
    strings while live items keep their native type, silently splitting
    counts for non-string item columns.
    """
    sdf = sdf.withColumn(item_col, F.col(item_col).cast("string"))

    def step(key, pdf, st, wm):
        n_seen, counters = st
        for item in pdf[item_col]:
            misra_gries_update(counters, item, capacity)
            n_seen += 1
        rows = [(*key, item, cnt, n_seen) for item, cnt in sorted(counters.items())]
        return rows, (n_seen, counters), None

    return run_keyed(
        sdf, keys, step,
        key_schema(sdf, keys, f"{item_col} string, est_count bigint, n_seen bigint"),
        "n_seen bigint, counters map<string, bigint>",
        init=lambda: (0, {}), unpack=lambda t: (t[0], dict(t[1] or {})),
    )
