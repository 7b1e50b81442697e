"""Keyed stateful computation — the engine's core custom operator family.

Reference semantics (`@state_computation`, `machida/lib/wallaroo/__init__.py:465-470`;
runner `topology/runner.pony:314-684`): one mutable state instance per key,
created lazily on first message; user fn ``f(msg, state) -> out | [out] | None``
runs per message in event order; state may be dropped (``retain_state=False``).

``run_keyed`` is the one keyed-state runner: every stateful streaming
operator (keyed state, count/ephemeral/late-policy windows, Misra-Gries,
token-budget admission, MinHash-LSH dedup, user ``Aggregation`` windows) is a
per-key step plus schemas handed to it, the way every Wallaroo state
computation runs in the one runner. It owns:

- **streaming**: the engine's only ``groupBy(keys).applyInPandasWithState``
  call — state lives in the state store (RocksDB/HDFS-backed, incremental
  checkpoints); a key's Arrow chunks of one micro-batch are gathered and
  sorted ONCE by the operator's order columns, so replay order never
  depends on Arrow chunking; state is read (``unpack`` or ``init``),
  written (``pack``) or removed; timed-out keys go to ``on_timeout``; the
  event-time timer rule (clamped strictly above the watermark) is here
  once. Update-mode emission: outputs appended every micro-batch.
- **batch** (the oracle-checkable mode): ``groupBy(keys).applyInPandas`` —
  the same step over the key's whole history with fresh state, then the
  operator's end-of-input ``flush``. Identical results to streaming when the
  stream is drained (availableNow), because both orders are (key,
  event-time) sorted.

Scale: state is partitioned by key hash across executors (same as the
reference's MD5 ring, `routing/hash_partitions.pony:23-29`); no driver-side
state, no collect. Python fn cost is Arrow-batched; for SQL-expressible
state logic prefer the native operators in ``wallaroo_spark.operators``.
"""

from __future__ import annotations

import sys
from collections.abc import Callable, Iterable, Iterator, Sequence
from typing import Any

import pandas as pd

from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructField, StructType

# user contract: fn(row: dict, state: dict) -> list[dict] outputs; mutates state
StateFn = Callable[[dict, dict], list[dict]]

# operator contract: step(key, rows, state, watermark_s) and
# on_timeout(key, state, watermark_s) -> (output rows, new state or None to
# remove it, event-time deadline ms or None for no timer)
Step = Callable[[tuple, pd.DataFrame, Any, "float | None"], tuple[list, Any, "int | None"]]
Timeout = Callable[[tuple, Any, float], tuple[list, Any, "int | None"]]

EP = "_ep"  # column of tz-safe epoch seconds the runner adds for `event_time`


def epoch_fn(df):
    """Picklable ``Timestamp -> float`` true-epoch-seconds converter,
    pinned to ``df``'s session timezone at plan time.

    Arrow hands Python TZ-NAIVE timestamps rendered in
    ``spark.sql.session.timeZone``, but ``Timestamp.timestamp()`` reads a
    naive value as UTC, while ``GroupState.getCurrentWatermarkMs()`` is real
    epoch ms: under a non-UTC session timers and gap checks would fire
    hours off (ADVICE r12). The timezone is read on the driver because the
    executors' Python workers never see the JVM conf. Under a UTC session it
    is the identity of the naive ``.timestamp()``."""
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")

    def to_epoch(ts) -> float:
        if getattr(ts, "tzinfo", None) is None:
            # DST edges: the repeated hour resolves to the DST instant,
            # the skipped hour shifts forward — deterministic either way
            return ts.tz_localize(
                tz, ambiguous=True, nonexistent="shift_forward"
            ).timestamp()
        return ts.timestamp()

    return to_epoch


def from_epoch_fn(df):
    """The inverse: true epoch seconds -> the NAIVE session-timezone
    Timestamp that Arrow hands back to Spark as that same instant. An
    operator that emits a timestamp column reconstructed from an epoch it
    derived via `epoch_fn` must round-trip through this, or the emitted
    instant shifts by the session offset under any non-UTC timezone."""
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")

    def from_epoch(ep: float):
        return pd.Timestamp(ep, unit="s", tz="UTC").tz_convert(tz).tz_localize(None)

    return from_epoch


def key_schema(df: DataFrame, keys: Sequence[str], tail: str) -> StructType:
    """Output schema: the key columns with their own types, then the
    operator's ``tail`` DDL — built as a StructType, never re-split as text
    (a ``decimal(10,2)`` or struct type carries a comma)."""
    return StructType(
        [StructField(k, df.schema[k].dataType) for k in keys]
        + StructType.fromDDL(tail).fields
    )


def run_keyed(
    df: DataFrame,
    keys: Sequence[str],
    step: Step,
    out_schema: StructType | str,
    state_schema: StructType | str | None = None,
    *,
    init: Callable[[], Any] = lambda: None,
    pack: Callable[[Any], tuple] = lambda s: s,
    unpack: Callable[[tuple], Any] = lambda t: t,
    order: Sequence[str] = (),
    event_time: str | None = None,
    on_timeout: Timeout | None = None,
    flush: Callable[[tuple, Any], list] | None = None,
) -> DataFrame:
    """Run ``step`` per key: streaming when ``state_schema`` is given (the
    stored tuple DDL), else batch.

    ``step`` gets the key tuple, the key's rows sorted once by ``order``
    (with an ``EP`` column of tz-safe epoch seconds of ``event_time`` when
    set), its state (``unpack``-ed, or ``init()`` for a new key) and the
    watermark in seconds (None in batch and without ``on_timeout``).
    ``on_timeout`` switches on event-time timers and handles a key whose
    timer fired; ``flush(key, state)`` ends a batch run. The module that
    defines ``step`` is pickled by value with this one: executors never
    import wallaroo_spark (the engine must run under any driver session /
    cwd, and on a cluster without shipping the package)."""
    for mod in {__name__, step.__module__}:
        cloudpickle.register_pickle_by_value(sys.modules[mod])
    schema = out_schema if isinstance(out_schema, StructType) else StructType.fromDDL(out_schema)
    cols = schema.fieldNames()
    order = list(order)
    to_ep = epoch_fn(df) if event_time else None

    def gather(chunks: list[pd.DataFrame]) -> pd.DataFrame:
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        if order:
            pdf = pdf.sort_values(order, kind="mergesort")
        if to_ep:
            pdf[EP] = pdf[event_time].map(to_ep)
        return pdf

    if state_schema is None:

        def run_batch(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            rows, state, _ = step(key, gather([pdf]), init(), None)
            if flush:
                rows += flush(key, state)
            return pd.DataFrame(rows, columns=cols)

        return df.groupBy(*keys).applyInPandas(run_batch, schema=schema)

    def run(key: tuple, chunks: Iterable[pd.DataFrame], gs: GroupState) -> Iterator[pd.DataFrame]:
        wm = gs.getCurrentWatermarkMs() / 1000.0 if on_timeout else None
        if gs.hasTimedOut:
            rows, state, deadline = on_timeout(key, unpack(gs.get), wm)
        else:
            state = unpack(gs.get) if gs.exists else init()
            rows, state, deadline = step(key, gather(list(chunks)), state, wm)
        if state is None:
            gs.remove()
        else:
            gs.update(pack(state))
            if deadline is not None:
                # Spark rejects a timer at or below the watermark; a lagging
                # key's deadline is clamped just above it
                gs.setTimeoutTimestamp(max(deadline, gs.getCurrentWatermarkMs() + 1))
        if rows:
            yield pd.DataFrame(rows, columns=cols)

    timeout = GroupStateTimeout.EventTimeTimeout if on_timeout else GroupStateTimeout.NoTimeout
    return df.groupBy(*keys).applyInPandasWithState(run, schema, state_schema, "update", timeout)


def _replay(fn: StateFn) -> Step:
    def step(key, pdf, state, wm):
        rows = []
        for row in pdf.to_dict("records"):
            rows.extend(fn(row, state) or ())
        return rows, state, None

    return step


def keyed_state_batch(
    df: DataFrame,
    keys: list[str],
    fn: StateFn,
    initial_state: Callable[[], dict],
    output_schema: StructType | str,
    ts_col: str = "",
) -> DataFrame:
    """Batch execution of a Wallaroo state computation (per-key, event-order)."""
    return run_keyed(
        df, keys, _replay(fn), output_schema,
        init=initial_state, order=[ts_col] if ts_col else [],
    )


def keyed_state_stream(
    sdf: DataFrame,
    keys: list[str],
    fn: StateFn,
    initial_state: Callable[[], dict],
    output_schema: StructType | str,
    state_schema: StructType | str,
    pack: Callable[[dict], tuple],
    unpack: Callable[[tuple], dict],
    ts_col: str = "",
) -> DataFrame:
    """Streaming execution of the same state computation.

    ``pack``/``unpack`` convert the user's dict state to/from the typed tuple
    Spark persists in the state store."""
    return run_keyed(
        sdf, keys, _replay(fn), output_schema, state_schema,
        init=initial_state, pack=pack, unpack=unpack,
        order=[ts_col] if ts_col else [],
    )


def count_window_stream(
    sdf: DataFrame,
    keys: list[str],
    value_col: str,
    n: int,
    ts_col: str = "",
    flush_timeout_s: float | None = None,
) -> DataFrame:
    """Streaming tumbling count window (reference S9, `windows.pony:106-115`):
    per key, every n messages emit (window_id, n_events, total_value) and
    reset. Carry-over state (partial count/sum) persists across micro-batches
    in the state store.

    ``flush_timeout_s`` adds the reference's idle-timeout partial flush
    (`windows.pony:483-487` timeout_interval = 5 s; on_timeout at :495-504
    emits the partial window and resets the accumulator): when the
    EVENT-TIME watermark passes ``last_event_ts + flush_timeout_s`` with a
    non-empty partial window, the partial is emitted with its current
    window_id (n_events < n identifies it as partial) and a FRESH window
    opens (window_id advances) — the reference's wall-clock timer made
    deterministic via event time, the same discipline as the ephemeral /
    late-policy operators. Requires ``ts_col`` and an upstream
    ``withWatermark``. Default None keeps the exact r11 behavior AND state
    schema (existing query checkpoints stay compatible)."""
    timed = flush_timeout_s is not None
    if timed and not ts_col:
        raise ValueError(
            "count_window_stream: flush_timeout_s needs ts_col (the idle "
            "deadline is event-time: last event ts + timeout) and an "
            "upstream withWatermark"
        )
    gap = flush_timeout_s if timed else float("inf")

    def step(key, pdf, st, wm):
        win_id, cnt, acc, last_ts = st
        rows = []
        # untimed: no event times are read, and the infinite gap never flushes
        eps = pdf[EP] if timed else [last_ts] * len(pdf)
        for ep, v in zip(eps, pdf[value_col]):
            # inline gap flush: a key with NEW data in a batch never gets its
            # timer call (Spark fires timers only for data-less keys), so an
            # event after an idle gap flushes the stale partial itself
            if cnt > 0 and ep > last_ts + gap:
                rows.append((*key, win_id, cnt, acc))
                win_id, cnt, acc = win_id + 1, 0, 0.0
            last_ts = max(last_ts, ep)
            cnt += 1
            acc += float(v)
            if cnt == n:
                rows.append((*key, win_id, cnt, acc))
                win_id, cnt, acc = win_id + 1, 0, 0.0
        # idle deadline: watermark STRICTLY past last event + timeout
        deadline = int((last_ts + gap) * 1000) + 1 if timed and cnt > 0 else None
        return rows, (win_id, cnt, acc, last_ts), deadline

    def on_timeout(key, st, wm):
        win_id, cnt, acc, last_ts = st
        if cnt == 0:  # empty window needs no timer; next data re-arms it
            return [], st, None
        # partial flush: emit and open a fresh window
        return [(*key, win_id, cnt, acc)], (win_id + 1, 0, 0.0, last_ts), None

    tail = "window_id bigint, n_events bigint, total_value double"
    if timed:
        return run_keyed(
            sdf, keys, step, key_schema(sdf, keys, tail),
            "window_id bigint, cnt bigint, acc double, last_ts double",
            init=lambda: (0, 0, 0.0, 0.0), order=[ts_col],
            event_time=ts_col, on_timeout=on_timeout,
        )
    return run_keyed(
        sdf, keys, step, key_schema(sdf, keys, tail),
        "window_id bigint, cnt bigint, acc double",
        init=lambda: (0, 0, 0.0, 0.0), pack=lambda s: s[:3],
        unpack=lambda t: (*t, 0.0), order=[ts_col] if ts_col else [],
    )
