"""User-defined ``Aggregation`` class — the reference's core UDAF contract.

Reference (`machida/lib/wallaroo/__init__.py:198-214` `_validate_aggregation`;
`lib/wallaroo/core/aggregations/aggregations.pony:24-39`): a windowed
aggregation is a class with

- ``initial_accumulator()`` — identity element for ``combine``;
- ``update(input, acc)`` — fold one input into the accumulator (mutates);
- ``combine(acc1, acc2)`` — merge two partials; MUST be associative and must
  not mutate either argument;
- ``output(key, acc)`` — produce the window's result, or ``None`` to emit
  nothing. (Pony's signature is ``output(key, window_end_ts, acc)`` —
  `aggregations.pony:38`; declare a 3-arg ``output`` to receive the window
  end, Python-API 2-arg form is the default.)

Spark mapping: this is exactly the ``Aggregator``/pandas-UDAF shape. Batch
windows run it inside ``applyInPandas`` per (key, window) group, folding
``update`` over time-ordered chunks and ``combine`` over the chunk partials —
the same partial-then-merge structure the reference's pane combine uses
(`panes_range_windows.pony:276-299`), so a contract violation (non-associative
combine, mutating combine) produces visibly wrong results instead of silently
passing. Streaming tumbling windows run it on the keyed-state runner
(``streaming.state.run_keyed``) with the pickled accumulator in the state
store and an event-time timeout flush; the batch folds run on the same
runner's batch mode.

Inputs arrive as plain dicts (one per row); for column-expressible
aggregations prefer native ``pyspark.sql.functions`` aggs (10-100× faster) —
this class is the *user-extension* surface, like the reference's Python API.
"""

from __future__ import annotations

import inspect
import pickle
from itertools import groupby
from operator import itemgetter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from wallaroo_spark.functions import epoch_seconds
from wallaroo_spark.streaming.state import EP, key_schema, run_keyed

_CHUNK_ROWS = 1024  # partial-aggregation granularity inside a window group


class Aggregation:
    """Base class for user aggregations (subclass and implement the four
    methods; ``name`` defaults to the class name). Executors do not import
    wallaroo_spark: the windowed operators ship this module by value, so a
    subclass must be defined inside a function (or in a module the
    executors can import) to travel with it."""

    def name(self) -> str:
        return type(self).__name__

    def initial_accumulator(self):
        raise NotImplementedError

    def update(self, data, acc) -> None:
        raise NotImplementedError

    def combine(self, acc1, acc2):
        raise NotImplementedError

    def output(self, key, acc):
        raise NotImplementedError


def validate_aggregation(agg) -> None:
    """Parity with the reference's `_validate_aggregation`
    (`machida/lib/wallaroo/__init__.py:198-214`), plus arity checks it TODOs."""
    for meth, arity in (
        ("name", 0),
        ("initial_accumulator", 0),
        ("update", 2),
        ("combine", 2),
        ("output", (2, 3)),
    ):
        fn = getattr(agg, meth, None)
        if fn is None or not callable(fn):
            raise TypeError(f"Aggregation must have method {meth!r}")
        n = len(
            [
                p
                for p in inspect.signature(fn).parameters.values()
                if p.kind
                in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
            ]
        )
        ok = n in arity if isinstance(arity, tuple) else n == arity
        if not ok:
            raise TypeError(
                f"Aggregation.{meth} must take {arity} parameter(s), has {n}"
            )


def _output_arity(agg) -> int:
    params = [
        p
        for p in inspect.signature(agg.output).parameters.values()
        if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
    ]
    return len(params)


def _fold_window(agg, records):
    """update over time-ordered chunks, then combine partials in order —
    the pane-combine execution shape; returns the final accumulator."""
    partials = []
    for i in range(0, len(records), _CHUNK_ROWS):
        acc = agg.initial_accumulator()
        for rec in records[i : i + _CHUNK_ROWS]:
            agg.update(rec, acc)
        partials.append(acc)
    acc = agg.initial_accumulator()
    for p in partials:
        acc = agg.combine(acc, p)
    return acc


def _emit(agg, key, window_end, acc, arity):
    if arity == 3:
        return agg.output(key, window_end, acc)
    return agg.output(key, acc)


def _schemas(df: DataFrame, keys: list[str], out_schema: str) -> tuple[StructType, list[str]]:
    """(full output schema: keys, window_start/window_end, out_schema fields;
    the out_schema field names that dict outputs map by)."""
    full = key_schema(df, keys, "window_start bigint, window_end bigint, " + out_schema)
    return full, full.fieldNames()[len(keys) + 2 :]


def windowed_agg_batch(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    agg: Aggregation,
    out_schema: str,
    size_s: int,
    slide_s: int | None = None,
    n_salts: int = 1,
) -> DataFrame:
    """Batch tumbling/sliding windows over a user Aggregation.

    Window assignment is native Column math (one explode for sliding), so
    only the per-window fold runs in Python; the groupBy shuffles once on
    (keys, window_start) — the same partitioning a native window agg uses.
    Output: keys, window_start/window_end (epoch seconds), out_schema fields.
    ``output`` returning None suppresses that window.

    ``n_salts > 1`` enables the salted two-phase fold for hot keys: each
    window is cut into ``n_salts`` time-contiguous PANES (salt = pane index,
    the reference's pane shape — `panes_range_windows.pony:276-299`), stage 1
    folds each (key, pane) partial in parallel, stage 2 combines pane
    partials per key in pane order. Because panes are time-contiguous and
    ``combine`` is contractually associative, the result is identical to the
    sequential fold — but one hot key's window now runs as ``n_salts``
    CPU-bound tasks instead of one. Default 1 keeps the single-stage path
    (right when keys >> cores; salting adds a shuffle + pickling).
    """
    validate_aggregation(agg)
    slide = slide_s or size_s
    n_wins = size_s // slide if size_s % slide == 0 else None
    if n_wins is None:
        raise ValueError("window size must be a multiple of slide")
    ep = epoch_seconds(ts_col)
    base = F.floor(ep / slide).cast("long") * slide
    starts = F.array(*[base - F.lit(i * slide) for i in range(n_wins)])
    assigned = df.withColumn(
        "_ws", F.explode(F.filter(starts, lambda s: ep < s + size_s))
    )

    schema, fields = _schemas(df, keys, out_schema)
    arity = _output_arity(agg)
    single_key = len(keys) == 1

    if n_salts > 1:
        return _windowed_agg_batch_salted(
            assigned, keys, ts_col, agg, size_s, n_salts,
            schema, fields, arity, single_key,
        )

    # Group by KEY ONLY and walk that key's windows inside one pandas call:
    # grouping by (keys, window) would mean one Arrow/JVM round-trip per
    # window — with ~1 row per window that is pure per-group overhead
    # (measured 60x slower at sf0.1). Per-key group sizes stay bounded by
    # rows_per_key * windows_per_row, the same memory bound the reference's
    # per-key pane state had.
    def step(key_tuple, pdf, st, wm):
        key = key_tuple[0] if single_key else tuple(key_tuple)
        rows = []
        for ws, buf in _per_window(pdf, pdf.drop(columns=["_ws"]).to_dict("records")):
            out = _emit(agg, key, ws + size_s, _fold_window(agg, buf), arity)
            if out is not None:
                rows.append((*key_tuple, ws, ws + size_s, *_row_vals(out, fields)))
        return rows, None, None

    # explicit repartition on the grouping keys: AQE coalesces by BYTES, and
    # this stage is CPU-bound Python — a few MB of rows can be hours of
    # kernel time, so keep the key-hash spread at full parallelism (the
    # explicit numbered repartition is exempt from AQE coalescing)
    n_parts = assigned.sparkSession.sparkContext.defaultParallelism
    return run_keyed(
        assigned.repartition(n_parts, *keys), keys, step, schema, order=["_ws", ts_col]
    )


def _per_window(pdf, values):
    """(window_start, [values]) per run of equal ``_ws`` in a frame sorted by
    it: one sequential pass, since a pandas groupby per window costs ~1ms of
    framework overhead per group, which at ~1 row/window dominates."""
    for ws, grp in groupby(zip(pdf["_ws"].to_numpy(), values), key=itemgetter(0)):
        yield int(ws), [v for _, v in grp]


def _windowed_agg_batch_salted(
    assigned: DataFrame,
    keys: list[str],
    ts_col: str,
    agg: Aggregation,
    size_s: int,
    n_salts: int,
    schema: StructType,
    fields: list[str],
    arity: int,
    single_key: bool,
):
    """Salted two-phase fold (see windowed_agg_batch): stage 1 partial-folds
    each time-contiguous PANE of a window per (key, pane) in parallel, stage
    2 combines a window's pane partials in pane order. Time-contiguous panes
    + associative combine => identical result to the sequential fold, with a
    hot key's heavy update work spread over n_salts tasks."""
    pane_len = size_s / n_salts
    assigned = assigned.withColumn(
        "_salt",
        F.least(
            F.lit(n_salts - 1),
            F.floor((epoch_seconds(ts_col) - F.col("_ws")) / F.lit(pane_len)),
        ).cast("int"),
    )

    def fold_panes(key_tuple, pdf, st, wm):
        recs = pdf.drop(columns=["_ws", "_salt"]).to_dict("records")
        rows = [
            (*key_tuple, ws, pickle.dumps(_fold_window(agg, buf)))
            for ws, buf in _per_window(pdf, recs)
        ]
        return rows, None, None

    def combine_panes(key_tuple, pdf, st, wm):
        key = key_tuple[0] if single_key else tuple(key_tuple)
        rows = []
        for ws, panes in _per_window(pdf, pdf["_acc"]):
            acc = agg.initial_accumulator()
            for p in panes:
                acc = agg.combine(acc, pickle.loads(p))
            out = _emit(agg, key, ws + size_s, acc, arity)
            if out is not None:
                rows.append((*key_tuple, ws, ws + size_s, *_row_vals(out, fields)))
        return rows, None, None

    n_parts = assigned.sparkSession.sparkContext.defaultParallelism
    partials = run_keyed(
        assigned.repartition(n_parts, *keys, "_salt"), [*keys, "_salt"], fold_panes,
        key_schema(assigned, keys, "_salt int, _ws bigint, _acc binary"),
        order=["_ws", ts_col],
    )
    # stage 2 moves only O(keys x windows x salts) pickled partials — the
    # per-key serial section is the cheap combine, not the row fold
    return run_keyed(
        partials.repartition(n_parts, *keys), keys, combine_panes, schema,
        order=["_ws", "_salt"],
    )


def _row_vals(out, fields: list[str]) -> tuple:
    # dict outputs are mapped by out_schema field NAME, not insertion order:
    # a dict built in a different order would otherwise silently write values
    # into the wrong columns (types may even coincide, so no error surfaces)
    if isinstance(out, dict):
        if set(out) != set(fields):
            raise KeyError(
                f"Aggregation.output() dict keys {sorted(out)} do not match "
                f"out_schema fields {sorted(fields)}"
            )
        return tuple(out[f] for f in fields)
    if isinstance(out, (tuple, list)):
        return tuple(out)
    return (out,)


def windowed_agg_stream(
    sdf: DataFrame,
    keys: list[str],
    ts_col: str,
    agg: Aggregation,
    out_schema: str,
    size_s: int,
    delay_s: int = 0,
    slide_s: int | None = None,
) -> DataFrame:
    """Streaming tumbling/sliding windows over a user Aggregation.

    State per key: running max event-ts, the per-key emitted watermark, and
    {window_start: pickled acc}. A window emits when the per-key watermark
    (max_ts - delay) passes its end; an event-time timeout flushes only the
    windows whose end the GLOBAL watermark has passed, keeping the rest in
    state with a re-registered timeout — the reference's step-timeout flush
    (`runner.pony:465-501`). ``emit_wm`` records the highest watermark any
    emission used: an event that is late for this key while still ahead of
    the global watermark (so not dropped by Spark) must NOT re-create an
    already-emitted window with a fresh accumulator — that would emit a
    second, partial row for the same (key, window_start). Such events are
    dropped (the drop late-data policy); route them elsewhere upstream if
    another policy is wanted. Sliding: each event updates its
    size_s/slide_s overlapping windows (bounded per-key state:
    windows-in-flight x acc). Requires ``withWatermark`` upstream.
    """
    validate_aggregation(agg)
    slide = slide_s or size_s
    if size_s % slide != 0:
        raise ValueError("window size must be a multiple of slide")
    n_wins = size_s // slide
    schema, fields = _schemas(sdf, keys, out_schema)
    arity = _output_arity(agg)
    single_key = len(keys) == 1

    def emit_ripe(key, wins, wm):
        """Pop and emit every window whose end the watermark has passed."""
        rows = []
        k = key[0] if single_key else tuple(key)
        for ws in [w for w in sorted(wins) if w + size_s <= wm]:
            out = _emit(agg, k, ws + size_s, pickle.loads(wins.pop(ws)), arity)
            if out is not None:
                rows.append((*key, int(ws), int(ws) + size_s, *_row_vals(out, fields)))
        return rows

    def step(key, pdf, st, wm_g):
        max_ts, emit_wm, wins = st
        for ep, rec in zip(pdf[EP], pdf.drop(columns=EP).to_dict("records")):
            max_ts = max(max_ts, ep)
            base = int(ep // slide) * slide
            for i in range(n_wins):
                ws = base - i * slide
                if ws + size_s <= emit_wm:
                    continue  # window already emitted — drop, don't re-open
                acc = pickle.loads(wins[ws]) if ws in wins else agg.initial_accumulator()
                agg.update(rec, acc)
                wins[ws] = pickle.dumps(acc)
        wm = max_ts - delay_s
        rows = emit_ripe(key, wins, wm)
        # always register a timeout: with open windows it drives the idle
        # flush; with none it clears the (max_ts, emit_wm) tombstone once
        # the global watermark passes — events that could re-open an
        # emitted window are globally late by then and Spark drops them,
        # so removing the guard state is safe and the per-key state stays
        # bounded even for keys that go quiet forever
        return rows, (max_ts, max(emit_wm, wm), wins), int((max_ts + delay_s + size_s) * 1000)

    def on_timeout(key, st, wm_g):
        max_ts, emit_wm, wins = st
        # flush only watermark-passed windows; an idle gap must not force
        # out partials that a later event could legitimately still update
        rows = emit_ripe(key, wins, wm_g)
        if not wins:
            return rows, None, None
        return rows, (max_ts, max(emit_wm, wm_g), wins), int((min(wins) + size_s) * 1000)

    return run_keyed(
        sdf, keys, step, schema, "max_ts double, emit_wm double, wins map<bigint, binary>",
        init=lambda: (float("-inf"), float("-inf"), {}),
        unpack=lambda t: (t[0], t[1], dict(t[2] or {})),
        order=[ts_col], event_time=ts_col, on_timeout=on_timeout,
    )
