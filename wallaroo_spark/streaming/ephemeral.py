"""Ephemeral windows — exact reference semantics (S11).

Reference (`application.pony:57-60`; `windows.pony:81-104`;
`ephemeral_window.pony:65-166`): a one-shot per-key window

- opens at the key's first message (window start = first event_ts);
- triggers (emits) when watermark >= start + trigger_range;
- keeps accepting late messages until start + trigger_range +
  post_trigger_range (emitting per late policy);
- then the key's state is DELETED; a later message opens a fresh window.

Native ``session_window`` approximates this (gap-based, merges sessions);
this module implements the exact one-shot contract as one per-key step on
the keyed-state runner (``state.run_keyed``). Streaming: event-time timers
replace the reference's step timeout flush (`runner.pony:465-501`). Batch:
the same step over each key's sorted history, emitting at simulated
watermark = max event_ts seen (arrival order), then an end-of-input flush of
the open window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wallaroo_spark.streaming.state import EP, key_schema, run_keyed


def _check_policy(late_policy: str | None) -> None:
    # Reference: LateDataPolicy.place_in_oldest_window() is Fail() for
    # ephemeral windows (`ephemeral_window.pony:160-162`) — there is no
    # "oldest window" for a one-shot key. Same hard error here.
    if late_policy not in (None, "drop", "fire_per_message"):
        raise ValueError(
            f"ephemeral windows support late_policy None|'drop'|'fire_per_message', "
            f"got {late_policy!r}"
        )


def _ephemeral(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    trigger_range_s: float,
    post_trigger_range_s: float,
    late_policy: str | None,
    state_schema: str | None,
) -> DataFrame:
    _check_policy(late_policy)
    tail = "window_start double, n_events bigint, total_value double, closed boolean"
    if late_policy is not None:
        tail += ", is_late_fire boolean"

    def deadline_ms(start, triggered):
        if late_policy is None:
            return int((start + trigger_range_s + post_trigger_range_s) * 1000)
        # next event-time deadline: the trigger point while untriggered
        # (wm must pass it STRICTLY, hence +1ms), else the remove point
        d = start + trigger_range_s
        if triggered:
            d += post_trigger_range_s
        return int(d * 1000) + 1

    def step(key, pdf, st, wm):
        start, cnt, acc, triggered = st
        rows = []
        for ep, v in zip(pdf[EP], pdf[value_col]):
            if late_policy is None:
                if start is not None and ep > start + trigger_range_s + post_trigger_range_s:
                    rows.append((*key, start, cnt, acc, True))  # close + delete state
                    start = None
                if start is None:
                    start, cnt, acc = ep, 0, 0.0
                cnt += 1
                acc += float(v)
            else:
                if start is None:
                    start, cnt, acc, triggered = ep, 0, 0.0, False
                if not triggered:
                    cnt += 1  # update-then-trigger: the triggering row counts
                    acc += float(v)
                    if ep > start + trigger_range_s:
                        rows.append((*key, start, cnt, acc, True, False))
                        triggered = True
                elif late_policy == "fire_per_message":
                    rows.append((*key, ep, 1, float(v), True, True))
                if triggered and ep >= start + trigger_range_s + post_trigger_range_s:
                    start = None  # watermark reached remove_point: delete state
        if start is None:
            return rows, None, None
        return rows, (start, cnt, acc, triggered), deadline_ms(start, triggered)

    def on_timeout(key, st, wm):
        start, cnt, acc, triggered = st
        if late_policy is None:
            return [(*key, start, cnt, acc, True)], None, None
        rows = []
        if not triggered and wm > start + trigger_range_s:
            rows.append((*key, start, cnt, acc, True, False))
            triggered = True
        if triggered and wm >= start + trigger_range_s + post_trigger_range_s:
            return rows, None, None  # remove_point passed: silent state deletion
        return rows, (start, cnt, acc, triggered), deadline_ms(start, triggered)

    def flush(key, st):  # batch end of input: the still-open window, unclosed
        if st is None or st[3]:
            return []
        row = (*key, *st[:3], False)
        return [row if late_policy is None else (*row, False)]

    return run_keyed(
        df, keys, step, key_schema(df, keys, tail), state_schema,
        init=lambda: (None, 0, 0.0, False), order=[ts_col], event_time=ts_col,
        on_timeout=on_timeout, flush=flush,
    )


def ephemeral_windows_batch(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    trigger_range_s: float,
    post_trigger_range_s: float,
    late_policy: str | None = None,
) -> DataFrame:
    """Batch-mode exact ephemeral windows over arrival order = event order.

    ``late_policy=None`` (default, our extension): every row before the
    post-trigger deadline is accepted into the window; rows after it open a
    fresh one; emits (window_start epoch-secs, n_events, total_value,
    closed), a final unclosed window with closed=false.

    ``late_policy='drop'|'fire_per_message'`` is the reference-exact S8xS11
    composition (`ephemeral_window.pony:104-166`): a not-yet-triggered
    window UPDATES first, then triggers when the key's watermark passes
    start + trigger_range (so the triggering row is included); after the
    trigger each row gets the policy — dropped, or emitted as a singleton
    at its own event_ts with is_late_fire=true — and once the watermark
    reaches start + trigger + post the key's state is deleted (the next row
    opens a fresh window). Adds an ``is_late_fire`` column.
    """
    return _ephemeral(
        df, keys, ts_col, value_col, trigger_range_s, post_trigger_range_s,
        late_policy, None,
    )


def ephemeral_windows_stream(
    sdf: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    trigger_range_s: float,
    post_trigger_range_s: float,
    late_policy: str | None = None,
) -> DataFrame:
    """Streaming exact ephemeral windows with event-time timers.

    Requires ``withWatermark(ts_col, ...)`` upstream. The window closes via
    GroupState timeout when the watermark passes the deadline — exactly the
    reference's idle-flush, minus its actor races. ``late_policy`` composes
    the S8 policies with the one-shot window (see ephemeral_windows_batch;
    same semantics, same extra is_late_fire column)."""
    return _ephemeral(
        sdf, keys, ts_col, value_col, trigger_range_s, post_trigger_range_s,
        late_policy, "start double, cnt bigint, acc double, triggered boolean",
    )
