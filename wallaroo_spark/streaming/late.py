"""Streaming late-data policies (S8) — keyed-state implementation.

Same semantics as the batch reference (`operators/late_data.py`): per-key
watermark = running max(event_ts) − delay over arrival order; a row whose
tumbling window has closed under that watermark is late and is dropped /
fired as a singleton / placed in the oldest open window. Windows emit when
the watermark passes their end (plus any still-open windows on the final
flush via event-time timeout).

State per key: open windows {win_start: (count, sum)} + the running max ts.
Emission: closed windows stream out per micro-batch (update mode); a drained
stream's closed-window set equals the batch operator's closed output — the
parity the tests assert. Runs as one per-key step on the keyed-state runner
(``state.run_keyed``), replaying each micro-batch in arrival order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wallaroo_spark.operators.late_data import DROP, FIRE_PER_MESSAGE, PLACE_IN_OLDEST_WINDOW
from wallaroo_spark.streaming.state import EP, key_schema, run_keyed


def windowed_late_policy_stream(
    sdf: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    arrival_col: str,
    size_s: int,
    delay_s: int,
    policy: str,
) -> DataFrame:
    tail = (
        "window_start bigint, window_end bigint, n_events bigint,"
        " total_value double, is_late_fire boolean"
    )

    def step(key, pdf, st, wm_g):
        max_ts, wins = st
        rows = []
        for ep, v in zip(pdf[EP], pdf[value_col]):
            max_ts = max(max_ts, ep)
            wm = max_ts - delay_s
            own = int(ep // size_s) * size_s
            late = own + size_s <= wm
            if late:
                if policy == DROP:
                    pass
                elif policy == FIRE_PER_MESSAGE:
                    rows.append((*key, int(ep), int(ep), 1, float(v), True))
                elif policy == PLACE_IN_OLDEST_WINDOW:
                    oldest = int(wm // size_s) * size_s
                    c = wins.setdefault(oldest, [0, 0.0])
                    c[0] += 1
                    c[1] += float(v)
            else:
                c = wins.setdefault(own, [0, 0.0])
                c[0] += 1
                c[1] += float(v)
            # close windows the watermark has passed
            for w in [w for w in wins if w + size_s <= wm]:
                cnt, acc = wins.pop(w)
                rows.append((*key, w, w + size_s, int(cnt), acc, False))
        deadline = int((max_ts + delay_s + size_s) * 1000) if wins else None
        return rows, (max_ts, wins), deadline

    def on_timeout(key, st, wm_g):  # final flush of every still-open window
        _, wins = st
        rows = [(*key, w, w + size_s, c, acc, False) for w, (c, acc) in sorted(wins.items())]
        return rows, None, None

    # counts must be stored as FLOATS: a Python int inside an array<double>
    # state cell silently round-trips to None (found by the multi-batch timer
    # test; drained single-batch runs never restore state and can't see it)
    return run_keyed(
        sdf, keys, step, key_schema(sdf, keys, tail),
        "max_ts double, wins map<bigint, array<double>>",
        init=lambda: (float("-inf"), {}),
        pack=lambda s: (s[0], {w: (float(c), float(a)) for w, (c, a) in s[1].items()}),
        unpack=lambda t: (t[0], {int(w): [int(c), float(a)] for w, (c, a) in (t[1] or {}).items()}),
        order=[arrival_col], event_time=ts_col, on_timeout=on_timeout,
    )
