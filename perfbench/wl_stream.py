"""stream_market_spread: the paper's Market Spread app as a live
Structured Streaming query fed over framed TCP.

Path under test: one TCP connection -> ``sources.tcp.FramedTCPReceiver``
spool -> file-stream source -> ``sources.codec.decode_frames`` ->
``Pipeline.key_by("key").to_state(...)`` (latest quote per symbol; each
order accepted or rejected) -> ``sinks.TransactionalParquetSink`` through
foreachBatch, with a checkpoint. Dedup and similarity are not loaded.

Phases, after set-up:

- warm-up: drain a small pre-received feed (not counted);
- live: an open-loop sender writes the live feed at ``RATE`` msgs/s on a
  fixed schedule for ``seconds`` s; an order's latency is the wall time its
  micro-batch's sink commit returned minus the time the order was due to
  be sent; orders due in the first ``LIVE_EXCLUDE_S`` s are checked but
  not timed;
- drain: a fixed pre-received backlog read in fixed-size micro-batches
  (one spool file of ``SPOOL_FILE_FRAMES`` frames each); capacity is a
  batch's messages over the median time from handing the query a file to
  that batch's sink commit.
"""

from __future__ import annotations

import os
import shutil
import socket
import struct
import threading
import time
from pathlib import Path

import gen
import refs
from common import median, parse_ts, percentile

RATE = 100  # live msgs/s; see README for why it sits below drain capacity
PERIOD_MS = 1000 // RATE
LIVE_EXCLUDE_S = 5.0  # the first live batches are still warming up
LIVE_FILE_FRAMES = 50  # receiver flush size in the live phase: 0.5 s of feed
SPOOL_FILE_FRAMES = 1000  # pre-received spools: one file per drain micro-batch
BACKLOG_FILES = 4
WARM_FILES = 1
DRAIN_OUT_S = 8.0  # the live backlog must be gone this long after the last send
DONE_TIMEOUT_S = 60.0


def _state_stage():
    """The keyed-state computation and its state codec, built as local
    functions so Spark pickles them by value for its Python workers."""
    quote_fmt, order_fmt, wide = gen.QUOTE_FMT, gen.ORDER_FMT, gen.WIDE_SPREAD

    def on_message(row, state):
        p = bytes(row["payload"])
        if p[0] == 0:
            _, bid, offer = struct.unpack(quote_fmt, p)
            state["bid"], state["offer"], state["has"] = bid, offer, True
            return []
        _, order_id, _qty = struct.unpack(order_fmt, p)
        if state["has"]:
            mid = (state["bid"] + state["offer"]) / 2
            rejected = (state["offer"] - state["bid"]) >= wide * mid
        else:
            rejected = True
        return [{"key": row["key"], "order_id": order_id, "rejected": bool(rejected)}]

    def initial():
        return {"bid": 0.0, "offer": 0.0, "has": False}

    def pack(s):
        return (s["bid"], s["offer"], s["has"])

    def unpack(t):
        return {"bid": t[0], "offer": t[1], "has": bool(t[2])}

    return on_message, initial, pack, unpack


def _receive(spool: Path, frames: list[bytes], file_frames: int) -> None:
    """Pre-receive ``frames`` into ``spool`` through the program's receiver."""
    from wallaroo_spark.sources.tcp import FramedTCPReceiver, send_frames

    rx = FramedTCPReceiver(str(spool), flush_every=file_frames).start()
    try:
        send_frames(frames, rx.host, rx.port)
        got = rx.wait_for(len(frames), timeout_s=30.0)
    finally:
        rx.stop()
    if got != len(frames):
        raise RuntimeError(f"receiver spooled {got} of {len(frames)} frames")


class Query:
    """One streaming query of the app plus what the benchmark records
    around it: sink commit times per batch and time inside the sink."""

    def __init__(self, spark, tracer, spool: Path, out: Path):
        from wallaroo_spark.api.pipeline import Pipeline
        from wallaroo_spark.sinks import TransactionalParquetSink
        from wallaroo_spark.sources import codec
        from wallaroo_spark.sources.tcp import framed_stream

        self.tracer = tracer
        self.commits: dict[int, float] = {}
        self.sink_ms: list[float] = []
        t0 = time.perf_counter()
        fn, initial, pack, unpack = _state_stage()
        p = (
            Pipeline.source_df(codec.decode_frames(framed_stream(spark, str(spool))), ts_col="event_ts")
            .key_by("key")
            .to_state(
                fn, initial, "key string, order_id bigint, rejected boolean",
                state_schema="bid double, offer double, has boolean",
                pack=pack, unpack=unpack,
            )
        )
        self.tsink = TransactionalParquetSink(str(out))
        self.build_s = time.perf_counter() - t0

        def sink(df, batch_id):
            with tracer.span("sinks.commit", batch=batch_id):
                s = time.perf_counter()
                self.tsink(df, batch_id)
                e = time.perf_counter()
            self.commits[batch_id] = time.time()
            self.sink_ms.append((e - s) * 1000)

        # Pipeline.to_sink_* force trigger(availableNow=True); a live query
        # needs the default trigger, so it starts from p.df.writeStream
        self.q = (
            p.df.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(out) + "_chk")
            .start()
        )

    def processed(self) -> int:
        return sum(p["numInputRows"] for p in self.q.recentProgress)

    def wait_rows(self, n: int, timeout_s: float) -> bool:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if self.q.exception() is not None:
                raise RuntimeError(f"streaming query failed: {self.q.exception()}")
            if self.processed() >= n:
                return True
            time.sleep(0.02)
        return False

    def stop(self) -> list[dict]:
        """Stop the query; return the progress of its non-empty batches,
        recorded as spans in traced runs."""
        prog = [dict(p) for p in self.q.recentProgress if p["numInputRows"] > 0]
        self.q.stop()
        for p in prog:
            start = parse_ts(p["timestamp"])
            self.tracer.add("stream.batch", start, start + p["durationMs"]["triggerExecution"] / 1000,
                            batch=p["batchId"], rows=p["numInputRows"], **p["durationMs"])
        return prog

    def committed_orders(self) -> dict[int, tuple[int, str, bool]]:
        """order_id -> (batch_id, key, rejected) as read back from the
        sink's committed files; a duplicate order raises."""
        import pyarrow.parquet as pq

        out: dict[int, tuple[int, str, bool]] = {}
        dups = 0
        for path in self.tsink.committed_paths():
            batch = int(Path(path).name.split("=")[1].split("-")[0])
            files = [f for f in os.listdir(path) if f.endswith(".parquet")]
            for f in files:
                t = pq.read_table(os.path.join(path, f)).to_pydict()
                for k, oid, rej in zip(t["key"], t["order_id"], t["rejected"]):
                    if oid in out:
                        dups += 1
                    out[oid] = (batch, k, rej)
        if dups:
            raise refs.CheckFailed(f"{dups} orders committed more than once")
        return out


def _check(feed: gen.Feed, lo: int, hi: int, got: dict) -> None:
    want = refs.market_replay(feed, lo, hi)
    refs.check_orders(want, {oid: (k, r) for oid, (_, k, r) in got.items()})


class SpoolWatch:
    """Records when each spool file is first seen (traced runs)."""

    def __init__(self, spool: Path):
        self.spool = spool
        self.seen: dict[str, float] = {}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def start(self):
        self._t.start()
        return self

    def _run(self):
        while not self._stop.is_set():
            now = time.time()
            for name in os.listdir(self.spool):
                if name.startswith("frames_") and name not in self.seen:
                    self.seen[name] = now
            time.sleep(0.01)

    def stop(self) -> None:
        self._stop.set()
        self._t.join(timeout=5)

    def lag_ms(self, due_wall) -> list[float]:
        """Per frame: first-seen time of its spool file minus its due time."""
        import pyarrow.parquet as pq

        lags = []
        for name, seen in self.seen.items():
            for fr in pq.read_table(self.spool / name).column("frame").to_pylist():
                (ev_ms,) = struct.unpack(">q", fr[4:12])
                lags.append((seen - due_wall(ev_ms)) * 1000)
        return lags


class Stream:
    """The workload object run.py drives: stage / warm_up / measure."""

    def __init__(self, env, tracer, seed: int, seconds: int, scale: float):
        """``scale`` multiplies the live rate and the size of each spool
        file (so drain batches carry that many more messages)."""
        self.env, self.tracer = env, tracer
        self.period_ms = round(PERIOD_MS / scale)
        self.live_file = round(LIVE_FILE_FRAMES * scale)
        self.spool_file = round(SPOOL_FILE_FRAMES * scale)
        self.n_live = int(seconds * 1000 / self.period_ms)
        self.n_warm = WARM_FILES * self.spool_file
        self.n_backlog = BACKLOG_FILES * self.spool_file
        # one feed, three consecutive slices: warm-up, backlog, live
        self.feed = gen.market_feed(
            seed, self.n_warm + self.n_backlog + self.n_live, self.period_ms
        )
        self.sl_warm = (0, self.n_warm)
        self.sl_backlog = (self.n_warm, self.n_warm + self.n_backlog)
        self.sl_live = (self.n_warm + self.n_backlog, len(self.feed.frames))
        self.attempted = 0
        self.failed = 0  # a failing batch stops the query and ends the run
        self.k = 0

    # -- set-up ---------------------------------------------------------------
    def stage(self) -> None:
        """Pre-receive the warm-up feed and the drain backlog through the
        receiver (one spool each). Repeated per set-up round."""
        self.k += 1
        self.dir = self.env.work / f"stream{self.k}"
        shutil.rmtree(self.dir, ignore_errors=True)
        self.dir.mkdir(parents=True)
        _receive(self.dir / "warm_spool", self.feed.frames[slice(*self.sl_warm)], self.spool_file)
        _receive(self.dir / "backlog_spool", self.feed.frames[slice(*self.sl_backlog)],
                 self.spool_file)

    def _drain(self, backlog: Path, out: Path, lo: int, hi: int) -> tuple[list[float], list[dict]]:
        """Feed the pre-received spool files to a fresh query one at a
        time, each once the previous one is committed, so every micro-batch
        holds one file. A file is handed over by one atomic rename; with
        several files per hand-off a trigger could take part of them and
        split the batch. (Handing the query all files at once with a
        per-trigger file cap would let files with equal modification times
        run out of order.) Returns each file's time from hand-off to
        commit, and the batches' progress."""
        spool = out.with_name(out.name + "_spool")
        spool.mkdir()
        q = Query(self.env.spark, self.tracer, spool, out)
        files = sorted(backlog.glob("frames_*.parquet"), key=lambda f: int(f.stem.rsplit("_", 1)[1]))
        done = 0
        per_file = []
        try:
            for f in files:
                t0 = time.time()
                f.rename(spool / f.name)
                done += self.spool_file
                if not q.wait_rows(done, DONE_TIMEOUT_S):
                    raise RuntimeError(f"drain stalled at {q.processed()} of {done} messages")
                per_file.append(max(q.commits.values()) - t0)
        finally:
            prog = q.stop()
        if done != hi - lo:
            raise RuntimeError(f"drain fed {done} of {hi - lo} messages")
        self.attempted += len(prog)
        _check(self.feed, lo, hi, q.committed_orders())
        self.attempted += 1  # the output check
        return per_file, prog

    def warm_up(self) -> None:
        self._drain(self.dir / "warm_spool", self.dir / "warm_out", *self.sl_warm)

    # -- timed phases ---------------------------------------------------------
    def measure(self) -> dict:
        with self.tracer.span("stream.live"):
            res = self._live()
        with self.tracer.span("stream.drain"):
            per_file, prog = self._drain(
                self.dir / "backlog_spool", self.dir / "drain_out", *self.sl_backlog
            )
        # the median batch, so that one slow batch (often the query's first)
        # does not set the figure
        res["throughput_per_s"] = self.spool_file / median(per_file)
        res["drain_s"] = sum(per_file)
        res["drain_batches"] = len(prog)
        res["drain_batch_ms"] = [p["durationMs"]["triggerExecution"] for p in prog]
        return res

    def decode_time(self) -> float:
        """``decode_frames`` alone over the drained backlog, as a batch job
        (run after ``measure``, which moved the backlog's spool files)."""
        from pyspark.sql import functions as F

        from wallaroo_spark.sources import codec
        from wallaroo_spark.sources.tcp import framed_batch

        t0 = time.perf_counter()
        df = codec.decode_frames(framed_batch(self.env.spark, str(self.dir / "drain_out_spool")))
        n = df.agg(F.count("*"), F.sum(F.length("payload"))).collect()[0][0]
        dt = time.perf_counter() - t0
        refs.require(n == self.n_backlog, f"decode_frames returned {n} of {self.n_backlog} rows")
        return dt

    def _live(self) -> dict:
        from wallaroo_spark.sources.tcp import FramedTCPReceiver

        spool = self.dir / "live_spool"
        spool.mkdir()
        rx = FramedTCPReceiver(str(spool), flush_every=self.live_file).start()
        watch = SpoolWatch(spool).start() if self.tracer.enabled else None
        q = Query(self.env.spark, self.tracer, spool, self.dir / "live_out")
        lo, hi = self.sl_live
        frames = self.feed.frames[lo:hi]
        due0 = int(self.feed.due_ms[lo])
        late_ms = 0.0
        # let the idle query reach its first trigger before the clock starts
        time.sleep(0.5)
        try:
            with socket.create_connection((rx.host, rx.port)) as s:
                t0 = time.time() + 0.05
                for i, fr in enumerate(frames):
                    due = t0 + i * self.period_ms / 1000
                    now = time.time()
                    if due > now:
                        time.sleep(due - now)
                    else:
                        late_ms = max(late_ms, (now - due) * 1000)
                    s.sendall(fr)
            backlog_end = 0
            if not q.wait_rows(len(frames), DRAIN_OUT_S):
                backlog_end = len(frames) - q.processed()
            if not q.wait_rows(len(frames), DONE_TIMEOUT_S):
                raise RuntimeError("live query did not catch up with the feed")
            prog = q.stop()
        finally:
            rx.stop()
            if watch is not None:
                watch.stop()
        got = q.committed_orders()
        self.attempted += len(prog)
        _check(self.feed, lo, hi, got)
        self.attempted += 1

        def due_wall(ev_ms: int) -> float:
            return t0 + (ev_ms - due0) / 1000

        lat = []
        for oid, (batch, _k, _r) in got.items():
            due = due_wall(int(self.feed.due_ms[oid]))
            if due - t0 >= LIVE_EXCLUDE_S:
                lat.append((q.commits[batch] - due) * 1000)
        res = {
            "lat_p50_ms": median(lat),
            "live_lat_p90_ms": percentile(lat, 90),
            "live_orders_timed": len(lat),
            "gen.late_ms_max": late_ms,
            "stream.backlog_end": backlog_end,
            "live_batch_ms": [p["durationMs"]["triggerExecution"] for p in prog],
            "_live_prog": prog,
            "_sink_ms": q.sink_ms,
            "_build_s": q.build_s,
        }
        if watch is not None:
            res["sources.spool_lag_ms_p50"] = median(watch.lag_ms(due_wall))
        return res
