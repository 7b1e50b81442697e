"""Live framed-TCP end-to-end: real sockets on both edges.

Mirrors the reference's integration harness (`testing/tools/integration/`):
a giles-sender-style feeder streams length-prefixed frames over TCP into the
engine's receiver spool, the pipeline (decode -> key_by -> tumbling windows
collecting per-key sequences) runs as a streaming query, and a framed TCP
sink sends results to a collector. Validation is the window_detector
invariant set (`testing/correctness/apps/window_detector/_validate.py:30-60`):
per-window ordering, and per-key gap-freedom of the flattened sequences.
"""

import datetime as dt
import itertools
import json
import shutil
import struct
import tempfile

import pytest
from pyspark.sql import functions as F

from wallaroo_spark.sources import codec
from wallaroo_spark.sources.tcp import (
    FrameCollector,
    FramedTCPReceiver,
    framed_batch,
    framed_stream,
    send_framed_file,
    send_frames,
    tcp_frame_sink,
)
from wallaroo_spark.sources.kafka_wire import KafkaWireReceiver, MiniKafkaBroker
from wallaroo_spark.sources.kinesis import KinesisShardReceiver, MockKinesisStream
from wallaroo_spark.sources.rabbitmq import AMQPQueueReceiver, MockAMQPBroker
from wallaroo_spark.sources.redis import MiniRedis, RedisSubscriberReceiver
from wallaroo_spark.sources.udp import DatagramCollector, UDPDatagramReceiver

T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
N_PER_KEY = 100
KEYS = ["key_0", "key_1", "key_2", "key_3"]


def _make_frames():
    """window_detector feed: per key, the natural sequence 1..N, one event
    per second, interleaved across keys (arrival order != key order)."""
    frames = []
    for i in range(N_PER_KEY):
        for k in KEYS:
            ts_ms = int((T0 + dt.timedelta(seconds=i)).timestamp() * 1000)
            payload = struct.pack(">q", i + 1)
            frames.append(codec.encode_frame(ts_ms, k.encode(), payload))
    return frames


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="ws_tcp_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_framed_file_replay_roundtrip(spark, tmpdir):
    """giles-sender file replay: framed file -> socket -> spool -> decode
    reproduces the original messages exactly."""
    frames = _make_frames()
    framed_file = tmpdir + "/feed.msg"
    with open(framed_file, "wb") as f:
        for fr in frames:
            f.write(fr)

    rx = FramedTCPReceiver(tmpdir + "/spool").start()
    try:
        sent = send_framed_file(framed_file, rx.host, rx.port)
        assert sent == len(frames)
        assert rx.wait_for(len(frames)) == len(frames)
    finally:
        rx.stop()

    decoded = codec.decode_frames(framed_batch(spark, tmpdir + "/spool"))
    rows = decoded.collect()
    assert len(rows) == len(frames)
    got = {(r.key, r.event_ts, bytes(r.payload)) for r in rows}
    want = {
        (k, (T0 + dt.timedelta(seconds=i)).replace(tzinfo=None), struct.pack(">q", i + 1))
        for i in range(N_PER_KEY)
        for k in KEYS
    }
    assert got == want


def test_tcp_to_tcp_windowed_pipeline_invariants(spark, tmpdir):
    """Socket in -> windows -> socket out, with window_detector validation."""
    frames = _make_frames()
    rx = FramedTCPReceiver(tmpdir + "/spool", flush_every=64).start()
    collector = FrameCollector().start()
    try:
        # feed over two connections (the reference runs multiple senders)
        half = len(frames) // 2
        send_frames(frames[:half], rx.host, rx.port)
        send_frames(frames[half:], rx.host, rx.port)
        assert rx.wait_for(len(frames)) == len(frames)

        decoded = codec.decode_frames(framed_stream(spark, tmpdir + "/spool"))
        events = decoded.select(
            "event_ts",
            "key",
            F.expr("cast(conv(hex(payload), 16, 10) as bigint)").alias("v"),
        )
        windowed = (
            events.withWatermark("event_ts", "0 seconds")
            .groupBy("key", F.window("event_ts", "30 seconds").alias("w"))
            .agg(F.sort_array(F.collect_list("v")).alias("values"))
            .select(
                F.col("w.end").alias("event_ts"),
                "key",
                F.encode(
                    F.to_json(F.struct("key", F.col("w.start").cast("long").alias("ts"), "values")),
                    "utf-8",
                ).alias("payload"),
            )
        )
        out_frames = codec.encode_frames(windowed)
        q = (
            out_frames.writeStream.foreachBatch(tcp_frame_sink(collector.host, collector.port))
            .outputMode("append")
            .option("checkpointLocation", tmpdir + "/chk")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        # append mode emits watermark-closed windows: 3 full windows per key
        # (the 90s..99s tail window stays open in state)
        collector.wait_for(len(KEYS) * 3)
    finally:
        rx.stop()
        collector.stop()

    # ---- window_detector-style validation (_validate.py:30-60) ----
    windows: dict[str, dict[int, list[int]]] = {}
    for fr in collector.frames:
        (total,) = struct.unpack(">I", fr[:4])
        _, klen = struct.unpack(">qI", fr[4:16])
        payload = fr[16 + klen : 4 + total]
        obj = json.loads(payload.decode())
        windows.setdefault(obj["key"], {}).setdefault(obj["ts"], []).extend(obj["values"])

    assert set(windows) == set(KEYS)
    for k in KEYS:
        sequence = []
        for w_key in sorted(windows[k]):
            win = windows[k][w_key]
            # in-window ordering
            assert win == sorted(win), f"out of order for {k} window {w_key}: {win}"
            sequence.extend(win)
        # tumbling: no duplicates across windows
        assert len(sequence) == len(set(sequence)), f"duplicates for {k}"
        # gap-freedom: flattened = contiguous prefix of the natural sequence
        assert sequence == list(range(1, len(sequence) + 1)), f"gap for {k}"
        # closed windows cover everything except the open tail window
        assert len(sequence) >= N_PER_KEY - 30, f"lost data for {k}"


def test_receiver_idle_flush_on_quiet_connection(tmpdir):
    """ADVICE r2: a long-lived connection that goes quiet with fewer than
    flush_every buffered frames must still land them in the spool via the
    time-based idle flush — otherwise streaming consumers stall until the
    connection closes."""
    import socket
    import time

    rcv = FramedTCPReceiver(tmpdir + "/spool", flush_every=10_000,
                            idle_flush_s=0.1).start()
    try:
        frames = _make_frames()[:3]
        with socket.create_connection((rcv.host, rcv.port)) as s:
            for f in frames:
                s.sendall(f)
            # connection stays OPEN and quiet; idle flush must fire
            got = rcv.wait_for(3, timeout_s=5.0)
            assert got == 3
    finally:
        rcv.stop()


def test_ping_pong_closed_tcp_circle(spark, tmpdir):
    """Port of the reference's ping_pong app
    (`testing/correctness/apps/ping_pong/ping_pong.pony`): two pipelines
    connected sink-to-source in a CLOSED TCP circle — Ping increments a
    byte and sends it to Pong's source, Pong increments and sends it back.
    A single seeded frame must keep circulating: the observed payloads form
    the strictly increasing chain 0,1,2,... split alternately between the
    two receivers, proving live sink->source composition (frames cross real
    sockets every hop, exactly once)."""
    import struct as _struct

    rx_a = FramedTCPReceiver(tmpdir + "/spool_a", flush_every=1).start()
    rx_b = FramedTCPReceiver(tmpdir + "/spool_b", flush_every=1).start()

    bump = (
        F.concat(
            F.lit(_struct.pack(">I", 1)),
            F.expr(
                "unhex(lpad(hex(pmod(cast(conv(hex(substring(frame, 5, 1)), 16, 10)"
                " as int) + 1, 256)), 2, '0'))"
            ),
        ).alias("frame")
    )

    def hop(spool_in, host, port, chk):
        return (
            framed_stream(spark, spool_in)
            .select(bump)
            .writeStream.foreachBatch(tcp_frame_sink(host, port))
            .outputMode("append")
            .option("checkpointLocation", chk)
            .trigger(processingTime="250 milliseconds")
            .start()
        )

    q_ping = q_pong = None
    try:
        q_ping = hop(tmpdir + "/spool_a", rx_b.host, rx_b.port, tmpdir + "/chk_ping")
        q_pong = hop(tmpdir + "/spool_b", rx_a.host, rx_a.port, tmpdir + "/chk_pong")

        # seed one frame (payload byte 0) into Ping's source
        send_frames([_struct.pack(">I", 1) + b"\x00"], rx_a.host, rx_a.port)
        hops = 6
        deadline = 120
        import time as _time

        t0 = _time.monotonic()
        while (
            rx_a.frames_received + rx_b.frames_received < hops + 1
            and _time.monotonic() - t0 < deadline
        ):
            _time.sleep(0.2)
    finally:
        for q in (q_ping, q_pong):
            if q is not None:
                q.stop()
        rx_a.stop()
        rx_b.stop()

    a_vals = sorted(
        r.v
        for r in framed_batch(spark, tmpdir + "/spool_a")
        .select(F.expr("cast(conv(hex(substring(frame, 5, 1)), 16, 10) as int)").alias("v"))
        .collect()
    )
    b_vals = sorted(
        r.v
        for r in framed_batch(spark, tmpdir + "/spool_b")
        .select(F.expr("cast(conv(hex(substring(frame, 5, 1)), 16, 10) as int)").alias("v"))
        .collect()
    )
    total = len(a_vals) + len(b_vals)
    assert total >= hops + 1, (a_vals, b_vals)
    # the circle increments by one per hop: evens land on A (incl. the
    # seed 0), odds on B — a strict alternating chain with no loss/dup
    assert a_vals == list(range(0, 2 * len(a_vals), 2)), a_vals
    assert b_vals == list(range(1, 2 * len(b_vals), 2)), b_vals


def test_decoder_filter_drops_malformed_frames(spark):
    """Port of the reference's decoder_filter app semantics: frames the
    decoder can't parse (truncated, inconsistent lengths, bad utf-8 keys)
    are FILTERED, not fatal — the live-edge contract when peers send
    garbage or keepalives."""
    good = [
        codec.encode_frame(1000 * (i + 1), f"k{i}".encode(), struct.pack(">q", i))
        for i in range(5)
    ]
    bad = [
        b"\x00\x01",                                 # truncated header
        struct.pack(">I", 100) + b"\x00" * 12,       # total past the buffer
        struct.pack(">IqI", 20, 0, 99) + b"\x00" * 8,  # key length past body
        struct.pack(">IqI", 14, 0, 2) + b"\xff\xfe",   # invalid utf-8 key
        struct.pack(">IqI", 20, 0, 0xFFFFFFFF) + b"\x00" * 8,  # key length u32 max
        struct.pack(">IqI", 0xFFFFFFFF, 0, 1) + b"a" * 8,      # total length u32 max
        codec.encode_frame(1 << 62, b"k", b"x"),     # event time past timestamp range
    ]
    frames = [f for pair in itertools.zip_longest(good, bad + [b"\x00"])
              for f in pair if f is not None]
    df = spark.createDataFrame([(bytearray(f),) for f in frames], "frame binary")

    out = codec.decode_frames(df, drop_malformed=True).collect()
    assert sorted(r.key for r in out) == [f"k{i}" for i in range(5)]

    import pytest as _pytest

    with _pytest.raises(Exception):
        codec.decode_frames(df).collect()  # strict mode still surfaces it


def _receiver(kind, spool, stack):
    """A ``kind`` receiver on ``spool``, not started; the mock server it
    needs is started and stopped when ``stack`` closes."""
    if kind == "tcp":
        rx = FramedTCPReceiver(spool)
    elif kind == "udp":
        rx = UDPDatagramReceiver(spool)
    elif kind == "redis":
        srv = MiniRedis().start()
        stack.callback(srv.stop)
        rx = RedisSubscriberReceiver(spool, srv.host, srv.port, "ch")
    elif kind == "rabbitmq":
        rx = AMQPQueueReceiver(spool, MockAMQPBroker(), "q")
    elif kind == "kinesis":
        rx = KinesisShardReceiver(spool, MockKinesisStream(shards=1), "shardId-000000000000")
    else:
        broker = MiniKafkaBroker().start()
        stack.callback(broker.stop)
        broker.create_topic("t", partitions=1)
        rx = KafkaWireReceiver(spool, broker.host, broker.port, "t", 0)
    return rx


def _started_receiver(kind, spool, stack):
    """A started ``kind`` receiver on ``spool`` (with the mock server it
    needs), stopped when ``stack`` closes. Nothing is sent to it: the test
    calls its ``_flush`` directly."""
    rx = _receiver(kind, spool, stack).start()
    stack.callback(rx.stop)
    return rx


# receiver kind -> (spool file prefix, payload column, payloads -> _flush input)
SPOOL_RECEIVERS = {
    "tcp": ("frames", "frame", list),
    "udp": ("datagrams", "datagram", list),
    "redis": ("messages", "message", list),
    "rabbitmq": ("messages", "message", list),
    "kinesis": ("records", "data", lambda ps: [
        {"Data": p, "PartitionKey": "k", "SequenceNumber": i} for i, p in enumerate(ps)]),
    "kafka_wire": ("records", "value", lambda ps: [(i, b"k", p, 0) for i, p in enumerate(ps)]),
}


@pytest.mark.parametrize("kind", list(SPOOL_RECEIVERS))
def test_spool_files_read_in_flush_order(spark, tmpdir, kind):
    """Spark's file-stream source orders new files by ms modification
    time. Quick flushes land within one ms tick, so each spool file gets a
    strictly increasing mtime in index order; a reader taking the spool one
    file per trigger then returns the payloads in send order. Every
    receiver publishes through the same spool writer."""
    import contextlib
    import os

    prefix, col, batch = SPOOL_RECEIVERS[kind]
    n_files, per_file = 12, 3
    frames = [struct.pack(">I", 4) + struct.pack(">I", i)
              for i in range(n_files * per_file)]
    with contextlib.ExitStack() as stack:
        rx = _started_receiver(kind, tmpdir + "/spool", stack)
        for f in range(n_files):
            rx._flush(batch(frames[f * per_file:(f + 1) * per_file]))

    names = sorted(os.listdir(tmpdir + "/spool"))
    assert len(names) == n_files and all(n.startswith(prefix + "_") for n in names)
    # zero-padded index: name order is index order
    idx = [int(n.rsplit("_", 1)[1].split(".")[0]) for n in names]
    assert idx == list(range(n_files))
    mtimes = [os.stat(tmpdir + "/spool/" + n).st_mtime_ns // 1_000_000 for n in names]
    assert all(b > a for a, b in zip(mtimes, mtimes[1:])), mtimes

    got = []

    def collect(batch_df, batch_id):
        got.extend(bytes(r[0]) for r in batch_df.collect())

    q = (
        spark.readStream.schema(f"{col} binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(tmpdir + "/spool")
        .writeStream.foreachBatch(collect)
        .option("checkpointLocation", tmpdir + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert got == frames

    # concurrent connections flush from their own threads: index and mtime
    # are handed out together under the writer's lock
    import sys
    import threading

    old_interval = sys.getswitchinterval()
    with contextlib.ExitStack() as stack:
        rx = _started_receiver(kind, tmpdir + "/spool2", stack)
        sys.setswitchinterval(1e-5)
        stack.callback(sys.setswitchinterval, old_interval)
        workers = [
            threading.Thread(target=lambda: [rx._flush(batch(frames[:2])) for _ in range(6)])
            for _ in range(8)
        ]
        for w in workers:
            w.start()
        for w in workers:
            w.join(timeout=60)
        assert not any(w.is_alive() for w in workers)
    names = sorted(os.listdir(tmpdir + "/spool2"))
    assert len(names) == 48
    mtimes = [os.stat(tmpdir + "/spool2/" + n).st_mtime_ns // 1_000_000 for n in names]
    assert all(b > a for a, b in zip(mtimes, mtimes[1:])), mtimes


@pytest.mark.parametrize("kind", [*SPOOL_RECEIVERS, "frame_collector", "datagram_collector"])
def test_receiver_stop_before_start_is_clean(tmpdir, kind):
    """stop() on a receiver or sink collector that was never started is a
    no-op, however often it is called: no join error and nothing spooled.
    Every receiver and collector shares one lifecycle."""
    import contextlib
    import os

    spool = tmpdir + "/spool"
    with contextlib.ExitStack() as stack:
        if kind == "frame_collector":
            rx = FrameCollector()
        elif kind == "datagram_collector":
            rx = DatagramCollector()
        else:
            rx = _receiver(kind, spool, stack)
        rx.stop()
        rx.stop()
    assert not os.path.exists(spool) or os.listdir(spool) == []


def test_concurrent_connections_share_one_buffer(tmpdir):
    """All connections of a receiver feed one pending buffer, flushed by
    count from the connection threads and by the idle flusher. Under
    concurrent senders and a short switch interval, every frame lands
    exactly once, and each connection's frames keep their send order
    across the spool files read in index order."""
    import os
    import sys
    import threading

    import pyarrow.parquet as pq

    n_conns, per_conn = 8, 300
    sent = [
        [struct.pack(">I", 8) + struct.pack(">II", c, i) for i in range(per_conn)]
        for c in range(n_conns)
    ]
    rx = FramedTCPReceiver(tmpdir + "/spool", flush_every=64, idle_flush_s=0.01).start()
    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        senders = [
            threading.Thread(target=send_frames, args=(frames, rx.host, rx.port))
            for frames in sent
        ]
        for t in senders:
            t.start()
        for t in senders:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in senders)
        assert rx.wait_for(n_conns * per_conn, timeout_s=30) == n_conns * per_conn
    finally:
        sys.setswitchinterval(old_interval)
        rx.stop()

    got = [
        bytes(f)
        for name in sorted(os.listdir(tmpdir + "/spool"))
        for f in pq.read_table(tmpdir + "/spool/" + name).column("frame").to_pylist()
    ]
    assert sorted(got) == sorted(f for frames in sent for f in frames)
    for c in range(n_conns):
        assert [f for f in got if f[4:8] == struct.pack(">I", c)] == sent[c]
