"""Live framed-TCP edge: sender, receiver-spool source, and TCP frame sink.

Reference: the framed TCP source is Wallaroo's primary ingress
(`core/source/tcp_source/framed_source_notify.pony:90-130` — read u32
length header, then payload, feed the decoder), its test feeder replays a
framed file over a socket at a message rate (`giles/sender/giles-sender.pony`),
and the TCP sink writes length-prefixed frames back out
(`core/sink/tcp_sink/tcp_sink.pony`).

Spark mapping — the socket edge lands in a durable spool:

- ``FramedTCPReceiver`` accepts connections, splits the byte stream into
  frames, and appends them as parquet files (binary ``frame`` column) in a
  spool directory. A file-stream source over the spool gives replay and
  exactly-once downstream, which a raw socket cannot (the reference needed
  its connector-protocol point-of-reference acks for the same reason —
  `connector_stream_registry.pony:105,841`).
- ``send_frames`` / ``send_framed_file`` mirror giles-sender: connect and
  write frames (optionally rate-limited).
- ``framed_stream``/``framed_batch`` read the spool; compose with
  ``codec.decode_frames`` for typed columns.
- ``tcp_frame_sink`` returns a foreachBatch fn that sends each partition's
  frames over its own socket connection (executor-side, parallel — the
  sink-parallelism shape of the reference's sink actors; no driver collect).
"""

from __future__ import annotations

import socket
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from wallaroo_spark.sources.spool import Listener, Receiver, iter_frames


def send_frames(frames: list[bytes], host: str, port: int, rate_per_s: float | None = None) -> int:
    """giles-sender shape: stream pre-framed messages over one connection."""
    sent = 0
    with socket.create_connection((host, port)) as s:
        for f in frames:
            s.sendall(f)
            sent += 1
            if rate_per_s:
                time.sleep(1.0 / rate_per_s)
    return sent


def send_framed_file(path: str, host: str, port: int, rate_per_s: float | None = None) -> int:
    """Replay a framed binary file (concatenated length-prefixed frames)."""
    return send_frames(list(iter_frames([Path(path).read_bytes()])), host, port, rate_per_s)


class FramedTCPReceiver(Receiver):
    """Listen on a port, reassemble length-prefixed frames from each
    connection, and append them to a parquet spool directory.

    Frame reassembly handles arbitrary TCP segmentation (a frame may arrive
    across many recv() calls, or many frames in one) — the same loop as the
    reference's notify (`framed_source_notify.pony:90-130`). One spool file
    per flush keeps files small enough for the file-stream source to pick up
    incrementally; a connection's end also flushes, so its last frames land
    at once.
    """

    def __init__(self, spool_dir: str, host: str = "127.0.0.1", port: int = 0,
                 flush_every: int = 256, idle_flush_s: float = 0.25):
        super().__init__(spool_dir, "frames", None, flush_every, idle_flush_s)
        self._listener = Listener(self._handle, host, port)
        self.host, self.port = self._listener.host, self._listener.port

    frames_received = property(lambda self: self._received)

    def start(self) -> "FramedTCPReceiver":
        self._listener.start()
        return super().start()

    def _wake(self) -> None:
        self._listener.stop()

    def _handle(self, conn: socket.socket) -> None:
        for frame in iter_frames(iter(lambda: conn.recv(65536), b"")):
            self._add(frame)
        self._drain()

    def _table(self, frames: list[bytes]):
        import pyarrow as pa

        return pa.table({"frame": pa.array(frames, type=pa.binary())})

    def wait_for(self, n_frames: int, timeout_s: float = 30.0) -> int:
        return super().wait_for(n_frames, timeout_s)  # public keyword stays n_frames


def framed_stream(spark: SparkSession, spool_dir: str) -> DataFrame:
    """Streaming view of the spool (binary `frame` column)."""
    return spark.readStream.schema("frame binary").parquet(spool_dir)


def framed_batch(spark: SparkSession, spool_dir: str) -> DataFrame:
    return spark.read.schema("frame binary").parquet(spool_dir)


def tcp_frame_sink(host: str, port: int):
    """foreachBatch fn sending each partition's frames over its own TCP
    connection (executor-side; mirrors sink parallelism of the reference's
    sink actors). Frames must be in a binary column named `frame`."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        def send_partition(rows):
            import socket as _socket

            conn = None
            try:
                for row in rows:
                    if conn is None:  # connect lazily: empty partitions skip
                        conn = _socket.create_connection((host, port))
                    conn.sendall(bytes(row.frame))
            finally:
                if conn is not None:
                    conn.close()

        batch_df.select("frame").foreachPartition(send_partition)

    return sink


class FrameCollector(FramedTCPReceiver):
    """Test-side sink endpoint: accept connections, reassemble frames, keep
    them in memory for validation (the reference harness's sink capture)."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self.frames: list[bytes] = []
        super().__init__(None, host, port, flush_every=1, idle_flush_s=None)

    def _write(self, frames: list[bytes]) -> None:
        self.frames.extend(frames)
