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
import struct
import threading
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from wallaroo_spark.sources.spool import SpoolWriter


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
    raw = Path(path).read_bytes()
    frames, off = [], 0
    while off < len(raw):
        (total,) = struct.unpack(">I", raw[off : off + 4])
        frames.append(raw[off : off + 4 + total])
        off += 4 + total
    return send_frames(frames, host, port, rate_per_s)


class FramedTCPReceiver:
    """Listen on a port, reassemble length-prefixed frames from each
    connection, and append them to a parquet spool directory.

    Frame reassembly handles arbitrary TCP segmentation (a frame may arrive
    across many recv() calls, or many frames in one) — the same loop as the
    reference's notify (`framed_source_notify.pony:90-130`). One spool file
    per flush keeps files small enough for the file-stream source to pick up
    incrementally.
    """

    def __init__(self, spool_dir: str, host: str = "127.0.0.1", port: int = 0,
                 flush_every: int = 256, idle_flush_s: float = 0.25):
        self.spool = Path(spool_dir)
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind((host, port))
        self._srv.listen(4)
        self.host, self.port = self._srv.getsockname()
        self.flush_every = flush_every
        self.idle_flush_s = idle_flush_s
        self.frames_received = 0
        self._writer = SpoolWriter(self.spool, "frames")
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._serve, daemon=True)

    def start(self) -> "FramedTCPReceiver":
        self._thread.start()
        return self

    def _serve(self) -> None:
        self._srv.settimeout(0.2)
        while not self._stop.is_set():
            try:
                conn, _ = self._srv.accept()
            except (socket.timeout, OSError):
                continue
            threading.Thread(target=self._handle, args=(conn,), daemon=True).start()

    def _handle(self, conn: socket.socket) -> None:
        buf = bytearray()
        pending: list[bytes] = []
        # idle flush: a long-lived connection that goes quiet with fewer than
        # flush_every buffered frames must still land them in the spool, or
        # streaming consumers stall until the connection closes
        conn.settimeout(self.idle_flush_s)
        with conn:
            while True:
                try:
                    chunk = conn.recv(65536)
                except socket.timeout:
                    if pending:
                        self._flush(pending)
                        pending = []
                    if self._stop.is_set():
                        break
                    continue
                except OSError:
                    break
                if not chunk:
                    break
                buf.extend(chunk)
                while len(buf) >= 4:
                    (total,) = struct.unpack(">I", bytes(buf[:4]))
                    if len(buf) < 4 + total:
                        break
                    pending.append(bytes(buf[: 4 + total]))
                    del buf[: 4 + total]
                    if len(pending) >= self.flush_every:
                        self._flush(pending)
                        pending = []
        if pending:
            self._flush(pending)

    def _flush(self, frames: list[bytes]) -> None:
        import pyarrow as pa

        self._writer.publish(pa.table({"frame": pa.array(frames, type=pa.binary())}))
        # count AFTER the publish so wait_for() means "landed in the spool"
        with self._lock:
            self.frames_received += len(frames)

    def wait_for(self, n_frames: int, timeout_s: float = 30.0) -> int:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if self.frames_received >= n_frames:
                return self.frames_received
            time.sleep(0.05)
        return self.frames_received

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=2)
        self._srv.close()


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


class FrameCollector:
    """Test-side sink endpoint: accept connections, reassemble frames, keep
    them in memory for validation (the reference harness's sink capture)."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind((host, port))
        self._srv.listen(8)
        self.host, self.port = self._srv.getsockname()
        self.frames: list[bytes] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._serve, daemon=True)

    def start(self) -> "FrameCollector":
        self._thread.start()
        return self

    def _serve(self) -> None:
        self._srv.settimeout(0.2)
        while not self._stop.is_set():
            try:
                conn, _ = self._srv.accept()
            except (socket.timeout, OSError):
                continue
            threading.Thread(target=self._handle, args=(conn,), daemon=True).start()

    def _handle(self, conn: socket.socket) -> None:
        buf = bytearray()
        with conn:
            while True:
                try:
                    chunk = conn.recv(65536)
                except OSError:
                    break
                if not chunk:
                    break
                buf.extend(chunk)
                while len(buf) >= 4:
                    (total,) = struct.unpack(">I", bytes(buf[:4]))
                    if len(buf) < 4 + total:
                        break
                    frame = bytes(buf[: 4 + total])
                    del buf[: 4 + total]
                    with self._lock:
                        self.frames.append(frame)

    def wait_for(self, n_frames: int, timeout_s: float = 30.0) -> int:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if len(self.frames) >= n_frames:
                    return len(self.frames)
            time.sleep(0.05)
        with self._lock:
            return len(self.frames)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=2)
        self._srv.close()
