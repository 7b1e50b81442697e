"""Live UDP datagram edge: sender, receiver-spool source, and UDP sink.

Reference: the UDP connector pair (`connectors/udp_source`,
`connectors/udp_sink`) — the source runs a ``UDPServer`` whose handler
writes each datagram into the pipeline as one message, the sink
``sendto``s each pipeline value as one datagram. UDP preserves message
boundaries, so unlike the TCP edge (`sources/tcp.py`) there is NO length
framing: datagram == message, verbatim.

Spark mapping — same shape as the framed-TCP edge:

- ``UDPDatagramReceiver`` binds a UDP socket and appends every received
  datagram to a parquet spool directory (binary ``datagram`` column). A
  file-stream source over the spool gives replay and exactly-once
  DOWNSTREAM of the spool; the socket hop itself is at-most-once by
  UDP's nature (the reference's UDP connector has no acks either — its
  delivery class is identical).
- ``send_datagrams`` mirrors the test feeder: one ``sendto`` per message
  (optionally rate-limited).
- ``datagram_stream`` / ``datagram_batch`` read the spool; payloads are
  raw message bytes — decode with plain column expressions (e.g.
  ``F.decode("datagram", "utf-8")``) or a codec ``@decoder`` applied to
  the payload (no frame header to strip).
- ``udp_datagram_sink`` returns a foreachBatch fn sending each
  partition's rows from its own executor-side socket (the sink
  parallelism of the reference's sink process; no driver collect).

``strip_whitespace`` reproduces the reference handler's ``data.strip()``
(`connectors/udp_source` trims each datagram before writing it into the
pipeline — an artifact of its text-line examples); default OFF so binary
payloads pass through untouched.
"""

from __future__ import annotations

import socket
import threading
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from wallaroo_spark.sources.spool import SpoolWriter

_MAX_DGRAM = 65535  # recv size covering the 65507-byte UDP payload max


def send_datagrams(
    payloads: list[bytes],
    host: str,
    port: int,
    rate_per_s: float | None = None,
) -> int:
    """Feeder shape: one datagram per message (boundaries preserved)."""
    sent = 0
    with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as s:
        for p in payloads:
            s.sendto(p, (host, port))
            sent += 1
            if rate_per_s:
                time.sleep(1.0 / rate_per_s)
    return sent


class UDPDatagramReceiver:
    """Listen on a UDP port and append each datagram to a parquet spool.

    One spool file per flush (``flush_every`` datagrams, or ``idle_flush_s``
    of silence) keeps files small enough for the file-stream source to pick
    up incrementally — the same spool discipline as ``FramedTCPReceiver``.
    The receive buffer is raised so loopback bursts between flushes do not
    drop (UDP drops silently once the socket buffer fills; the reference's
    ``UDPServer`` has the same failure mode, just undocumented)."""

    def __init__(
        self,
        spool_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        flush_every: int = 256,
        idle_flush_s: float = 0.25,
        strip_whitespace: bool = False,
        rcvbuf_bytes: int = 1 << 22,
    ):
        self.spool = Path(spool_dir)
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        try:
            self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF, rcvbuf_bytes)
        except OSError:
            pass  # kernel caps it; keep whatever we got
        self._sock.bind((host, port))
        self.host, self.port = self._sock.getsockname()
        self.flush_every = flush_every
        self.idle_flush_s = idle_flush_s
        self.strip = strip_whitespace
        self.datagrams_received = 0
        self._writer = SpoolWriter(self.spool, "datagrams")
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._serve, daemon=True)

    def start(self) -> "UDPDatagramReceiver":
        self._thread.start()
        return self

    def _serve(self) -> None:
        self._sock.settimeout(self.idle_flush_s)
        pending: list[bytes] = []
        while True:
            # r16 (ADVICE r15): check _stop on EVERY iteration, not only
            # after an idle timeout — under sustained traffic the old loop
            # never saw the flag, stop()'s join always expired, and
            # shutdown relied on close()ing the socket out from under a
            # blocked recvfrom (fd-reuse-racy). stop() now also wakes a
            # blocked recvfrom deterministically with a loopback sentinel.
            if self._stop.is_set():
                break
            try:
                data, _addr = self._sock.recvfrom(_MAX_DGRAM)
            except socket.timeout:
                if pending:
                    self._flush(pending)
                    pending = []
                continue
            except OSError:
                break
            if self._stop.is_set():
                break  # wake sentinel (or a datagram racing stop): drop it
            pending.append(data.strip() if self.strip else data)
            if len(pending) >= self.flush_every:
                self._flush(pending)
                pending = []
        if pending:
            self._flush(pending)

    def _flush(self, datagrams: list[bytes]) -> None:
        import pyarrow as pa

        self._writer.publish(pa.table({"datagram": pa.array(datagrams, type=pa.binary())}))
        # count AFTER the publish so wait_for() means "landed in the spool"
        with self._lock:
            self.datagrams_received += len(datagrams)

    def wait_for(self, n: int, timeout_s: float = 30.0) -> int:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if self.datagrams_received >= n:
                return self.datagrams_received
            time.sleep(0.05)
        return self.datagrams_received

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            # wake a recvfrom blocked inside its idle_flush_s timeout so
            # the serve loop observes _stop NOW; the sentinel datagram is
            # dropped by the post-recv _stop check, never spooled
            try:
                wake = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
                try:
                    wake.sendto(b"", (self.host, self.port))
                finally:
                    wake.close()
            except OSError:
                pass
        if self._thread.ident is not None:  # no-op on a never-started receiver
            self._thread.join(timeout=2)
        self._sock.close()


def datagram_stream(spark: SparkSession, spool_dir: str) -> DataFrame:
    """Streaming view of the spool (binary `datagram` column)."""
    return spark.readStream.schema("datagram binary").parquet(spool_dir)


def datagram_batch(spark: SparkSession, spool_dir: str) -> DataFrame:
    return spark.read.schema("datagram binary").parquet(spool_dir)


def udp_datagram_sink(host: str, port: int, col: str = "datagram"):
    """foreachBatch fn sending each partition's rows as one datagram each
    from its own executor-side socket (`connectors/udp_sink`'s sendto loop,
    parallelized per partition). Rows must carry a binary column ``col``."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        def send_partition(rows):
            import socket as _socket

            s = None
            try:
                for row in rows:
                    if s is None:  # lazily: empty partitions open no socket
                        s = _socket.socket(_socket.AF_INET, _socket.SOCK_DGRAM)
                    s.sendto(bytes(row[col]), (host, port))
            finally:
                if s is not None:
                    s.close()

        batch_df.select(col).foreachPartition(send_partition)

    return sink


class DatagramCollector:
    """Test-side sink endpoint: collect datagrams in memory for validation
    (the reference harness's sink capture, UDP flavor)."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 rcvbuf_bytes: int = 1 << 22):
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        try:
            self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF, rcvbuf_bytes)
        except OSError:
            pass
        self._sock.bind((host, port))
        self.host, self.port = self._sock.getsockname()
        self.datagrams: list[bytes] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._serve, daemon=True)

    def start(self) -> "DatagramCollector":
        self._thread.start()
        return self

    def _serve(self) -> None:
        self._sock.settimeout(0.2)
        while not self._stop.is_set():
            try:
                data, _addr = self._sock.recvfrom(_MAX_DGRAM)
            except socket.timeout:
                continue
            except OSError:
                break
            with self._lock:
                self.datagrams.append(data)

    def wait_for(self, n: int, timeout_s: float = 30.0) -> int:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if len(self.datagrams) >= n:
                    return len(self.datagrams)
            time.sleep(0.05)
        with self._lock:
            return len(self.datagrams)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=2)
        self._sock.close()
