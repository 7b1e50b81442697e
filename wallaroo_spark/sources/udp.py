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
import time

from pyspark.sql import DataFrame, SparkSession

from wallaroo_spark.sources.spool import Receiver

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


class UDPDatagramReceiver(Receiver):
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
        super().__init__(spool_dir, "datagrams", self._serve, flush_every, idle_flush_s)
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        try:
            self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF, rcvbuf_bytes)
        except OSError:
            pass  # kernel caps it; keep whatever we got
        self._sock.bind((host, port))
        self.host, self.port = self._sock.getsockname()
        self.strip = strip_whitespace

    datagrams_received = property(lambda self: self._received)

    def _serve(self) -> None:
        # _stop is checked after EVERY datagram, so a flood cannot hold
        # stop() off; stop() wakes a blocked recvfrom with a sentinel
        while not self._stop.is_set():
            try:
                data, _addr = self._sock.recvfrom(_MAX_DGRAM)
            except OSError:
                break
            if self._stop.is_set():
                break  # wake sentinel (or a datagram racing stop): drop it
            self._add(data.strip() if self.strip else data)

    def _wake(self) -> None:
        # the sentinel is dropped by the loop's post-recv _stop check,
        # never spooled; on a never-started receiver it is simply unread
        try:
            with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as wake:
                wake.sendto(b"", (self.host, self.port))
        except OSError:
            pass

    def _close(self) -> None:
        self._sock.close()

    def _table(self, datagrams: list[bytes]):
        import pyarrow as pa

        return pa.table({"datagram": pa.array(datagrams, type=pa.binary())})


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


class DatagramCollector(UDPDatagramReceiver):
    """Test-side sink endpoint: collect datagrams in memory for validation
    (the reference harness's sink capture, UDP flavor)."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 rcvbuf_bytes: int = 1 << 22):
        self.datagrams: list[bytes] = []
        super().__init__(None, host, port, flush_every=1, idle_flush_s=None,
                         rcvbuf_bytes=rcvbuf_bytes)

    def _write(self, datagrams: list[bytes]) -> None:
        self.datagrams.extend(datagrams)
