"""Receiver scaffolding: the one ingest path of every socket/broker edge.

Wallaroo's ingress is one idea at every edge: a source reads a
connection, decodes messages and hands them on
(`framed_source_notify.pony:90-130` plus a connector per protocol). Here
every receiver (TCP, UDP, Redis, AMQP, Kinesis, Kafka wire) is a
``Receiver`` that keeps only its protocol loop and its column layout
(``_table``). The base owns the rest, once:

- the thread lifecycle: ``start`` runs the protocol loop and the idle
  flusher on daemon threads; ``stop`` wakes and joins them, lands what
  is pending, and is a no-op on a receiver that was never started;
- the pending buffer and the one flush policy: ``_add`` buffers an item
  and flushes after ``flush_every`` items, and an idle flusher flushes
  once ``idle_flush_s`` passes with no new item. Poll-based receivers
  (Kinesis, Kafka wire) hand each poll's records to ``_flush`` directly;
- ``_flush``: publish one spool file, then count, so ``wait_for`` means
  "landed in the spool".

The test-side sink collectors are receivers too: they keep what they
receive in memory instead of a spool (``_write``).

``SpoolWriter`` publishes the parquet files that a file-stream source
reads with replay and exactly-once downstream. Spark's file-stream source
orders new files by modification time in ms, so two flushes within one ms
tick could be read out of order. Every file therefore gets a strictly
increasing ms mtime, handed out with its index under one lock (mtime
order == index order), set before the atomic rename that publishes it,
and a 9-digit zero-padded index (name order == index order).

The socket helpers are shared too: ``Listener`` is the one accept loop
(TCP receivers and the mock servers), ``iter_frames`` the one
length-prefixed frame splitter and ``read_exact`` the one exact-length
socket read.
"""

from __future__ import annotations

import os
import socket
import threading
import time
import uuid
from pathlib import Path


class SpoolWriter:
    """Publish parquet files named ``<prefix>_<uniq>_<index>.parquet``."""

    def __init__(self, spool_dir: str | Path, prefix: str):
        self.dir = Path(spool_dir)
        self.dir.mkdir(parents=True, exist_ok=True)
        self.prefix = prefix
        # per-instance unique part: a second receiver (or a restart after a
        # crash) sharing this spool must never overwrite an earlier
        # instance's files by reusing index 0
        self._uniq = uuid.uuid4().hex[:8]
        self._idx = 0
        self._last_mtime_ms = 0
        self._lock = threading.Lock()

    def publish(self, table) -> None:
        """Write a pyarrow table as the spool's next file."""
        import pyarrow.parquet as pq

        with self._lock:
            idx = self._idx
            self._idx += 1
            mtime_ms = max(time.time_ns() // 1_000_000, self._last_mtime_ms + 1)
            self._last_mtime_ms = mtime_ms
        tmp = self.dir / f"_tmp_{self._uniq}_{idx:09d}.parquet"
        pq.write_table(table, tmp)
        os.utime(tmp, ns=(mtime_ms * 1_000_000, mtime_ms * 1_000_000))
        tmp.rename(self.dir / f"{self.prefix}_{self._uniq}_{idx:09d}.parquet")  # atomic publish


class Receiver:
    """Base of every spool receiver and sink collector (module docstring).

    A subclass passes its protocol ``loop`` (run on ``_thread``), builds
    one spool file from a list of items in ``_table``, and may override
    ``_wake`` (unblock its loop before ``stop`` joins it) and ``_close``
    (release its connection after). ``spool_dir=None`` keeps items in
    memory through ``_write`` instead. ``idle_flush_s=None`` means no
    buffering deadline: the receiver flushes by count only, or calls
    ``_flush`` itself."""

    def __init__(self, spool_dir, prefix: str, loop=None, flush_every: int = 1,
                 idle_flush_s: float | None = None):
        self.spool = None if spool_dir is None else Path(spool_dir)
        self._writer = None if spool_dir is None else SpoolWriter(self.spool, prefix)
        self.flush_every = flush_every
        self.idle_flush_s = idle_flush_s
        self._received = 0
        self._pending: list = []
        self._last_add = 0.0
        self._lock = threading.Lock()  # the pending buffer and the count
        self._flush_lock = threading.Lock()  # one flush at a time, in buffer order
        self._stop = threading.Event()
        self._thread = None if loop is None else threading.Thread(target=loop, daemon=True)
        flusher = None if idle_flush_s is None else threading.Thread(
            target=self._idle_flush, daemon=True)
        self._threads = [t for t in (self._thread, flusher) if t is not None]

    def start(self):
        for t in self._threads:
            t.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._wake()
        for t in self._threads:
            if t.ident is not None:  # never started: nothing to join
                t.join(timeout=2)
        self._drain()
        self._close()

    def _wake(self) -> None:
        pass

    def _close(self) -> None:
        pass

    def _add(self, item) -> None:
        with self._lock:
            self._pending.append(item)
            self._last_add = time.monotonic()
            full = len(self._pending) >= self.flush_every
        if full:
            self._drain()

    def _drain(self) -> None:
        """Flush everything pending as one file."""
        with self._flush_lock:
            with self._lock:
                items, self._pending = self._pending, []
            if items:
                self._commit(items)

    def _commit(self, items: list) -> None:
        """Land a drained buffer (AMQP acks its delivery tags after)."""
        self._flush(items)

    def _idle_flush(self) -> None:
        wait = self.idle_flush_s
        while not self._stop.wait(wait):
            with self._lock:
                left = self._last_add + self.idle_flush_s - time.monotonic()
                pending = bool(self._pending)
            if pending and left <= 0:
                self._drain()
            wait = left if pending and left > 0 else self.idle_flush_s

    def _flush(self, items: list) -> None:
        """Publish ``items`` as one spool file, then count them: counting
        AFTER the publish makes ``wait_for`` mean "landed in the spool"."""
        self._write(items)
        with self._lock:
            self._received += len(items)

    def _write(self, items: list) -> None:
        self._writer.publish(self._table(items))

    def wait_for(self, n: int, timeout_s: float = 30.0) -> int:
        """Wait until ``n`` items have landed, the receiver has stopped or
        ``timeout_s`` has passed; returns the count landed."""
        deadline = time.monotonic() + timeout_s
        while self._received < n and not self._stop.is_set() and time.monotonic() < deadline:
            time.sleep(0.02)
        return self._received


class Listener:
    """A listening TCP socket, an accept thread and one thread per
    connection running ``handle(conn)``; the connection is closed when
    ``handle`` returns. ``stop`` shuts the listening socket down (on Linux
    that wakes a blocked ``accept``, which ``close`` alone does not), then
    shuts every open connection down and joins its thread; before
    ``start`` it only closes the socket."""

    def __init__(self, handle, host: str = "127.0.0.1", port: int = 0):
        self._handle = handle
        self._srv = socket.create_server((host, port), backlog=32)
        self.host, self.port = self._srv.getsockname()
        self._conns: dict[socket.socket, threading.Thread] = {}
        self._conns_lock = threading.Lock()
        self._accepter = threading.Thread(target=self._accept, daemon=True)

    def start(self):
        self._accepter.start()
        return self

    def _accept(self) -> None:
        while True:
            try:
                conn, _ = self._srv.accept()
            except OSError:
                return  # stop() shut the socket down
            t = threading.Thread(target=self._serve, args=(conn,), daemon=True)
            with self._conns_lock:
                self._conns[conn] = t
            t.start()

    def _serve(self, conn: socket.socket) -> None:
        try:
            with conn:
                self._handle(conn)
        except OSError:
            pass  # the peer reset the connection, or stop() shut it down
        finally:
            with self._conns_lock:
                self._conns.pop(conn, None)

    def stop(self) -> None:
        _shutdown(self._srv)
        self._srv.close()
        if self._accepter.ident is not None:
            self._accepter.join(timeout=2)
        with self._conns_lock:
            open_conns = list(self._conns.items())
        for conn, t in open_conns:
            _shutdown(conn)
            t.join(timeout=2)


def _shutdown(sock: socket.socket) -> None:
    try:
        sock.shutdown(socket.SHUT_RDWR)
    except OSError:
        pass  # already closed, or never connected


def iter_frames(chunks):
    """Split a byte stream, given as chunks, into length-prefixed frames
    (a big-endian u32 length, then that many bytes; each frame keeps its
    header). A frame may span many chunks and a chunk hold many frames, as
    in the reference's `framed_source_notify.pony:90-130`. A trailing
    partial frame is dropped."""
    buf = bytearray()
    for chunk in chunks:
        buf += chunk
        off = 0
        while len(buf) - off >= 4:
            end = off + 4 + int.from_bytes(buf[off:off + 4], "big")
            if end > len(buf):
                break
            yield bytes(buf[off:end])
            off = end
        del buf[:off]


def read_exact(conn: socket.socket, n: int) -> bytes | None:
    """Read exactly ``n`` bytes from a socket; None if it closes first."""
    buf = bytearray()
    while len(buf) < n:
        chunk = conn.recv(n - len(buf))
        if not chunk:
            return None
        buf += chunk
    return bytes(buf)
