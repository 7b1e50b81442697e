"""Redis connector edge: live RESP pub/sub source and hash sink.

Reference: the Redis connector pair — `connectors/redis_subscriber_source`
(SUBSCRIBE a channel, write each published message into the pipeline) and
`connectors/redis_hash_sink` (HSET one field per pipeline value into a
fixed hash key). Both are thin protocol loops, so this module implements
the protocol itself rather than wrapping an absent client library:

- ``MiniRedis`` — an embedded RESP (REdis Serialization Protocol) server
  speaking the exact command subset the connectors use (PING, SUBSCRIBE,
  PUBLISH, HSET, HGETALL, HLEN, DEL). No redis binary or redis-py ships
  in this container, so this is the live test double — protocol-correct
  on a real socket, the same role `kafka_mock.MockBroker` plays for the
  Kafka edge but at wire level (a real RESP client could talk to it).
- ``RespClient`` — the minimal client (encode command arrays as RESP
  bulk-string arrays, parse simple/bulk/integer/array replies).
- ``RedisSubscriberReceiver`` — the source: SUBSCRIBE ``channel`` and
  spool every published payload to parquet (binary ``message`` column),
  the same replayable-spool discipline as the TCP/UDP edges. Delivery
  class matches the reference exactly: Redis pub/sub is fire-and-forget
  at-most-once (a message published with no subscriber is GONE — same on
  a real server); exactly-once starts at the spool.
- ``redis_hash_sink`` — the sink: a foreachBatch fn HSETting one field
  per row from each partition's own executor-side connection.

``message_stream`` / ``message_batch`` read the spool.
"""

from __future__ import annotations

import socket
import threading

from pyspark.sql import DataFrame, SparkSession

from wallaroo_spark.sources.spool import Listener, Receiver

_CRLF = b"\r\n"


def _encode_command(*parts: bytes | str) -> bytes:
    """RESP array of bulk strings — the client->server wire form."""
    out = [b"*%d" % len(parts), _CRLF]
    for p in parts:
        b = p.encode() if isinstance(p, str) else p
        out += [b"$%d" % len(b), _CRLF, b, _CRLF]
    return b"".join(out)


def _encode_array(parts: list[bytes]) -> bytes:
    out = [b"*%d" % len(parts), _CRLF]
    for b in parts:
        out += [b"$%d" % len(b), _CRLF, b, _CRLF]
    return b"".join(out)


def _read_reply(f):
    """Parse one RESP reply from a buffered reader: simple string (+),
    error (-), integer (:), bulk ($), or array (*). Returns str / int /
    bytes / list / None."""
    line = f.readline()
    if not line:
        raise ConnectionError("RESP stream closed")
    kind, body = line[:1], line[1:].rstrip(_CRLF)
    if kind == b"+":
        return body.decode()
    if kind == b"-":
        raise RuntimeError(f"RESP error: {body.decode()}")
    if kind == b":":
        return int(body)
    if kind == b"$":
        n = int(body)
        if n == -1:
            return None
        payload = f.read(n + 2)[:-2]
        return payload
    if kind == b"*":
        return [_read_reply(f) for _ in range(int(body))]
    raise RuntimeError(f"RESP: unexpected type byte {kind!r}")


class RespClient:
    """Minimal RESP client over one socket connection."""

    def __init__(self, host: str, port: int):
        self._sock = socket.create_connection((host, port))
        self._f = self._sock.makefile("rb")

    def command(self, *parts: bytes | str):
        self._sock.sendall(_encode_command(*parts))
        return _read_reply(self._f)

    def read_push(self):
        """Read one server push (subscribe confirmations / published
        messages) — valid after SUBSCRIBE, when the connection is in
        push mode and the client sends nothing."""
        return _read_reply(self._f)

    def shutdown(self) -> None:
        """Unblock a reader stuck in read_push from ANOTHER thread: shut
        the socket down (reader sees EOF and exits) without touching the
        buffered file object, whose internal lock the reader holds —
        close()ing it from outside would deadlock on that lock."""
        try:
            self._sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass

    def close(self) -> None:
        try:
            self._f.close()
        finally:
            self._sock.close()


class MiniRedis(Listener):
    """Embedded RESP server: hashes + pub/sub, the connector command set.

    Per-connection reader threads; published messages are pushed to each
    subscriber under that subscriber's write lock (pub/sub connections
    receive nothing else, so pushes never interleave with replies)."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        super().__init__(self._handle, host, port)
        self.hashes: dict[bytes, dict[bytes, bytes]] = {}
        self._subs: dict[bytes, list[tuple[socket.socket, threading.Lock]]] = {}
        self._lock = threading.Lock()

    def _handle(self, conn: socket.socket) -> None:
        f = conn.makefile("rb")
        wlock = threading.Lock()
        subscribed: list[bytes] = []
        try:
            while True:
                try:
                    cmd = _read_reply(f)
                except (ConnectionError, OSError, RuntimeError):
                    break
                if not isinstance(cmd, list) or not cmd:
                    break
                name = bytes(cmd[0]).upper()
                args = [bytes(a) for a in cmd[1:]]
                # lock discipline: _dispatch takes wlock around the
                # connection's OWN reply sends and each TARGET's lock
                # around pushes, never both at once — holding wlock for
                # the whole dispatch would AB-BA-deadlock two connections
                # that both subscribe and publish to each other
                if not self._dispatch(conn, wlock, subscribed, name, args):
                    break
        finally:
            with self._lock:
                for ch in subscribed:
                    self._subs.get(ch, [])[:] = [
                        s for s in self._subs.get(ch, []) if s[0] is not conn
                    ]
            f.close()

    def _dispatch(self, conn, wlock, subscribed, name, args) -> bool:
        def reply(data: bytes) -> None:
            # the connection's OWN sends serialize against pushes via its
            # wlock; target locks for pushes are taken one at a time below,
            # never while wlock is held (AB-BA safety)
            with wlock:
                conn.sendall(data)

        if name == b"PING":
            reply(b"+PONG" + _CRLF)
        elif name == b"SUBSCRIBE":
            for ch in args:
                with self._lock:
                    self._subs.setdefault(ch, []).append((conn, wlock))
                subscribed.append(ch)
                # real-server reply shape: ["subscribe", channel, n_subs]
                # (the count rides as a RESP integer inside the array)
                reply(
                    b"*3" + _CRLF
                    + b"$9" + _CRLF + b"subscribe" + _CRLF
                    + b"$%d" % len(ch) + _CRLF + ch + _CRLF
                    + b":%d" % len(subscribed) + _CRLF
                )
        elif name == b"PUBLISH":
            ch, payload = args
            with self._lock:
                targets = list(self._subs.get(ch, []))
            msg = _encode_array([b"message", ch, payload])
            n = 0
            for sock, lock in targets:
                try:
                    with lock:
                        sock.sendall(msg)
                    n += 1
                except OSError:
                    pass
            reply(b":%d" % n + _CRLF)
        elif name == b"HSET":
            key, field, value = args
            with self._lock:
                h = self.hashes.setdefault(key, {})
                created = 0 if field in h else 1
                h[field] = value
            reply(b":%d" % created + _CRLF)
        elif name == b"HGETALL":
            with self._lock:
                h = dict(self.hashes.get(args[0], {}))
            flat: list[bytes] = []
            for k, v in h.items():
                flat += [k, v]
            reply(_encode_array(flat))
        elif name == b"HLEN":
            with self._lock:
                n_fields = len(self.hashes.get(args[0], {}))
            reply(b":%d" % n_fields + _CRLF)
        elif name == b"DEL":
            with self._lock:
                n = sum(1 for k in args if self.hashes.pop(k, None) is not None)
            reply(b":%d" % n + _CRLF)
        else:
            reply(b"-ERR unknown command " + name + _CRLF)
        return True

    def hgetall(self, key: bytes | str) -> dict[bytes, bytes]:
        k = key.encode() if isinstance(key, str) else key
        with self._lock:
            return dict(self.hashes.get(k, {}))


class RedisSubscriberReceiver(Receiver):
    """SUBSCRIBE ``channel`` and spool every published payload to parquet
    (binary ``message`` column) — `connectors/redis_subscriber_source`'s
    pubsub.listen() loop, landing in the replayable-spool shape the
    TCP/UDP edges use. At-most-once across the pub/sub hop (identical to
    the reference: no acks, missed-if-absent); exactly-once downstream
    of the spool."""

    def __init__(
        self,
        spool_dir: str,
        host: str,
        port: int,
        channel: str,
        flush_every: int = 256,
        idle_flush_s: float = 0.25,
    ):
        super().__init__(spool_dir, "messages", self._listen, flush_every, idle_flush_s)
        self.channel = channel.encode()
        self._client = RespClient(host, port)

    messages_received = property(lambda self: self._received)

    def start(self) -> "RedisSubscriberReceiver":
        sub = self._client.command("SUBSCRIBE", self.channel)
        assert isinstance(sub, list) and bytes(sub[0]) == b"subscribe", sub
        # NO socket timeout on the reader: a timeout mid-push would corrupt
        # the buffered-file state (makefile + timeouts lose data by
        # contract). The reader blocks and stop() unblocks it; the
        # receiver's idle flusher owns the idle flush.
        return super().start()

    def _listen(self) -> None:
        while True:
            try:
                push = self._client.read_push()
            except (ConnectionError, OSError, RuntimeError, ValueError):
                return
            if (
                isinstance(push, list)
                and len(push) == 3
                and bytes(push[0]) == b"message"
            ):
                self._add(bytes(push[2]))

    def _wake(self) -> None:
        self._client.shutdown()  # EOF the blocked reader (close would deadlock)

    def _close(self) -> None:
        self._client.close()

    def _table(self, messages: list[bytes]):
        import pyarrow as pa

        return pa.table({"message": pa.array(messages, type=pa.binary())})


def publish(host: str, port: int, channel: str, payloads: list[bytes]) -> int:
    """Feeder: PUBLISH each payload to the channel; returns the count of
    publishes that reached at least one subscriber."""
    c = RespClient(host, port)
    try:
        delivered = 0
        for p in payloads:
            if c.command("PUBLISH", channel, p):
                delivered += 1
        return delivered
    finally:
        c.close()


def message_stream(spark: SparkSession, spool_dir: str) -> DataFrame:
    """Streaming view of the spool (binary `message` column)."""
    return spark.readStream.schema("message binary").parquet(spool_dir)


def message_batch(spark: SparkSession, spool_dir: str) -> DataFrame:
    return spark.read.schema("message binary").parquet(spool_dir)


def redis_hash_sink(host: str, port: int, key: str, field_col: str, value_col: str):
    """foreachBatch fn HSETting one field per row into the fixed hash
    ``key`` from each partition's own executor-side connection —
    `connectors/redis_hash_sink`'s read->hset loop, parallelized. HSET is
    idempotent per (key, field), so micro-batch replays after a crash
    converge instead of duplicating (the natural exactly-once shape for
    a keyed hash sink)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        def send_partition(rows):
            client = None
            try:
                for row in rows:
                    if client is None:  # lazily: empty partitions skip
                        client = RespClient(host, port)
                    f = row[field_col]
                    v = row[value_col]
                    fb = f if isinstance(f, (bytes, bytearray)) else str(f).encode()
                    vb = v if isinstance(v, (bytes, bytearray)) else str(v).encode()
                    client.command("HSET", key, bytes(fb), bytes(vb))
            finally:
                if client is not None:
                    client.close()

        batch_df.select(field_col, value_col).foreachPartition(send_partition)

    return sink
