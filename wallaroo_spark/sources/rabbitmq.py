"""RabbitMQ connector edge: AMQP queue semantics without a broker.

Reference: `connectors/rabbitmq_source` — a pika AsyncConsumer that
declares/binds a queue (optionally behind an exchange), consumes, and for
every delivery ACKS FIRST, then writes the body into the pipeline
(`on_message`: ``acknowledge_message(delivery_tag)`` before
``_handle_message(body)``). That ordering makes the reference's ingress
AT-MOST-ONCE: a crash between ack and write loses the message.

No AMQP broker or pika ships in this container, so this module is the
semantic test double — the `kafka_mock.MockBroker` posture for AMQP's
delivery contract (named queues, direct/fanout exchanges with bindings,
delivery tags, explicit acks, redelivery of unacked messages when a
consumer dies). What it preserves is exactly what the connector code
depends on; wire-level AMQP 0-9-1 framing is out of scope (unlike RESP,
the handshake/frame state machine is a protocol stack, not a loop).

- ``MockAMQPBroker`` — queues + exchanges + unacked tracking.
- ``AMQPQueueReceiver`` — the source: consume -> parquet spool (binary
  ``message`` column, the TCP/UDP/Redis spool discipline). Two ack
  modes:

  * ``ack_after_commit=False`` (default, REFERENCE PARITY): ack on
    receipt, before the spool write — at-most-once, the reference's
    loss window reproduced faithfully (pytest demonstrates it).
  * ``ack_after_commit=True`` (the engine's upgrade): delivery tags are
    held until the batch lands in the spool, then acked — AT-LEAST-ONCE
    into the spool; a crash between flush and ack redelivers, so the
    spool may hold duplicates, and downstream exact dedup on a message
    id makes the pipeline effectively-once (pytest replays the crash
    window and pins the dedup).

``message_stream`` / ``message_batch`` read the spool (the Redis edge's
readers: both spools have the same ``message`` layout).
"""

from __future__ import annotations

import itertools
import threading
from collections import deque

from wallaroo_spark.sources.redis import message_batch, message_stream  # noqa: F401
from wallaroo_spark.sources.spool import Receiver


class MockAMQPBroker:
    """Queues, exchanges, bindings, delivery tags, acks, redelivery."""

    def __init__(self):
        self._lock = threading.Lock()
        self._queues: dict[str, deque[bytes]] = {}
        self._exchanges: dict[str, str] = {}  # name -> type (direct|fanout)
        self._bindings: dict[str, list[tuple[str, str]]] = {}  # x -> [(q, rk)]
        self._unacked: dict[int, tuple[str, bytes]] = {}
        self._tags = itertools.count(1)

    def queue_declare(self, queue: str) -> None:
        with self._lock:
            self._queues.setdefault(queue, deque())

    def exchange_declare(self, exchange: str, ex_type: str = "direct") -> None:
        if ex_type not in ("direct", "fanout"):
            raise ValueError(f"unsupported exchange type {ex_type!r}")
        with self._lock:
            self._exchanges[exchange] = ex_type
            self._bindings.setdefault(exchange, [])

    def queue_bind(self, queue: str, exchange: str, routing_key: str = "") -> None:
        with self._lock:
            if exchange not in self._exchanges:
                raise KeyError(f"exchange {exchange!r} not declared")
            self._queues.setdefault(queue, deque())
            self._bindings[exchange].append((queue, routing_key))

    def publish(
        self,
        body: bytes,
        queue: str | None = None,
        exchange: str | None = None,
        routing_key: str = "",
    ) -> int:
        """Publish to a queue directly (the default-exchange shape) or
        through a declared exchange; returns the number of queues the
        message landed in (0 = unroutable, silently dropped — AMQP's
        non-mandatory publish)."""
        with self._lock:
            if queue is not None:
                if queue not in self._queues:
                    return 0
                self._queues[queue].append(body)
                return 1
            ex_type = self._exchanges.get(exchange)
            if ex_type is None:
                raise KeyError(f"exchange {exchange!r} not declared")
            n = 0
            for q, rk in self._bindings.get(exchange, []):
                if ex_type == "fanout" or rk == routing_key:
                    self._queues[q].append(body)
                    n += 1
            return n

    def basic_get(self, queue: str) -> tuple[int, bytes] | None:
        """Pop one ready message; it moves to unacked under a fresh
        delivery tag until basic_ack or requeue."""
        with self._lock:
            dq = self._queues.get(queue)
            if not dq:
                return None
            body = dq.popleft()
            tag = next(self._tags)
            self._unacked[tag] = (queue, body)
            return tag, body

    def basic_ack(self, tag: int) -> bool:
        with self._lock:
            return self._unacked.pop(tag, None) is not None

    def requeue_unacked(self, tags: list[int] | None = None) -> int:
        """Return unacked messages to the FRONT of their queues — what a
        real broker does when a consumer dies with deliveries in flight.
        ``tags=None`` requeues everything (whole-connection death)."""
        with self._lock:
            sel = list(self._unacked) if tags is None else tags
            n = 0
            for t in sel:
                entry = self._unacked.pop(t, None)
                if entry is not None:
                    q, body = entry
                    self._queues.setdefault(q, deque()).appendleft(body)
                    n += 1
            return n

    def queue_len(self, queue: str) -> int:
        with self._lock:
            return len(self._queues.get(queue, ()))

    def unacked_count(self) -> int:
        with self._lock:
            return len(self._unacked)


class AMQPQueueReceiver(Receiver):
    """Consume a queue into a parquet spool. See module docstring for the
    two ack modes. ``crash_after_ack`` / ``crash_before_ack`` are test
    hooks that simulate the consumer dying inside each mode's window —
    after_ack: on the first delivery, acked but never spooled (the
    at-most-once LOSS); before_ack: right after the first flush, spooled
    but never acked (the at-least-once DUPLICATE on redelivery). The
    pytest uses them to DEMONSTRATE each delivery class, not change it."""

    def __init__(
        self,
        spool_dir: str,
        broker: MockAMQPBroker,
        queue: str,
        ack_after_commit: bool = False,
        flush_every: int = 64,
        idle_flush_s: float = 0.05,
        crash_before_ack: bool = False,
        crash_after_ack: bool = False,
    ):
        super().__init__(spool_dir, "messages", self._consume, flush_every, idle_flush_s)
        self.broker = broker
        self.queue = queue
        self.ack_after_commit = ack_after_commit
        self._crash_before_ack = crash_before_ack
        self._crash_after_ack = crash_after_ack
        self.crashed = False

    messages_received = property(lambda self: self._received)

    def start(self) -> "AMQPQueueReceiver":
        self.broker.queue_declare(self.queue)
        return super().start()

    def _consume(self) -> None:
        while not self._stop.is_set():
            got = self.broker.basic_get(self.queue)
            if got is None:
                self._stop.wait(self.idle_flush_s)
                continue
            tag, body = got
            if not self.ack_after_commit:
                # REFERENCE PARITY: ack precedes the write
                # (`connectors/rabbitmq_source` on_message) — the
                # at-most-once loss window lives right here
                self.broker.basic_ack(tag)
                if self._crash_after_ack:
                    self._crash()  # acked, never spooled: message LOST
                    return
            self._add((tag, body))

    def _commit(self, items: list[tuple[int, bytes]]) -> None:
        self._flush([body for _tag, body in items])
        if self.ack_after_commit:
            if self._crash_before_ack:
                # flushed but NOT acked: the broker will redeliver —
                # the duplicate-in-spool window of at-least-once
                self._crash()
                return
            for tag, _body in items:
                self.broker.basic_ack(tag)

    def _crash(self) -> None:
        """The consumer dies: its loops exit and ``wait_for`` returns."""
        self.crashed = True
        self._stop.set()

    def _table(self, messages: list[bytes]):
        import pyarrow as pa

        return pa.table({"message": pa.array(messages, type=pa.binary())})

    def wait_crashed(self, timeout_s: float = 30.0) -> bool:
        self._stop.wait(timeout_s)  # a crash stops the receiver
        return self.crashed
