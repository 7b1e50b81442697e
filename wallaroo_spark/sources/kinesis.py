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
discipline. ``kinesis_put_sink_wire`` mirrors the sink's put_record loop
from the executors, through ``KinesisWireGateway`` (a socket front for
the in-process mock stream), as a real boto3 producer would.
"""

from __future__ import annotations

import hashlib
import struct
import threading

from pyspark.sql import DataFrame, SparkSession

from wallaroo_spark.sources.spool import Listener, Receiver, read_exact

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


class KinesisShardReceiver(Receiver):
    """Poll ONE shard into a parquet spool — the reference's
    one-connector-process-per-shard shape (`connectors/kinesis_source`
    takes ``shard`` as a required param). Each poll's records (at most
    ``flush_every``) land as one spool file. Spool columns: ``data``
    binary, ``partition_key`` string, ``seq`` long. Reference parity note:
    the reference opens its iterator at LATEST (records put before the
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
        super().__init__(spool_dir, "records", self._poll, flush_every)
        self.stream = stream
        self.shard_id = shard_id
        self._it = stream.get_shard_iterator(shard_id, iterator_type)
        self.poll_s = poll_s

    records_received = property(lambda self: self._received)

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

    def _table(self, recs: list[dict]):
        import pyarrow as pa

        return pa.table({
            "data": pa.array([r["Data"] for r in recs], pa.binary()),
            "partition_key": pa.array([r["PartitionKey"] for r in recs], pa.string()),
            "seq": pa.array([r["SequenceNumber"] for r in recs], pa.int64()),
        })


def record_stream(spark: SparkSession, spool_dir: str) -> DataFrame:
    """Streaming view of a shard spool."""
    return spark.readStream.schema(
        "data binary, partition_key string, seq long"
    ).parquet(spool_dir)


def record_batch(spark: SparkSession, spool_dir: str) -> DataFrame:
    return spark.read.schema(
        "data binary, partition_key string, seq long"
    ).parquet(spool_dir)


class KinesisWireGateway(Listener):
    """TCP front for ``MockKinesisStream.put_record`` so EXECUTOR
    processes can put records: a real boto3 producer writes
    executor-side, and the mock is in-process state, so this gateway
    gives it a wire (the same wire-level-mock discipline as MiniRedis).
    The sink's data path is then the production shape:
    ``foreachPartition`` -> socket -> service.

    Frame protocol (one connection, many puts):
      request:  ``>I`` key length + key bytes + ``>I`` data length + data
      response: ``>IQ`` shard index + sequence number
    EOF ends the connection."""

    def __init__(self, stream: MockKinesisStream, host: str = "127.0.0.1",
                 port: int = 0):
        super().__init__(self._handle, host, port)
        self.stream = stream

    def _handle(self, conn) -> None:
        while True:
            key, data = _read_field(conn), _read_field(conn)
            if key is None or data is None:
                return
            shard_id, seq = self.stream.put_record(key.decode(), data)
            conn.sendall(struct.pack(">IQ", int(shard_id.rsplit("-", 1)[-1]), seq))


def _read_field(conn) -> bytes | None:
    """One ``>I`` length-prefixed field of the gateway protocol."""
    n = read_exact(conn, 4)
    return None if n is None else read_exact(conn, struct.unpack(">I", n)[0])


def kinesis_put_sink_wire(host: str, port: int, key_col: str, data_col: str):
    """foreachBatch fn: put_record per row FROM THE EXECUTORS over the
    gateway wire (`connectors/kinesis_sink`'s put loop in the posture a
    real boto3 producer has — each partition opens its own connection,
    like the UDP/Redis sinks). No driver-side collect anywhere in the
    data path; responses are drained per put so server backpressure
    propagates to the writer."""

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
                    if read_exact(sock, 12) is None:
                        raise ConnectionError("gateway closed mid-put")
            finally:
                if sock is not None:
                    sock.close()

        batch_df.select(key_col, data_col).foreachPartition(send_partition)

    return sink
