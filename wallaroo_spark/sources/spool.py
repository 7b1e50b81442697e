"""Receiver spool files: the one publish path of every socket/broker edge.

Each receiver (TCP, UDP, Redis, AMQP, Kinesis, Kafka wire) lands what it
receives as parquet files in a spool directory, which a file-stream source
reads with replay and exactly-once downstream. Spark's file-stream source
orders new files by modification time in ms, so two flushes within one ms
tick could be read out of order. Every file therefore gets a strictly
increasing ms mtime, handed out with its index under one lock (mtime
order == index order), set before the atomic rename that publishes it,
and a 9-digit zero-padded index (name order == index order).
"""

from __future__ import annotations

import os
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
