"""Framed binary decode/encode — the reference's source/sink edges.

Reference framing (`machida/lib/wallaroo/__init__.py:432-454`): connector
frames are ``>I q I`` — u32 payload length, i64 event_time_ms, u32 key
length, then key bytes and payload bytes. `@decoder`/`@encoder`
(`__init__.py:496-509`) convert frames <-> user objects.

Our engine keeps the same edge contract but lands on typed columns:
``decode_frames`` turns a binary column of frames into (event_ts, key,
payload) columns; ``encode_frames`` packs rows back. Both are plain Column
expressions (``substring`` + ``hex``/``conv`` for the big-endian integers,
``timestamp_millis``/``unix_millis`` for the event time), so the edge runs
in the JVM with the rest of the plan: no Python worker, no Arrow hop.
``event_ts`` is the frame's epoch instant whatever the session time zone.
"""

from __future__ import annotations

import struct

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


FRAME_HEADER = ">IqI"  # u32 total payload len, i64 event_time_ms, u32 key_len
_MAX_TS_MS = (1 << 63) // 1000  # timestamp_millis keeps microseconds in a long


def encode_frame(event_time_ms: int, key: bytes, payload: bytes) -> bytes:
    """Pack one message into the connector wire format (driver-side helper
    for tests/senders — mirrors the reference's ArrayMessageEncoder)."""
    body = struct.pack(">qI", event_time_ms, len(key)) + key + payload
    return struct.pack(">I", len(body)) + body


def _u32(frame: Column, pos: int) -> Column:
    """Big-endian u32 at 1-based byte ``pos`` as a bigint."""
    return F.conv(F.hex(F.substring(frame, pos, 4)), 16, 10).cast("bigint")


def _be_bytes(n: Column, width: int) -> Column:
    """``n`` as ``width`` big-endian bytes (two's complement, as ``hex``)."""
    return F.unhex(F.lpad(F.hex(n), 2 * width, "0"))


def decode_frames(
    df: DataFrame, frame_col: str = "frame", drop_malformed: bool = False
) -> DataFrame:
    """binary frames -> (event_ts timestamp, key string, payload binary).

    ``drop_malformed=True`` gives the reference's decoder-filter semantics
    (`testing/correctness/apps/decoder_filter`): a frame the decoder cannot
    parse (truncated header, key length past the buffer, invalid utf-8,
    an event time outside the timestamp range) is
    silently filtered instead of failing the job — the behavior a live
    socket edge needs when peers send garbage or keepalives. Without it a
    malformed frame fails the job."""
    frame = F.col(frame_col)
    header = F.octet_length(frame) >= 16
    total = F.when(header, _u32(frame, 1))
    klen = F.when(header, _u32(frame, 13))
    # every cast and substring below sits behind this guard, so a frame
    # whose u32 lengths disagree with its size never reaches them
    sized = header & (12 + klen <= total) & (4 + total <= F.octet_length(frame))
    key_raw = F.when(sized, F.substring(frame, 17, klen.cast("int")).cast("string"))
    # i64 event time: signed high word * 2^32 + unsigned low word; a time
    # whose microseconds overflow a long (|ms| > ~292,000 years) has no
    # timestamp, so its frame is malformed too
    hi, lo = _u32(frame, 5), _u32(frame, 9)
    ts_ms = F.when(hi >= 1 << 31, hi - (1 << 32)).otherwise(hi) * (1 << 32) + lo
    ts_ok = ts_ms.between(-_MAX_TS_MS, _MAX_TS_MS)
    ok = F.coalesce(sized & F.is_valid_utf8(key_raw) & ts_ok, F.lit(False))
    payload = F.substring(frame, (17 + klen).cast("int"), (total - 12 - klen).cast("int"))
    keep = F.col("_ok")
    if not drop_malformed:  # a filter, so no column pruning skips the check
        keep = F.when(keep, True).otherwise(
            F.raise_error(F.lit("malformed frame: lengths, utf-8 key or event time invalid")))
    return (
        df.select(
            F.when(ok, F.timestamp_millis(ts_ms)).alias("event_ts"),
            F.when(ok, key_raw).alias("key"),
            F.when(ok, payload).alias("payload"),
            ok.alias("_ok"),
        )
        .where(keep)
        .drop("_ok")
    )


def encode_frames(
    df: DataFrame, ts_col: str = "event_ts", key_col: str = "key", payload_col: str = "payload"
) -> DataFrame:
    """(event_ts, key, payload) -> single binary frame column (sink edge).
    A null ``ts``, ``key`` or ``payload`` fails the job: the wire format
    has no null."""
    ts, key, payload = F.col(ts_col), F.col(key_col), F.col(payload_col)
    kb = F.encode(key.cast("string"), "UTF-8")
    pb = payload.cast("binary")
    klen = F.octet_length(kb).cast("bigint")
    frame = F.concat(
        _be_bytes(12 + klen + F.octet_length(pb), 4),
        _be_bytes(F.unix_millis(ts), 8),
        _be_bytes(klen, 4),
        kb,
        pb,
    )
    return df.select(
        F.when(ts.isNull() | key.isNull() | payload.isNull(),
               F.raise_error(F.lit("encode_frames: null ts, key or payload")))
        .otherwise(frame)
        .alias("frame")
    )
