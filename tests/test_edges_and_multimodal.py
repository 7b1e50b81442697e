"""Source/sink edge codecs, GenSource, multimodal plumbing."""

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from wallaroo_spark.operators import multimodal as M
from wallaroo_spark.sources import codec, gen


def test_frame_codec_roundtrip(spark):
    msgs = [
        (1700000000000 + i, f"key{i}".encode(), f"payload-{i}".encode()) for i in range(20)
    ] + [(-86_400_001, b"neg", b"before-1970")]
    frames = [Row(frame=codec.encode_frame(*m)) for m in msgs]
    df = spark.createDataFrame(frames)
    decoded = codec.decode_frames(df).orderBy("key")
    rows = decoded.collect()
    assert len(rows) == 21
    r0 = rows[0]
    assert r0.key == "key0" and bytes(r0.payload) == b"payload-0"
    assert r0.event_ts == dt.datetime(2023, 11, 14, 22, 13, 20)
    # encode side: re-encoding reproduces the original wire bytes
    re = codec.encode_frames(decoded).collect()
    assert sorted(bytes(r.frame) for r in re) == sorted(bytes(r.frame) for r in frames)


def test_frame_codec_event_time_is_zone_free(spark):
    """``event_ts`` is the frame's epoch instant under any session time
    zone, and encode(decode(frames)) gives the frames back byte for byte."""
    ms = [1700000000123, 0, -1, -86_400_001, 1_710_054_000_000]  # incl. a DST switch
    frames = [codec.encode_frame(t, f"k{i}".encode(), b"p") for i, t in enumerate(ms)]
    df = spark.createDataFrame([(bytearray(f),) for f in frames], "frame binary")
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        decoded = codec.decode_frames(df)
        got = decoded.select("key", F.unix_millis("event_ts").alias("ms")).collect()
        assert sorted((r.key, r.ms) for r in got) == [(f"k{i}", t) for i, t in enumerate(ms)]
        again = codec.encode_frames(decoded).collect()
        assert sorted(bytes(r.frame) for r in again) == sorted(frames)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_encode_frames_rejects_nulls(spark):
    """The wire format has no null: a null ts, key or payload fails the job
    instead of being written as a placeholder."""
    import pytest

    ok = (dt.datetime(2024, 1, 1), "k", b"p")
    for i in range(3):
        row = tuple(None if j == i else v for j, v in enumerate(ok))
        df = spark.createDataFrame([ok, row], "event_ts timestamp, key string, payload binary")
        with pytest.raises(Exception, match="null ts, key or payload"):
            codec.encode_frames(df).collect()


def test_gen_batch_sequence(spark):
    df = gen.gen_batch(
        spark,
        100,
        {
            "ts": F.timestamp_seconds(F.lit(1700000000) + F.col("id")),
            "key": F.concat(F.lit("k"), (F.col("id") % 4).cast("string")),
            "v": (F.col("id") * 2 + 1),
        },
        partitions=4,
    )
    rows = df.collect()
    assert len(rows) == 100
    assert {r.key for r in rows} == {"k0", "k1", "k2", "k3"}
    assert sum(r.v for r in rows) == sum(2 * i + 1 for i in range(100))


def test_gen_stream_drains(spark, tmp_path):
    sdf = gen.gen_stream(spark, 50, {"k": (F.col("value") % 3).cast("string")})
    q = (
        sdf.writeStream.format("memory")
        .queryName("t_gen")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(processingTime="1 second")
        .start()
    )
    import time

    deadline = time.time() + 30
    n = 0
    while time.time() < deadline:
        n = spark.sql("SELECT count(*) c FROM t_gen").collect()[0].c
        if n >= 20:
            break
        time.sleep(1)
    q.stop()
    assert n >= 20


def _media_df(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    return docs.select("doc_id", F.encode("text", "utf-8").alias("media"))


def test_multimodal_meta(spark, sf_dir):
    out = M.attach_image_meta(_media_df(spark, sf_dir)).collect()
    assert len(out) == 50
    for r in out:
        assert 16 <= r.width < 80 and 16 <= r.height < 80
        assert r.channels in (1, 2, 3) and r.format == "jpg"


def test_multimodal_features_shape_and_norm(spark, sf_dir):
    out = M.extract_features(_media_df(spark, sf_dir), dim=8).collect()
    for r in out:
        assert len(r.features) == 8
        assert abs(sum(r.features) - 1.0) < 1e-9  # normalized histogram


def test_multimodal_frame_sample(spark, sf_dir):
    df = _media_df(spark, sf_dir).limit(5)
    out = M.frame_sample(df, every=16).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    lens = {r.doc_id: len(bytes(r0.frame)) for r0 in out for r in [r0]}
    src = {r.doc_id: len(bytes(r.media)) for r in df.collect()}
    for did, rows in by_doc.items():
        # frames reassemble to the original payload length
        assert sum(len(bytes(r.frame)) for r in rows) == src[did]
        assert [r.frame_idx for r in sorted(rows, key=lambda r: r.frame_idx)] == list(
            range(len(rows))
        )


def test_kafka_option_builders():
    from wallaroo_spark.sources import kafka

    opts = kafka.source_options("b1:9092,b2:9092", "events", max_offsets_per_trigger=5000)
    assert opts["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    assert opts["subscribe"] == "events"
    assert opts["maxOffsetsPerTrigger"] == "5000"
    assert kafka.sink_options("b:9092", "out")["topic"] == "out"
