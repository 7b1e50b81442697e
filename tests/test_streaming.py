"""Streaming parity tests: the same pipeline on a drained stream
(availableNow) must produce the batch answer — the engine's substitute for
the reference's integration harness (SURVEY §5: window_detector invariants,
exactly-once scripts)."""

import datetime as dt
import shutil
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from wallaroo_spark.operators import windows as W
from wallaroo_spark.streaming import state as S
from wallaroo_spark.sinks import idempotent_parquet_sink

T0 = dt.datetime(2024, 1, 1)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="ws_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _events(spark, n=60, keys=("a", "b", "c")):
    rows = [
        Row(key=k, ts=T0 + dt.timedelta(seconds=3 * i + j), v=float(i + 1))
        for j, k in enumerate(keys)
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


def _stream_from(spark, df, path):
    df.write.mode("overwrite").parquet(path)
    return spark.readStream.schema(df.schema).parquet(path)


def test_stream_tumbling_matches_batch(spark, tmpdir):
    df = _events(spark)
    sdf = _stream_from(spark, df, tmpdir + "/in")
    windowed = (
        sdf.withWatermark("ts", "10 seconds")
        .groupBy("key", F.window("ts", "30 seconds").alias("w"))
        .agg(F.sum("v").alias("s"))
        .select("key", F.col("w.start").alias("ws"), "s")
    )
    q = (
        windowed.writeStream.format("memory")
        .queryName("t_tumb")
        .outputMode("append")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.key, r.ws): r.s for r in spark.sql("SELECT * FROM t_tumb").collect()
    }
    want = {
        (r.key, r.window_start): r.s
        for r in W.tumbling(df, "ts", ["key"], [F.sum("v").alias("s")], "30 seconds").collect()
    }
    # append mode emits only watermark-closed windows; all closed ones must match
    assert got
    for k, v in got.items():
        assert want[k] == v
    # and the open tail is the only difference
    assert len(want) - len(got) <= len({r[0] for r in want})


def test_stream_count_windows_match_batch(spark, tmpdir):
    df = _events(spark, n=23)
    sdf = _stream_from(spark, df, tmpdir + "/in")
    out = S.count_window_stream(sdf, ["key"], value_col="v", n=5, ts_col="ts")
    q = (
        out.writeStream.format("memory")
        .queryName("t_cw")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.key, r.window_id): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM t_cw").collect()
    }
    want = {
        (r.key, r.window_id): (r.c, r.s)
        for r in W.count_windows(
            df, "ts", ["key"], [F.count("*").alias("c"), F.sum("v").alias("s")], n=5
        ).collect()
        if r.c == 5  # stream emits only complete windows; partial tail stays in state
    }
    assert got == want


def test_stream_keyed_state_running_total(spark, tmpdir):
    df = _events(spark, n=10, keys=("a", "b"))
    sdf = _stream_from(spark, df, tmpdir + "/in")

    def run_total(row, state):
        state["t"] = state.get("t", 0.0) + row["v"]
        return [{"key": row["key"], "ts": row["ts"], "t": state["t"]}]

    out = S.keyed_state_stream(
        sdf,
        ["key"],
        run_total,
        dict,
        "key string, ts timestamp, t double",
        "t double",
        pack=lambda st: (st.get("t", 0.0),),
        unpack=lambda tup: {"t": tup[0]},
        ts_col="ts",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_state")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM t_state ORDER BY key, ts").collect()
    a = [r.t for r in rows if r.key == "a"]
    assert a == [1.0, 3.0, 6.0, 10.0, 15.0, 21.0, 28.0, 36.0, 45.0, 55.0]


def test_stream_state_survives_restart(spark, tmpdir):
    """Checkpoint recovery: second half of the data arrives after a restart;
    running totals continue from state (reference: rollback/recovery tests)."""
    df = _events(spark, n=10, keys=("a",))
    first, second = df.filter(F.col("v") <= 5), df.filter(F.col("v") > 5)

    def run_total(row, state):
        state["t"] = state.get("t", 0.0) + row["v"]
        return [{"key": row["key"], "t": state["t"]}]

    sink = idempotent_parquet_sink(tmpdir + "/out")

    def start(path):
        sdf = spark.readStream.schema(df.schema).parquet(path)
        out = S.keyed_state_stream(
            sdf, ["key"], run_total, dict,
            "key string, t double", "t double",
            pack=lambda st: (st.get("t", 0.0),),
            unpack=lambda tup: {"t": tup[0]},
            ts_col="ts",
        )
        return (
            out.writeStream.foreachBatch(sink)
            .outputMode("update").option("checkpointLocation", tmpdir + "/chk")
            .trigger(availableNow=True).start()
        )

    first.write.mode("overwrite").parquet(tmpdir + "/in")
    q = start(tmpdir + "/in")
    q.awaitTermination(120)
    second.write.mode("append").parquet(tmpdir + "/in")
    q2 = start(tmpdir + "/in")
    q2.awaitTermination(120)
    totals = sorted(
        r.t for r in spark.read.option("recursiveFileLookup", "true").parquet(tmpdir + "/out").collect()
    )
    assert totals == [1.0, 3.0, 6.0, 10.0, 15.0, 21.0, 28.0, 36.0, 45.0, 55.0]


def test_to_sinks_exactly_once_after_midstream_kill(spark, tmpdir):
    """S14 to_sinks: a crash BETWEEN the two writers of a batch, then
    restart — both sinks must end exactly-once (reference
    `application.pony:193-219` + the effectively-once crash scripts)."""
    import os

    from wallaroo_spark.api import Pipeline
    from wallaroo_spark.sinks import fanout_sink, idempotent_parquet_sink

    df = _events(spark, n=10, keys=("a", "b"))
    # two input files => two micro-batches under maxFilesPerTrigger=1
    df.filter(F.col("v") <= 5).write.mode("overwrite").parquet(tmpdir + "/in")
    df.filter(F.col("v") > 5).write.mode("append").parquet(tmpdir + "/in")

    sink_a = idempotent_parquet_sink(tmpdir + "/a")
    inner_b = idempotent_parquet_sink(tmpdir + "/b")
    bomb = tmpdir + "/bomb"
    open(bomb, "w").close()

    def sink_b(bdf, batch_id):
        if batch_id >= 1 and os.path.exists(bomb):
            raise RuntimeError("injected crash: sink A committed, sink B did not")
        inner_b(bdf, batch_id)

    def start():
        sdf = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(tmpdir + "/in")
        )
        p = Pipeline.source_df(sdf, ts_col="ts").to(F.col("v") > 0)
        return p.to_sinks([sink_a, sink_b], tmpdir + "/chk", output_mode="append")

    q = start()
    with pytest.raises(Exception):
        q.awaitTermination(120)  # dies on the injected batch-1 crash
    os.remove(bomb)
    q2 = start()  # recovery: batch 1 replays from the checkpoint WAL
    q2.awaitTermination(120)

    opts = {"recursiveFileLookup": "true"}
    got_a = spark.read.options(**opts).parquet(tmpdir + "/a")
    got_b = spark.read.options(**opts).parquet(tmpdir + "/b")
    want = {(r.key, r.ts, r.v) for r in df.collect()}
    assert {(r.key, r.ts, r.v) for r in got_a.collect()} == want
    assert {(r.key, r.ts, r.v) for r in got_b.collect()} == want
    assert got_a.count() == got_b.count() == 20  # no duplicates either


def test_foreach_batch_sink_idempotent(spark, tmpdir):
    """Exactly-once contract: re-writing the same batchId overwrites, never
    duplicates (reference 2PC semantics, `connector_sink_twopc.pony:36-72`)."""
    df = _events(spark, n=5, keys=("a",))
    sink = idempotent_parquet_sink(tmpdir + "/out")
    sink(df, 0)
    sink(df, 0)  # redelivery of the same batch
    got = spark.read.parquet(tmpdir + "/out").count()
    assert got == 5


def test_pipeline_streaming_tumbling_window(spark, tmpdir):
    """Windows through the facade on a streaming source."""
    from wallaroo_spark.api import Pipeline

    df = _events(spark, n=40, keys=("a", "b"))
    sdf = _stream_from(spark, df, tmpdir + "/in")
    p = (
        Pipeline.source_df(sdf, ts_col="ts")
        .with_watermark("10 seconds")
        .key_by("key")
        .to_tumbling("30 seconds", [F.sum("v").alias("s")])
    )
    q = (
        p.df.writeStream.format("memory")
        .queryName("t_fac_tumb")
        .outputMode("append")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.key, r.window_start): r.s
        for r in spark.sql("SELECT * FROM t_fac_tumb").collect()
    }
    want = {
        (r.key, r.window_start): r.s
        for r in W.tumbling(df, "ts", ["key"], [F.sum("v").alias("s")], "30 seconds").collect()
    }
    assert got and all(want[k] == v for k, v in got.items())


def test_streaming_word_count_example(spark, tmpdir):
    from examples.word_count_streaming import run as wc_run

    q = wc_run(spark, "/root/testdata/sf0.001", tmpdir + "/out", tmpdir + "/chk")
    q.awaitTermination(180)
    res = spark.read.option("recursiveFileLookup", "true").parquet(tmpdir + "/out")
    # final per-word max(count) equals the batch word count
    got = {
        r.word: r.total
        for r in res.groupBy("word").agg(F.max("count").alias("total")).collect()
    }
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    want = {
        r.w: r["count"]
        for r in docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .count()
        .collect()
    }
    assert got == want


def _jittered(spark, n=120, keys=("a", "b")):
    """Deterministically out-of-order events: every 7th message is delivered
    2.5 windows late. arrival = row order."""
    rows = []
    arr = 0
    for k in keys:
        for i in range(n):
            base = 3 * i
            ts = base - 75 if i % 7 == 3 and base >= 75 else base
            rows.append(
                Row(key=k, arr=arr, ts=T0 + dt.timedelta(seconds=ts), v=float(i))
            )
            arr += 1
    return spark.createDataFrame(rows)


@pytest.mark.parametrize("policy", ["drop", "fire_per_message", "place_in_oldest_window"])
def test_stream_late_policy_matches_batch(spark, tmpdir, policy):
    from wallaroo_spark.operators import late_data as L
    from wallaroo_spark.streaming.late import windowed_late_policy_stream

    df = _jittered(spark)
    sdf = _stream_from(spark, df, tmpdir + "/in_" + policy)
    out = windowed_late_policy_stream(
        sdf.withWatermark("ts", "0 seconds"),
        ["key"], "ts", "v", "arr", size_s=30, delay_s=10, policy=policy,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_late_" + policy)
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk_" + policy)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.key, r.window_start, r.is_late_fire): (r.n_events, r.total_value)
        for r in spark.sql(f"SELECT * FROM t_late_{policy}").collect()
    }

    batch = L.windowed_with_late_policy(
        df, "ts", ["key"],
        [F.count("*").alias("n_events"), F.sum("v").alias("total_value")],
        size=30, delay=10, policy=policy, arrival_col="arr",
    ).collect()
    # stream emits fires + windows closed by the final per-key watermark;
    # batch additionally reports the open tail
    final_wm = {}
    for r in df.collect():
        ep = r.ts.timestamp()
        final_wm[r.key] = max(final_wm.get(r.key, ep), ep) - 10
    want = {
        (r.key, r.window_start, r.is_late_fire): (r.n_events, r.total_value)
        for r in batch
        if r.is_late_fire or r.window_start + 30 <= final_wm[r.key]
    }
    assert got == want
    if policy == "fire_per_message":
        assert any(k[2] for k in got)  # late fires actually occurred


def test_idle_source_watermark_divergence(spark, tmpdir):
    """Reference evicts idle upstreams from the watermark min
    (`watermarks.pony:81-123`), so a stalled source doesn't stall everyone.
    Spark's global watermark = min across sources (multipleWatermarkPolicy)
    has NO such eviction: this test demonstrates the native stall, and that
    our keyed-state operators (per-key watermark + EventTimeTimeout flush)
    keep flushing the live source's windows anyway — the engine's documented
    mitigation (SURVEY §4)."""
    # source A: 300s of data; source B: goes idle after 30s
    a = _events(spark, n=100, keys=("a",))  # ts 0..297s
    b = _events(spark, n=10, keys=("b",))  # ts 1..28s, then idle
    a.write.mode("overwrite").parquet(tmpdir + "/a")
    b.write.mode("overwrite").parquet(tmpdir + "/b")
    sa = spark.readStream.schema(a.schema).parquet(tmpdir + "/a")
    sb = spark.readStream.schema(b.schema).parquet(tmpdir + "/b")
    # one watermark operator PER source (the multi-source topology): the
    # query's global watermark = min across them (multipleWatermarkPolicy)
    union = sa.withWatermark("ts", "0 seconds").unionByName(
        sb.withWatermark("ts", "0 seconds")
    )

    # native path: windows close only under the GLOBAL watermark = min over
    # sources => the idle source pins it at ~28s; key a's later windows stall
    native = (
        union.groupBy("key", F.window("ts", "30 seconds").alias("w"))
        .agg(F.sum("v").alias("s"))
        .select("key", F.col("w.start").cast("double").cast("long").alias("ws"), "s")
    )
    q = (
        native.writeStream.format("memory")
        .queryName("t_idle_native")
        .outputMode("append")
        .option("checkpointLocation", tmpdir + "/chk_native")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    native_rows = spark.sql("SELECT * FROM t_idle_native").collect()
    t0 = T0.timestamp()
    stalled_max_end = max((r.ws + 30 - t0 for r in native_rows), default=0)
    assert stalled_max_end <= 30 + 30  # nothing past the idle source's watermark

    # engine path: per-key watermark + event-time-timeout flush — key a's
    # windows keep closing while b is idle
    from wallaroo_spark.api.aggregation import Aggregation, windowed_agg_stream

    class SumAgg(Aggregation):
        def initial_accumulator(self):
            return {"t": 0.0}

        def update(self, rec, acc):
            acc["t"] += rec["v"]

        def combine(self, x, y):
            return {"t": x["t"] + y["t"]}

        def output(self, key, acc):
            return {"s": acc["t"]}

    ours = windowed_agg_stream(union, ["key"], "ts", SumAgg(), "s double", 30)
    q2 = (
        ours.writeStream.format("memory")
        .queryName("t_idle_ours")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk_ours")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    our_rows = spark.sql("SELECT * FROM t_idle_ours WHERE key = 'a'").collect()
    our_max_end = max(r.window_end - t0 for r in our_rows)
    assert our_max_end >= 270  # flushed far past the idle source's stall point
    # and values match the batch computation for key a's closed windows
    want = {
        (r.key, r.ws): r.s
        for r in a.groupBy("key", F.window("ts", "30 seconds").alias("w"))
        .agg(F.sum("v").alias("s"))
        .select("key", F.col("w.start").cast("double").cast("long").alias("ws"), "s")
        .collect()
    }
    for r in our_rows:
        assert want[(r.key, r.window_start)] == r.s


def test_stream_merge_two_sources(spark, tmpdir):
    """S13 merge on streams: two file streams unioned into one query."""
    a = _events(spark, n=10, keys=("a",))
    b = _events(spark, n=10, keys=("b",))
    a.write.mode("overwrite").parquet(tmpdir + "/a")
    b.write.mode("overwrite").parquet(tmpdir + "/b")
    sa = spark.readStream.schema(a.schema).parquet(tmpdir + "/a")
    sb = spark.readStream.schema(b.schema).parquet(tmpdir + "/b")
    from wallaroo_spark.api import Pipeline

    p = Pipeline.source_df(sa, ts_col="ts").merge(Pipeline.source_df(sb, ts_col="ts"))
    agg = p.df.groupBy("key").count()
    q = (
        agg.writeStream.format("memory")
        .queryName("t_merge")
        .outputMode("complete")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.key: r["count"] for r in spark.sql("SELECT * FROM t_merge").collect()}
    assert got == {"a": 10, "b": 10}


def test_stream_countmin_cells_match_batch(spark, tmpdir):
    """Streaming count-min: the cell layout is a plain keyed running count,
    so the sketch streams NATIVELY (update-mode groupBy, bounded depth*width
    state) — drained cells must equal the batch sketch exactly."""
    from wallaroo_spark.operators.sketch import countmin_build

    rows = [Row(word=f"w{i % 17}") for i in range(400)]
    df = spark.createDataFrame(rows)
    df.write.mode("overwrite").parquet(tmpdir + "/in")
    sdf = spark.readStream.schema(df.schema).parquet(tmpdir + "/in")

    out = countmin_build(sdf, "word", depth=4, width=64)
    q = (
        out.writeStream.format("memory")
        .queryName("t_cms")
        .outputMode("complete")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.row, r.col): r.cnt for r in spark.sql("SELECT * FROM t_cms").collect()
    }
    want = {
        (r.row, r.col): r.cnt
        for r in countmin_build(df, "word", depth=4, width=64).collect()
    }
    assert got == want and len(want) <= 4 * 64


def test_stream_misra_gries_heavy_hitters(spark, tmpdir):
    """Bounded-state streaming heavy hitters: with capacity m, every item
    with true count > N/m survives, and true - N/m <= est <= true."""
    import random

    from wallaroo_spark.streaming.sketch import heavy_hitters_stream

    rnd = random.Random(11)
    # skewed stream: token w0 is ~30% of traffic, long tail behind it
    words = ["w0" if rnd.random() < 0.3 else f"w{rnd.randint(1, 60)}" for _ in range(2000)]
    df = spark.createDataFrame([Row(grp="g", word=w) for w in words])
    df.write.mode("overwrite").parquet(tmpdir + "/in")
    sdf = spark.readStream.schema(df.schema).parquet(tmpdir + "/in")

    capacity = 16
    out = heavy_hitters_stream(sdf, ["grp"], "word", capacity=capacity)
    q = (
        out.writeStream.format("memory")
        .queryName("t_mg")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM t_mg WHERE n_seen = (SELECT max(n_seen) FROM t_mg)").collect()
    est = {r.word: r.est_count for r in rows}
    n = rows[0].n_seen
    assert n == len(words) and len(est) <= capacity

    from collections import Counter

    true = Counter(words)
    err = n / capacity
    for w, t in true.items():
        if t > err:  # guaranteed present
            assert w in est, (w, t, err)
    for w, e in est.items():
        assert true[w] - err <= e <= true[w], (w, e, true[w])
    assert est.get("w0", 0) >= true["w0"] - err  # the skew king survives


def test_stream_session_windows_match_batch(spark, tmpdir):
    """Native session windows on a stream (S11's gap-based approximation):
    drained closed sessions equal the batch session aggregation."""
    # bursty traffic: 5-event bursts separated by 60s silences => sessions
    rows = [
        Row(key=k, ts=T0 + dt.timedelta(seconds=burst * 100 + i * 5), v=1.0)
        for k in ("a", "b")
        for burst in range(6)
        for i in range(5)
    ]
    df = spark.createDataFrame(rows)
    sdf = _stream_from(spark, df, tmpdir + "/in")
    out = (
        sdf.withWatermark("ts", "0 seconds")
        .groupBy("key", F.session_window("ts", "30 seconds").alias("w"))
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .select("key", F.col("w.start").alias("ws"), "n", "s")
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_sess")
        .outputMode("append")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.key, r.ws): (r.n, r.s) for r in spark.sql("SELECT * FROM t_sess").collect()
    }
    want = {
        (r.key, r.ws): (r.n, r.s)
        for r in df.groupBy("key", F.session_window("ts", "30 seconds").alias("w"))
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .select("key", F.col("w.start").alias("ws"), "n", "s")
        .collect()
    }
    # append emits watermark-closed sessions; the last burst per key may
    # stay open
    assert got
    for k, v in got.items():
        assert want[k] == v
    assert len(want) - len(got) <= 2


def test_ephemeral_event_time_timeout_fires(spark, tmpdir):
    """The gs.hasTimedOut flush path actually fires: key 'a' opens a window
    in batch 1 and then goes silent; batch 2 carries only key 'b' far in the
    future, advancing the global watermark past a's deadline — a's window
    must be emitted CLOSED by the event-time TIMER, not by a's own data
    (the reference's step-timeout flush, `runner.pony:465-501`)."""
    from wallaroo_spark.streaming.ephemeral import ephemeral_windows_stream

    a = spark.createDataFrame(
        [Row(key="a", ts=T0 + dt.timedelta(seconds=i), v=1.0) for i in range(5)]
    )
    b = spark.createDataFrame(
        [Row(key="b", ts=T0 + dt.timedelta(seconds=10_000 + i), v=1.0) for i in range(3)]
    )
    a.coalesce(1).write.mode("overwrite").parquet(tmpdir + "/in")
    b.coalesce(1).write.mode("append").parquet(tmpdir + "/in")
    sdf = (
        spark.readStream.schema(a.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmpdir + "/in")
    )
    out = ephemeral_windows_stream(
        sdf.withWatermark("ts", "0 seconds"), ["key"], "ts", "v",
        trigger_range_s=30, post_trigger_range_s=10,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_eph_timer")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM t_eph_timer WHERE key = 'a'").collect()
    # a sent 5 events then went silent: only the timer can close its window
    assert len(rows) == 1
    r = rows[0]
    assert r.closed and r.n_events == 5 and r.total_value == 5.0
    assert r.window_start == T0.replace(tzinfo=dt.timezone.utc).timestamp()


def test_late_policy_event_time_timeout_fires(spark, tmpdir):
    """Same timer-flush proof for the late-policy operator: key 'a' leaves
    an open window; key 'b' advances the watermark; a's window flushes via
    gs.hasTimedOut."""
    from wallaroo_spark.streaming.late import windowed_late_policy_stream

    a = spark.createDataFrame(
        [Row(key="a", arr=i, ts=T0 + dt.timedelta(seconds=i), v=1.0) for i in range(5)]
    )
    b = spark.createDataFrame(
        [Row(key="b", arr=100 + i, ts=T0 + dt.timedelta(seconds=10_000 + i), v=1.0) for i in range(3)]
    )
    # one file per frame => exactly two micro-batches (a part-file split
    # would let b's watermark jump make a's remaining rows late)
    a.coalesce(1).write.mode("overwrite").parquet(tmpdir + "/in")
    b.coalesce(1).write.mode("append").parquet(tmpdir + "/in")
    sdf = (
        spark.readStream.schema(a.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmpdir + "/in")
    )
    out = windowed_late_policy_stream(
        sdf.withWatermark("ts", "0 seconds"),
        ["key"], "ts", "v", "arr", size_s=30, delay_s=10, policy="drop",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_late_timer")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM t_late_timer WHERE key = 'a'").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_events, r.total_value, r.is_late_fire) == (5, 5.0, False)


def test_stream_exact_dedup_within_watermark(spark, tmpdir):
    """Streaming exact dedup: duplicates across micro-batches inside the
    watermark horizon are suppressed; state is horizon-bounded."""
    from wallaroo_spark.operators.dedup import exact_dedup_stream

    b1 = spark.createDataFrame(
        [Row(content=f"doc{i % 4}", ts=T0 + dt.timedelta(seconds=i)) for i in range(8)]
    )
    # batch 2 repeats the same content keys shortly after
    b2 = spark.createDataFrame(
        [Row(content=f"doc{i % 4}", ts=T0 + dt.timedelta(seconds=20 + i)) for i in range(8)]
    )
    b1.coalesce(1).write.mode("overwrite").parquet(tmpdir + "/in")
    b2.coalesce(1).write.mode("append").parquet(tmpdir + "/in")
    sdf = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmpdir + "/in")
    )
    out = exact_dedup_stream(sdf, ["content"], "ts", "10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM t_dedup").collect()
    # all 16 inputs collapse to the 4 distinct contents, across batches
    assert sorted(r.content for r in rows) == ["doc0", "doc1", "doc2", "doc3"]


def test_stream_heavy_hitters_int_items_across_batches(spark, tmpdir):
    """ADVICE r2: the MG counter state is map<string,bigint>; non-string
    item columns must be canonicalized to string or counts silently split
    after a state round-trip (restored keys str, live items int)."""
    from wallaroo_spark.streaming.sketch import heavy_hitters_stream

    b1 = spark.createDataFrame([Row(grp="g", item=7) for _ in range(5)]
                               + [Row(grp="g", item=3)])
    b2 = spark.createDataFrame([Row(grp="g", item=7) for _ in range(5)])
    b1.coalesce(1).write.mode("overwrite").parquet(tmpdir + "/in")
    b2.coalesce(1).write.mode("append").parquet(tmpdir + "/in")
    sdf = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmpdir + "/in")
    )
    out = heavy_hitters_stream(sdf, ["grp"], "item", capacity=8)
    q = (
        out.writeStream.format("memory")
        .queryName("t_mg_int")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT * FROM t_mg_int WHERE n_seen = (SELECT max(n_seen) FROM t_mg_int)"
    ).collect()
    est = {r.item: r.est_count for r in rows}
    # one counter for item 7 holding the full cross-batch count of 10
    assert est.get("7") == 10 and sum(1 for k in est if k == "7") == 1


def test_stream_minhash_lsh_pairs_match_batch(spark, tmpdir):
    """Streaming banded-LSH near-dup (verdict r3 #4): with a horizon
    covering the whole stream, drained stream pairs == batch
    minhash_lsh_pairs (same signatures, same banding, exact verify)."""
    from wallaroo_spark.operators.dedup import minhash_lsh_pairs
    from wallaroo_spark.streaming.dedup import minhash_lsh_pairs_stream
    from wallaroo_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text",
        (F.lit(T0) + F.make_interval(secs=F.col("doc_id"))).alias("ts"),
    )
    docs.coalesce(1).write.mode("overwrite").parquet(tmpdir + "/in")
    sdf = spark.readStream.schema(docs.schema).parquet(tmpdir + "/in")
    out = minhash_lsh_pairs_stream(sdf, "ts", delay_s=10**6, threshold=0.5)
    q = (
        out.writeStream.format("memory")
        .queryName("t_mh_stream")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in spark.sql("SELECT * FROM t_mh_stream").collect()
    }
    want = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(
            read_table(spark, "/root/testdata/sf0.001", "documents"), threshold=0.5
        ).collect()
    }
    assert got == want and want


def test_stream_minhash_state_restores_across_batches(spark, tmpdir):
    """Near-dup across MICRO-BATCHES: doc A in batch 1, its near-dup B in
    batch 2 — the band-bucket member state (arrays of binary-packed int64
    sets) must survive the state-store round trip (the map/array cell
    type-coercion gotcha class)."""
    from wallaroo_spark.streaming.dedup import minhash_lsh_pairs_stream

    t_a = "the quick brown fox jumps over the lazy dog again and again"
    t_b = "the quick brown fox jumps over the lazy dog again and again today"
    b1 = spark.createDataFrame([Row(doc_id=1, text=t_a, ts=T0)])
    b2 = spark.createDataFrame(
        [Row(doc_id=2, text=t_b, ts=T0 + dt.timedelta(seconds=5))]
    )
    b1.coalesce(1).write.mode("overwrite").parquet(tmpdir + "/in")
    b2.coalesce(1).write.mode("append").parquet(tmpdir + "/in")
    sdf = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmpdir + "/in")
    )
    out = minhash_lsh_pairs_stream(sdf, "ts", delay_s=3600, threshold=0.5)
    q = (
        out.writeStream.format("memory")
        .queryName("t_mh_restore")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM t_mh_restore").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b) == (1, 2) and r.jaccard >= 0.5


def test_stream_minhash_idle_bucket_cleared_by_timer(spark, tmpdir):
    """The timer path: doc 1's band buckets go idle; doc 2, far in the
    future, moves the watermark past their horizon, and their event-time
    timers clear them — only doc 2's buckets stay in the state store."""
    from wallaroo_spark.functions import hashing as H
    from wallaroo_spark.streaming.dedup import minhash_lsh_pairs_stream

    b1 = spark.createDataFrame(
        [Row(doc_id=1, text="one two three four five six seven eight nine ten", ts=T0)]
    )
    b2 = spark.createDataFrame(
        [Row(doc_id=2, text="alpha beta gamma delta epsilon zeta eta theta",
             ts=T0 + dt.timedelta(seconds=10_000))]
    )
    b1.coalesce(1).write.mode("overwrite").parquet(tmpdir + "/in")
    b2.coalesce(1).write.mode("append").parquet(tmpdir + "/in")
    sdf = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmpdir + "/in")
    )
    out = minhash_lsh_pairs_stream(sdf, "ts", delay_s=60, threshold=0.5)
    q = (
        out.writeStream.format("memory")
        .queryName("t_mh_timer")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.sql("SELECT * FROM t_mh_timer").count() == 0
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == H.LSH_BANDS


def test_stream_minhash_evicts_beyond_horizon(spark, tmpdir):
    """Docs farther apart than the lateness horizon must NOT pair (the
    watermark bounds state, and the guarantee window with it)."""
    from wallaroo_spark.streaming.dedup import minhash_lsh_pairs_stream

    t = "one two three four five six seven eight nine ten"
    b1 = spark.createDataFrame([Row(doc_id=1, text=t, ts=T0)])
    b2 = spark.createDataFrame(
        [Row(doc_id=2, text=t, ts=T0 + dt.timedelta(seconds=500))]
    )
    b1.coalesce(1).write.mode("overwrite").parquet(tmpdir + "/in")
    b2.coalesce(1).write.mode("append").parquet(tmpdir + "/in")
    sdf = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmpdir + "/in")
    )
    out = minhash_lsh_pairs_stream(sdf, "ts", delay_s=60, threshold=0.5)
    q = (
        out.writeStream.format("memory")
        .queryName("t_mh_evict")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.sql("SELECT * FROM t_mh_evict").count() == 0


def test_windowed_cms_aggregation_stream_matches_native_batch(spark, tmpdir):
    """NOTES r2 candidate #1: per-(key,window) CMS with bounded streaming
    state. The CountMinAggregation (Aggregation facade, watermark-evicted
    window state) drained over a stream must reproduce the native batch
    windowed sketch cell-for-cell."""
    import random

    from wallaroo_spark.api import aggregation as A
    from wallaroo_spark.operators.sketch import (
        CountMinAggregation, countmin_build_windowed,
    )

    rnd = random.Random(5)
    rows = [
        Row(
            k="g",
            ts=T0 + dt.timedelta(seconds=rnd.randint(0, 7199)),
            item=f"u{rnd.randint(0, 40)}",
        )
        for _ in range(800)
    ] + [Row(k="g", ts=T0 + dt.timedelta(seconds=7300), item="closer")]
    df = spark.createDataFrame(rows)
    df.coalesce(1).write.mode("overwrite").parquet(tmpdir + "/in")

    depth, width = 4, 32
    agg = CountMinAggregation("item", depth=depth, width=width)
    sdf = spark.readStream.schema(df.schema).parquet(tmpdir + "/in")
    out = A.windowed_agg_stream(
        sdf.withWatermark("ts", "0 seconds"), ["k"], "ts", agg,
        "cells string", 3600,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_cms_win")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.window_start: [int(x) for x in r.cells.split(",")]
        for r in spark.sql("SELECT * FROM t_cms_win").collect()
    }

    native = countmin_build_windowed(df, "item", "ts", "1 hour", depth=depth, width=width)
    want = {}
    for r in native.collect():
        ws = int(r.window_start.timestamp())
        want.setdefault(ws, [0] * (depth * width))[r.row * width + r.col] = r.cnt
    # the stream emits per-key-watermark-closed windows (the 7300s closer
    # seals both full hours); native includes the closer's own open window
    for ws, cells in got.items():
        assert cells == want[ws], ws
    assert len(got) == 2  # both full hourly windows closed and emitted


def test_transactional_sink_exactly_once_visibility(spark, tmpdir):
    """2PC sink: streamed rows are visible exactly once; a redelivered
    batch (crash-after-commit replay) commits nothing new."""
    from wallaroo_spark.sinks import TransactionalParquetSink

    df = spark.createDataFrame([Row(k=i, v=float(i)) for i in range(100)])
    df.coalesce(2).write.mode("overwrite").parquet(tmpdir + "/in")
    sink = TransactionalParquetSink(tmpdir + "/out")
    sdf = spark.readStream.schema(df.schema).parquet(tmpdir + "/in")
    q = (
        sdf.writeStream.foreachBatch(sink)
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(r.k for r in sink.read(spark).collect()) == list(range(100))

    # redeliver batch 0 (the post-crash WAL replay): must be a no-op
    sink(df, 0)
    assert sorted(r.k for r in sink.read(spark).collect()) == list(range(100))


def test_transactional_sink_orphan_stage_invisible(spark, tmpdir):
    """Crash BETWEEN prepare and commit: the staged attempt is never
    visible, the retry commits exactly once, vacuum clears the orphan."""
    import os

    from wallaroo_spark.sinks import TransactionalParquetSink

    sink = TransactionalParquetSink(tmpdir + "/out")
    df = spark.createDataFrame([Row(k=i) for i in range(10)])

    # simulate the crash: stage the data but die before the commit record
    orphan = os.path.join(tmpdir, "out", "_staged", "batch=7-deadbeef")
    df.write.mode("overwrite").parquet(orphan)
    # retry of batch 7 after recovery
    sink(df, 7)
    rows = sorted(r.k for r in sink.read(spark).collect())
    assert rows == list(range(10))  # once, not twice
    assert sink.vacuum() == 1  # the orphan attempt is garbage, now gone
    assert sorted(r.k for r in sink.read(spark).collect()) == list(range(10))


def test_transactional_sink_commit_race_keeps_single_attempt(spark, tmpdir):
    """Two attempts for the same batchId racing to commit: exactly one
    wins; the loser's staged files are dropped."""
    import os

    from wallaroo_spark.sinks import TransactionalParquetSink

    sink = TransactionalParquetSink(tmpdir + "/out")
    df = spark.createDataFrame([Row(k=i) for i in range(5)])
    sink(df, 3)
    first = sink.committed_paths()
    sink(df, 3)  # second attempt must lose and clean up
    assert sink.committed_paths() == first
    staged = os.listdir(os.path.join(tmpdir, "out", "_staged"))
    assert len(staged) == 1  # only the winning attempt remains


def test_windowed_histogram_aggregation_stream_matches_batch(spark, tmpdir):
    """Streaming quantile-sketch path: the HistogramAggregation drained
    over a stream reproduces the batch per-window clamped-bin counts
    bin-for-bin (same function histogram_quantiles builds on)."""
    import random

    from wallaroo_spark.api import aggregation as A
    from wallaroo_spark.operators.sketch import HistogramAggregation

    rnd = random.Random(11)
    rows = [
        Row(k="g", ts=T0 + dt.timedelta(seconds=rnd.randint(0, 7199)),
            value=rnd.uniform(-10, 600))
        for _ in range(600)
    ] + [Row(k="g", ts=T0 + dt.timedelta(seconds=7300), value=1.0)]
    df = spark.createDataFrame(rows)
    df.coalesce(1).write.mode("overwrite").parquet(tmpdir + "/in")

    bins, lo, hi = 32, 0.0, 512.0
    agg = HistogramAggregation("value", bins=bins, lo=lo, hi=hi)
    sdf = spark.readStream.schema(df.schema).parquet(tmpdir + "/in")
    out = A.windowed_agg_stream(
        sdf.withWatermark("ts", "0 seconds"), ["k"], "ts", agg, "cells string", 3600
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_hist_win")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.window_start: [int(x) for x in r.cells.split(",")]
        for r in spark.sql("SELECT * FROM t_hist_win").collect()
    }

    width = (hi - lo) / bins
    b = F.least(F.lit(bins - 1), F.greatest(F.lit(0), F.floor((F.col("value") - lo) / width).cast("int")))
    native = (
        df.groupBy(F.window("ts", "1 hour").alias("w"), b.alias("bin"))
        .count()
        .collect()
    )
    want = {}
    for r in native:
        ws = int(r.w.start.timestamp())
        want.setdefault(ws, [0] * bins)[r.bin] = r["count"]
    assert len(got) == 2  # both sealed hourly windows
    for ws, cells in got.items():
        assert cells == want[ws], ws


def test_idle_heartbeat_fires_stalled_native_windows(spark, tmpdir):
    """Idle-upstream mitigation (reference watermarks.pony:73-123): with no
    heartbeat, an idle source freezes the watermark and the trailing native
    window never fires in append mode; with heartbeat ticks unioned in, the
    watermark passes it and the window emits — and no heartbeat row leaks
    into the aggregation."""
    import datetime as dt

    from pyspark.sql import Row

    from wallaroo_spark.streaming.heartbeat import with_idle_heartbeat

    T0 = dt.datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [Row(k="a", ts=T0 + dt.timedelta(seconds=s), v=1.0) for s in (10, 40, 70, 100)]
    )
    events.coalesce(1).write.parquet(tmpdir + "/ev")

    def run(name, hb_df):
        sdf = spark.readStream.schema(events.schema).parquet(tmpdir + "/ev")
        src = (
            with_idle_heartbeat(sdf, "ts", "0 seconds", heartbeats=hb_df)
            if hb_df is not None
            else sdf.withWatermark("ts", "0 seconds")
        )
        agg = (
            src.groupBy(F.window("ts", "60 seconds"), "k")
            .agg(F.count("*").alias("n"))
            .select(F.col("window.start").alias("ws"), "k", "n")
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tmpdir + f"/ck_{name}")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return {
            (r.ws, r.k): r.n for r in spark.sql(f"SELECT * FROM {name}").collect()
        }

    # idle source, no heartbeat: watermark stops at 100s -> only [0,60) fires
    assert run("no_hb", None) == {(T0, "a"): 2}

    # heartbeat ticks past the stall (wall-clock stand-ins at +200s/+300s):
    # watermark advances while the source idles -> [60,120) fires too
    hb = spark.createDataFrame(
        [Row(ts=T0 + dt.timedelta(seconds=s)) for s in (200, 300)]
    )
    hb.coalesce(1).write.parquet(tmpdir + "/hb")
    hb_stream = spark.readStream.schema(hb.schema).parquet(tmpdir + "/hb")
    got = run("with_hb", hb_stream)
    assert got == {
        (T0, "a"): 2,
        (T0 + dt.timedelta(seconds=60), "a"): 2,
    }  # all rows are REAL events; heartbeat rows never reach the agg


def test_idle_heartbeat_default_rate_source_starts(spark, tmpdir):
    """The DEFAULT heartbeat path (no injected heartbeats DF) must build a
    valid rate source and actually run a batch — guards the rowsPerSecond
    option format (the rate source Long-parses it; a float string crashes
    at stream start)."""
    import time

    from wallaroo_spark.streaming.heartbeat import with_idle_heartbeat

    src = tmpdir + "/src"
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1))], "k long, ts timestamp"
    ).write.parquet(src)
    sdf = spark.readStream.schema("k long, ts timestamp").parquet(src)
    merged = with_idle_heartbeat(sdf, "ts", "10 seconds", tick_s=0.25)
    q = (
        merged.groupBy("k")
        .count()
        .writeStream.format("memory")
        .queryName("hb_default")
        .option("checkpointLocation", tmpdir + "/ck")
        .outputMode("update")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if q.lastProgress and q.lastProgress["batchId"] >= 1:
                break
            if q.exception() is not None:
                raise AssertionError(q.exception())
            time.sleep(0.5)
        assert q.exception() is None
        rows = spark.sql("SELECT * FROM hb_default").collect()
        assert [(r.k, r["count"]) for r in rows if r.k is not None] == [(1, 1)]
    finally:
        q.stop()


def test_stream_token_budget_admit_matches_batch(spark, tmpdir):
    """Streaming budget admission (round-7 #3): feed the documents stream in
    the batch operator's salted-bucket-then-id order; the drained admitted
    set must equal batch token_budget_admit exactly (same prefix cut, same
    cum_tokens)."""
    from wallaroo_spark.operators.text import _budget_bucket, token_budget_admit
    from wallaroo_spark.sources import read_table
    from wallaroo_spark.streaming.admission import token_budget_admit_stream

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "source", "doc_id", "text",
        (
            F.lit(T0)
            + F.make_interval(
                secs=_budget_bucket("doc_id", 256) * 100000 + F.col("doc_id")
            )
        ).alias("ts"),
    )
    docs.coalesce(1).write.mode("overwrite").parquet(tmpdir + "/in")
    sdf = spark.readStream.schema(docs.schema).parquet(tmpdir + "/in")
    out = token_budget_admit_stream(sdf, budget=1500, domain="source")
    q = (
        out.writeStream.format("memory")
        .queryName("t_budget_stream")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.source, r.doc_id): (r.n_tokens, r.cum_tokens)
        for r in spark.sql("SELECT * FROM t_budget_stream").collect()
    }
    want = {
        (r.source, r.doc_id): (r.n_tokens, r.cum_tokens)
        for r in token_budget_admit(
            read_table(spark, "/root/testdata/sf0.001", "documents"),
            budget=1500,
            domain="source",
        ).collect()
    }
    assert got == want and want


def test_stream_token_budget_prefix_cut_across_batches(spark, tmpdir):
    """The budget counter must survive micro-batch boundaries, and the cut
    is a PREFIX cut: a rejected doc still consumes budget, so a later
    smaller doc is NOT back-filled (matches the batch filter cum<=budget)."""
    from wallaroo_spark.streaming.admission import token_budget_admit_stream

    def doc(i, words, ts_off):
        return Row(
            source="s", doc_id=i, text=" ".join(["w"] * words),
            ts=T0 + dt.timedelta(seconds=ts_off),
        )

    b1 = spark.createDataFrame([doc(1, 5, 0), doc(2, 5, 1)])
    b2 = spark.createDataFrame([doc(3, 5, 2), doc(4, 1, 3)])
    b1.coalesce(1).write.mode("overwrite").parquet(tmpdir + "/in")
    b2.coalesce(1).write.mode("append").parquet(tmpdir + "/in")
    sdf = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmpdir + "/in")
    )
    # budget 12: docs 1,2 admitted (10); doc 3 overflows (15) and is
    # rejected but still counts; doc 4 (1 token, total 16) must NOT be
    # admitted even though 10+1 <= 12 — prefix-cut, not bin-packing.
    out = token_budget_admit_stream(sdf, budget=12, domain="source")
    q = (
        out.writeStream.format("memory")
        .queryName("t_budget_prefix")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM t_budget_prefix ORDER BY doc_id").collect()
    assert [(r.doc_id, r.n_tokens, r.cum_tokens) for r in rows] == [
        (1, 5, 5),
        (2, 5, 10),
    ]


def test_stream_token_budget_state_survives_restart(spark, tmpdir):
    """Budget-counter checkpoint recovery: docs arriving AFTER a query
    restart must count against the budget already spent before it — the
    admission gate is a durable fact of the corpus, not of the query run."""
    from wallaroo_spark.streaming.admission import token_budget_admit_stream

    def doc(i, words, ts_off):
        return Row(
            source="s", doc_id=i, text=" ".join(["w"] * words),
            ts=T0 + dt.timedelta(seconds=ts_off),
        )

    b1 = spark.createDataFrame([doc(1, 4, 0), doc(2, 4, 1)])
    b2 = spark.createDataFrame([doc(3, 4, 2), doc(4, 4, 3)])

    sink = idempotent_parquet_sink(tmpdir + "/out")

    def start():
        sdf = spark.readStream.schema(b1.schema).parquet(tmpdir + "/in")
        out = token_budget_admit_stream(sdf, budget=10, domain="source")
        return (
            out.writeStream.foreachBatch(sink)
            .option("checkpointLocation", tmpdir + "/chk")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )

    b1.coalesce(1).write.mode("overwrite").parquet(tmpdir + "/in")
    q = start()
    q.awaitTermination(120)
    b2.coalesce(1).write.mode("append").parquet(tmpdir + "/in")
    q2 = start()
    q2.awaitTermination(120)
    rows = sorted(
        (r.doc_id, r.n_tokens, r.cum_tokens)
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(tmpdir + "/out")
        .collect()
    )
    # budget 10: docs 1,2 fit (8); doc 3 (12) and doc 4 (16) rejected —
    # doc 3's rejection depends entirely on restored pre-restart state
    assert rows == [(1, 4, 4), (2, 4, 8)]


def test_read_table_stream_matches_batch_reader(spark, tmpdir):
    """`read_table_stream` (streaming scan of a testdata table): drained
    rows equal the batch reader's, and the normalized timestamp column has
    the same type (ns->us truncated, NTZ cast to watermark-able TIMESTAMP
    under the pinned-UTC session)."""
    from wallaroo_spark.sources import read_table, read_table_stream

    sf = "/root/testdata/sf0.001"
    sdf = read_table_stream(spark, sf, "events")
    assert dict(sdf.dtypes)["ts"] == "timestamp"
    q = (
        sdf.writeStream.format("memory")
        .queryName("t_src_stream")
        .outputMode("append")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.event_id, r.ts, r.user_id, r.value)
        for r in spark.sql("SELECT * FROM t_src_stream").collect()
    }
    want = {
        (r.event_id, r.ts, r.user_id, r.value)
        for r in read_table(spark, sf, "events").collect()
    }
    assert got == want and want


def test_dsir_score_filter_stream_matches_batch(spark, tmpdir):
    """Streamable DSIR gate: the SAME dsir_score_filter call on a streaming
    probe (stream-static broadcast join, append mode) must keep exactly the
    batch-kept docs with identical weights — in-row scoring has no state to
    diverge."""
    from wallaroo_spark.operators.text import dsir_score_filter, dsir_score_map
    from wallaroo_spark.sources import read_table

    sf = "/root/testdata/sf0.001"
    docs = read_table(spark, sf, "documents")
    raw = docs.filter(F.col("source") != "src0")
    model = dsir_score_map(raw, docs.filter(F.col("source") == "src0"))

    want = {
        (r.doc_id, r.dsir_weight)
        for r in dsir_score_filter(raw, model, min_score=-25.0)
        .select("doc_id", "dsir_weight")
        .collect()
    }

    raw.coalesce(1).write.mode("overwrite").parquet(tmpdir + "/in")
    sraw = spark.readStream.schema(raw.schema).parquet(tmpdir + "/in")
    out = dsir_score_filter(sraw, model, min_score=-25.0).select(
        "doc_id", "dsir_weight"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_dsir_stream")
        .outputMode("append")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.doc_id, r.dsir_weight)
        for r in spark.sql("SELECT * FROM t_dsir_stream").collect()
    }
    assert got == want and want


def _chunk_order_token_budget(sdf, n, t0):
    from wallaroo_spark.streaming.admission import token_budget_admit_stream

    # ts ascending = doc_id descending: the LAST 10 ids are admitted
    out = token_budget_admit_stream(sdf, budget=30, domain="source")
    want = [(i, (n - i) * 3) for i in range(n - 10, n)]
    return out, lambda rows: sorted((r.doc_id, r.cum_tokens) for r in rows), want


def _chunk_order_keyed_state(sdf, n, t0):
    def fn(row, state):
        state["n"] += 1
        return [{"key": row["key"], "arr": row["arr"], "seq": state["n"]}]

    out = S.keyed_state_stream(
        sdf, ["key"], fn, lambda: {"n": 0}, "key string, arr bigint, seq bigint",
        "n bigint", pack=lambda s: (s["n"],), unpack=lambda t: {"n": t[0]},
        ts_col="ts",
    )
    # the per-key sequence number read in event order is 1..n
    got = lambda rows: [r.seq for r in sorted(rows, key=lambda r: r.arr)]
    return out, got, list(range(1, n + 1))


def _chunk_order_late_policy(sdf, n, t0):
    from wallaroo_spark.streaming.late import windowed_late_policy_stream

    out = windowed_late_policy_stream(
        sdf.withWatermark("ts", "0 seconds"),
        ["key"], "ts", "v", "arr", size_s=10, delay_s=5, policy="drop",
    )
    # arrival order = event order, so nothing is late: events at +1..+40 s
    # close [0,10) [10,20) [20,30) once the key's watermark reaches 35
    got = lambda rows: sorted((r.window_start - t0, r.n_events, r.is_late_fire) for r in rows)
    return out, got, [(0, 9, False), (10, 10, False), (20, 10, False)]


def _chunk_order_ephemeral(sdf, n, t0):
    from wallaroo_spark.streaming.ephemeral import ephemeral_windows_stream

    out = ephemeral_windows_stream(
        sdf.withWatermark("ts", "0 seconds"), ["key"], "ts", "v", 10, 5
    )
    # one-shot windows opened at +1 and +17 s close at the first event past
    # start + 15 s; the one opened at +33 s stays open
    got = lambda rows: sorted((r.window_start - t0, r.n_events, r.closed) for r in rows)
    return out, got, [(1.0, 16, True), (17.0, 16, True)]


@pytest.mark.parametrize(
    "build",
    [_chunk_order_token_budget, _chunk_order_keyed_state,
     _chunk_order_late_policy, _chunk_order_ephemeral],
    ids=["token_budget", "keyed_state", "late_policy", "ephemeral"],
)
def test_stream_state_order_stable_across_arrow_chunks(spark, tmpdir, build):
    """A key whose micro-batch spans several Arrow chunks must still be
    replayed in global event order: the keyed-state runner gathers the
    chunks and sorts once. Forced with a tiny maxRecordsPerBatch and a
    file whose row order INVERTS event time."""
    n = 40
    rows = [  # file order = descending ts, so chunk order fights ts order
        Row(
            source="s", key="s", doc_id=i, text=" ".join(["w"] * 3),
            ts=T0 + dt.timedelta(seconds=n - i), v=1.0, arr=n - i,
        )
        for i in range(n)
    ]
    spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(
        tmpdir + "/in"
    )
    name = f"t_chunks_{build.__name__}"
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        sdf = spark.readStream.schema(
            spark.read.parquet(tmpdir + "/in").schema
        ).parquet(tmpdir + "/in")
        out, got, want = build(sdf, n, T0.replace(tzinfo=dt.timezone.utc).timestamp())
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", tmpdir + "/chk")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert got(spark.sql(f"SELECT * FROM {name}").collect()) == want


def test_stream_pack_sequences_matches_batch(spark, tmpdir):
    """Online packing parity: feed documents in the batch operator's
    salted-bucket-then-id order; the drained streaming placements must
    equal batch pack_sequences exactly (same seq_id/offset/spans)."""
    from wallaroo_spark.operators.text import _budget_bucket, pack_sequences
    from wallaroo_spark.sources import read_table
    from wallaroo_spark.streaming.admission import pack_sequences_stream

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text",
        (
            F.lit(T0)
            + F.make_interval(
                secs=_budget_bucket("doc_id", 256) * 100000 + F.col("doc_id")
            )
        ).alias("ts"),
    )
    docs.coalesce(1).write.mode("overwrite").parquet(tmpdir + "/in")
    sdf = spark.readStream.schema(docs.schema).parquet(tmpdir + "/in")
    out = pack_sequences_stream(sdf, seq_len=512)
    q = (
        out.writeStream.format("memory")
        .queryName("t_pack_stream")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: (r.n_tokens, r.seq_id, r.seq_offset, r.n_seqs)
        for r in spark.sql("SELECT * FROM t_pack_stream").collect()
    }
    want = {
        r.doc_id: (r.n_tokens, r.seq_id, r.seq_offset, r.n_seqs)
        for r in pack_sequences(
            read_table(spark, "/root/testdata/sf0.001", "documents"), seq_len=512
        ).collect()
    }
    assert got == want and want


def test_online_packing_into_manifest_table_exactly_once(spark, tmpdir):
    """Full online corpus-assembly chain (round-7 #3): doc stream ->
    pack_sequences_stream (placement state) -> ManifestStreamWriter
    (exactly-once manifest commits). Placements accumulated across a
    RESTART equal the batch layout, and a no-new-data replay appends
    nothing."""
    from wallaroo_spark.operators.text import _budget_bucket, pack_sequences
    from wallaroo_spark.sinks.manifest import ManifestStreamWriter, ManifestTable
    from wallaroo_spark.sources import read_table
    from wallaroo_spark.streaming.admission import pack_sequences_stream

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text",
        (
            F.lit(T0)
            + F.make_interval(
                secs=_budget_bucket("doc_id", 256) * 100000 + F.col("doc_id")
            )
        ).alias("ts"),
    )
    half1 = docs.filter(F.col("doc_id") % 2 == 0)
    half2 = docs.filter(F.col("doc_id") % 2 == 1)
    # NB: ts order interleaves halves; placements still match batch because
    # the batch operator's order is (bucket, id) GLOBALLY — so feed half1's
    # ts-earliest ordering first only if it IS the global prefix. It is
    # not — so instead assert against the batch layout of the STREAM's
    # arrival order: batch pack over half1-then-half2 in their own orders.
    table = ManifestTable(str(tmpdir) + "/seq_manifest")
    writer = ManifestStreamWriter(table, query_id="pack")

    def run_once():
        sdf = spark.readStream.schema(docs.schema).parquet(tmpdir + "/in")
        out = pack_sequences_stream(sdf, seq_len=256)
        q = (
            out.writeStream.foreachBatch(writer)
            .outputMode("update")
            .option("checkpointLocation", tmpdir + "/chk")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    half1.coalesce(1).write.mode("overwrite").parquet(tmpdir + "/in")
    run_once()
    v_after_first = table.versions()[-1]
    half2.coalesce(1).write.mode("append").parquet(tmpdir + "/in")
    run_once()  # restart: packing counter continues from checkpointed state
    run_once()  # no new data: replayed batches must append NOTHING
    assert table.versions()[-1] > v_after_first
    got = {
        (r.doc_id, r.seq_id, r.seq_offset)
        for r in table.read(spark).collect()
    }
    assert len(got) == len({d for d, _, _ in got})  # exactly-once per doc

    # expected: batch packing over half1 in its (ts = bucket-then-id)
    # order, then half2 continuing the token offset
    import itertools

    from wallaroo_spark.operators.text import tokens as _tk

    def ordered(df):
        rows = df.select(
            "doc_id", F.size(_tk(F.col("text"))).alias("n"), "ts"
        ).collect()
        return sorted(rows, key=lambda r: (r.ts, r.doc_id))

    cum, want = 0, set()
    for r in itertools.chain(ordered(half1), ordered(half2)):
        if r.n > 0:
            want.add((r.doc_id, cum // 256, cum % 256))
        cum += r.n
    assert got == want


@pytest.mark.slow
def test_stream_pack_sequences_per_domain(spark, tmpdir):
    """Per-domain packing: each source gets its own independent sequence
    space, identical to batch pack_sequences run on that source's subset
    alone (state parallelizes across domains)."""
    from wallaroo_spark.operators.text import _budget_bucket, pack_sequences
    from wallaroo_spark.sources import read_table
    from wallaroo_spark.streaming.admission import pack_sequences_stream

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "source", "doc_id", "text",
        (
            F.lit(T0)
            + F.make_interval(
                secs=_budget_bucket("doc_id", 256) * 100000 + F.col("doc_id")
            )
        ).alias("ts"),
    )
    docs.coalesce(1).write.mode("overwrite").parquet(tmpdir + "/in")
    sdf = spark.readStream.schema(docs.schema).parquet(tmpdir + "/in")
    out = pack_sequences_stream(sdf, seq_len=128, domain="source")
    q = (
        out.writeStream.format("memory")
        .queryName("t_pack_dom")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.source, r.doc_id): (r.seq_id, r.seq_offset, r.n_seqs)
        for r in spark.sql("SELECT * FROM t_pack_dom").collect()
    }
    batch_docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    want = {}
    for s in [r.source for r in batch_docs.select("source").distinct().collect()]:
        sub = pack_sequences(batch_docs.filter(F.col("source") == s), seq_len=128)
        for r in sub.collect():
            want[(s, r.doc_id)] = (r.seq_id, r.seq_offset, r.n_seqs)
    assert got == want and want


def test_online_quality_gates_then_admission_front_door(spark, tmpdir):
    """Round-7 online front door: a doc stream passes the STREAMABLE
    quality gates (reference-LM perplexity + trained classifier, both
    pure in-row against broadcast one-row models) and then per-domain
    token-budget admission — one streaming query, three stages, no extra
    state beyond the admission counter. Admitted set == the batch chain
    fed in the same arrival order."""
    from wallaroo_spark.operators.inference import (
        linear_classifier_fit, linear_classifier_score,
    )
    from wallaroo_spark.operators.text import (
        lm_score_map, perplexity_filter_streamable, tokens as _tk,
    )
    from wallaroo_spark.sources import read_table
    from wallaroo_spark.streaming.admission import token_budget_admit_stream

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "lang", "source",
        (F.lit(T0) + F.make_interval(secs=F.col("doc_id"))).alias("ts"),
    )
    lm = lm_score_map(docs.filter(F.col("lang") == "en"))
    train = docs.withColumn(
        "_y", F.array_contains(_tk(F.col("text")), "vector").cast("int")
    )
    clf = linear_classifier_fit(train, "_y")

    def gates(df):
        g = perplexity_filter_streamable(df, lm, max_avg_bits=5.0).drop(
            "n_bigrams", "avg_bits"
        )
        return linear_classifier_score(g, clf).filter(
            F.col("clf_prob") >= 0.05
        ).drop("clf_prob", "clf_pred")

    # batch reference: same gates, then the same prefix-cut admission in
    # the stream's arrival order (doc_id order == ts order here)
    batch_kept = gates(docs).select("doc_id", "source", "text").collect()
    want, used = set(), {}
    for r in sorted(batch_kept, key=lambda r: r.doc_id):
        nt = len([t for t in r.text.split(" ") if t])
        used[r.source] = used.get(r.source, 0) + nt  # tokens SEEN, always
        if used[r.source] <= 1200:
            want.add(r.doc_id)

    docs.coalesce(1).write.mode("overwrite").parquet(tmpdir + "/in")
    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(tmpdir + "/in")
    )
    out = token_budget_admit_stream(gates(sdf), budget=1200, domain="source")
    q = (
        out.writeStream.format("memory")
        .queryName("t_front_door")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r.doc_id for r in spark.sql("SELECT doc_id FROM t_front_door").collect()}
    assert got == want and want


def test_windowed_drift_aggregation_stream_matches_batch(spark, tmpdir):
    """DriftAggregation (facade, watermark-evicted window state) drained
    over a stream reproduces the batch `windowed_drift` KL/TV per closed
    window — the streaming corpus-drift monitor."""
    from wallaroo_spark.api import aggregation as A
    from wallaroo_spark.operators.text import (
        DriftAggregation, reference_token_probs, windowed_drift,
    )
    from wallaroo_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "lang",
        (F.lit(T0) + F.make_interval(secs=F.col("doc_id") * 50)).alias("ts"),
    )
    ref = docs.filter(F.col("lang") == "en")

    want = {
        int(r.window_start.timestamp()): (r.n_tokens, float(r.kl_bits), float(r.tv_distance))
        for r in windowed_drift(docs, ref, ts_col="ts", size="1 hour").collect()
    }

    probs = reference_token_probs(ref)
    agg = DriftAggregation(probs)
    sealed = docs.select(
        F.lit("g").alias("k"), "text",
        F.col("ts").alias("ts"),
    ).unionByName(
        # closer row far in the future seals every data window
        spark.createDataFrame(
            [("g", "", T0 + dt.timedelta(days=2))], "k string, text string, ts timestamp"
        )
    )
    sealed.coalesce(1).write.mode("overwrite").parquet(tmpdir + "/in")
    sdf = spark.readStream.schema(sealed.schema).parquet(tmpdir + "/in")
    out = A.windowed_agg_stream(
        sdf.withWatermark("ts", "0 seconds"), ["k"], "ts", agg,
        "n_tokens bigint, kl_bits double, tv_distance double", 3600,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_drift_win")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        int(r.window_start): (r.n_tokens, float(r.kl_bits), float(r.tv_distance))
        for r in spark.sql("SELECT * FROM t_drift_win").collect()
        if r.n_tokens > 0  # the closer's own empty window
    }
    assert got == want and len(got) >= 5


def test_windowed_drift_aggregation_per_key_slices(spark, tmpdir):
    """Per-slice streaming drift for free: DriftAggregation under the
    facade's key columns gives per-(lang, window) KL against the same
    reference — each slice's histogram accumulates independently."""
    from wallaroo_spark.api import aggregation as A
    from wallaroo_spark.operators.text import (
        DriftAggregation, reference_token_probs, windowed_drift,
    )
    from wallaroo_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "lang",
        (F.lit(T0) + F.make_interval(secs=F.col("doc_id") * 400)).alias("ts"),
    )
    ref = docs.filter(F.col("lang") == "en")
    probs = reference_token_probs(ref)

    # batch expectation: windowed_drift per lang slice
    want = {}
    for lang in ["en", "de"]:
        sliced = docs.filter(F.col("lang") == lang)
        for r in windowed_drift(sliced, ref, ts_col="ts", size="1 hour").collect():
            want[(lang, int(r.window_start.timestamp()))] = (
                r.n_tokens, float(r.kl_bits), float(r.tv_distance)
            )

    sealed = docs.filter(F.col("lang").isin("en", "de")).unionByName(
        spark.createDataFrame(
            [(99999, "", "en", T0 + dt.timedelta(days=30)),
             (99998, "", "de", T0 + dt.timedelta(days=30))],
            "doc_id bigint, text string, lang string, ts timestamp",
        )
    )
    sealed.coalesce(1).write.mode("overwrite").parquet(tmpdir + "/in")
    sdf = spark.readStream.schema(sealed.schema).parquet(tmpdir + "/in")
    out = A.windowed_agg_stream(
        sdf.withWatermark("ts", "0 seconds"), ["lang"], "ts",
        DriftAggregation(probs),
        "n_tokens bigint, kl_bits double, tv_distance double", 3600,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_drift_keyed")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.lang, int(r.window_start)): (r.n_tokens, float(r.kl_bits), float(r.tv_distance))
        for r in spark.sql("SELECT * FROM t_drift_keyed").collect()
        if r.n_tokens > 0
    }
    assert got == want and len({k[0] for k in got}) == 2


def test_stateful_agg_on_rocksdb_state_store(spark, tmpdir):
    """The 100 TB state-store path: the same stateful windowed aggregation
    runs (and produces identical results) on the RocksDB state store
    provider — the store that holds billions of keys off-heap where the
    default HDFS-backed in-memory map cannot. Provider is a per-query
    conf read at stream start, so flipping it for one query is safe."""
    df = spark.createDataFrame(
        [Row(k=f"u{i % 3}", ts=T0 + dt.timedelta(seconds=10 * i), v=float(i))
         for i in range(12)]
    )
    df.coalesce(1).write.mode("overwrite").parquet(tmpdir + "/in")

    def drain(provider, name, chk):
        prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        if provider:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
        try:
            sdf = spark.readStream.schema(df.schema).parquet(tmpdir + "/in")
            agg = (
                sdf.withWatermark("ts", "0 seconds")
                .groupBy("k", F.window("ts", "1 minute"))
                .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
            )
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", tmpdir + chk)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            else:
                spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        return sorted(
            (r.k, r.window.start, r.n, r.s)
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        )

    rocks = drain(
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "t_rocks", "/chk_rocks",
    )
    default = drain(None, "t_hdfs", "/chk_hdfs")
    assert rocks == default and len(rocks) > 0


def test_windowed_hll_aggregation_stream_matches_batch(spark, tmpdir):
    """Streaming windowed HLL (Aggregation facade) must reproduce the
    batch hll_registers sketch register-for-register per closed window —
    exact, because register max-merge is order-insensitive."""
    import random

    from wallaroo_spark.api import aggregation as A
    from wallaroo_spark.operators.sketch import HLLAggregation, hll_registers

    rnd = random.Random(9)
    rows = [
        Row(
            k="g",
            ts=T0 + dt.timedelta(seconds=rnd.randint(0, 7199)),
            item=f"u{rnd.randint(0, 300)}",
        )
        for _ in range(900)
    ] + [Row(k="g", ts=T0 + dt.timedelta(seconds=7300), item="closer")]
    df = spark.createDataFrame(rows)
    df.coalesce(1).write.mode("overwrite").parquet(tmpdir + "/in")

    agg = HLLAggregation("item")
    sdf = spark.readStream.schema(df.schema).parquet(tmpdir + "/in")
    out = A.windowed_agg_stream(
        sdf.withWatermark("ts", "0 seconds"), ["k"], "ts", agg,
        "registers_used int, regs string", 3600,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_hll_win")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.window_start: dict(
            (int(p.split(":")[0]), int(p.split(":")[1])) for p in r.regs.split(",")
        )
        for r in spark.sql("SELECT * FROM t_hll_win").collect()
    }
    assert len(got) == 2  # both sealed hourly windows

    for ws, regs in got.items():
        lo = dt.datetime.fromtimestamp(ws)
        hi = lo + dt.timedelta(hours=1)
        batch_win = df.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
        want = {
            r.reg: r.max_rho for r in hll_registers(batch_win, "item").collect()
        }
        assert regs == want, ws


@pytest.mark.slow
def test_count_window_idle_timeout_partial_flush(spark, tmpdir):
    """Reference S9 parity (VERDICT r11 #2, `windows.pony:483-504`): a
    count window sitting on n-1 rows flushes PARTIAL when the stream goes
    idle past the timeout — here the event-time watermark passes
    last_event_ts + flush_timeout_s via another key's far-future batch —
    and a FRESH window (advanced window_id) opens for subsequent rows.
    Without flush_timeout_s the partial stays in state (r11 behavior)."""
    n = 5
    a1 = spark.createDataFrame(
        [Row(key=k, ts=T0 + dt.timedelta(seconds=i), v=1.0)
         for k in ("a", "c") for i in range(n - 1)]
    )
    b = spark.createDataFrame(
        [Row(key="b", ts=T0 + dt.timedelta(seconds=10_000 + i), v=1.0) for i in range(2)]
    )
    # post-flush rows for 'a' ABOVE the advanced watermark: a full window
    # that must land in the NEXT window_id
    a2 = spark.createDataFrame(
        [Row(key="a", ts=T0 + dt.timedelta(seconds=20_000 + i), v=2.0) for i in range(n)]
    )
    a1.coalesce(1).write.mode("overwrite").parquet(tmpdir + "/in")
    b.coalesce(1).write.mode("append").parquet(tmpdir + "/in")
    a2.coalesce(1).write.mode("append").parquet(tmpdir + "/in")
    sdf = (
        spark.readStream.schema(a1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmpdir + "/in")
    )
    out = S.count_window_stream(
        sdf.withWatermark("ts", "0 seconds"), ["key"], value_col="v", n=n,
        ts_col="ts", flush_timeout_s=5.0,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_cw_flush")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = sorted(
        (r.window_id, r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM t_cw_flush WHERE key='a'").collect()
    )
    # window 0 = the idle-flushed PARTIAL (n-1 rows); window 1 = the full
    # post-flush window — fresh window opened after the flush
    assert rows == [(0, n - 1, float(n - 1)), (1, n, 2.0 * n)]
    # key 'c' goes silent FOREVER: only the event-time TIMER (hasTimedOut)
    # can flush its partial — the pure on_timeout path of the reference
    rows_c = [
        (r.window_id, r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM t_cw_flush WHERE key='c'").collect()
    ]
    assert rows_c == [(0, n - 1, float(n - 1))]

    # same feed WITHOUT the timeout: only the complete window emits, the
    # n-1 partial stays in state (r11 behavior pinned)
    sdf2 = (
        spark.readStream.schema(a1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmpdir + "/in")
    )
    out2 = S.count_window_stream(sdf2, ["key"], value_col="v", n=n, ts_col="ts")
    q2 = (
        out2.writeStream.format("memory")
        .queryName("t_cw_noflush")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk2")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    rows2 = sorted(
        (r.window_id, r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM t_cw_noflush WHERE key='a'").collect()
    )
    # rows a1(4) + a2(5) in event order = one full window at id 0; the
    # remaining 4 stay in state
    assert rows2 == [(0, n, 6.0)]


def test_count_window_flush_timeout_requires_ts(spark):
    import pytest as _pytest

    df = _events(spark, n=3)
    with _pytest.raises(ValueError, match="flush_timeout_s needs ts_col"):
        S.count_window_stream(df, ["key"], value_col="v", n=5,
                              flush_timeout_s=5.0)


@pytest.mark.slow
def test_count_window_flush_timer_correct_under_non_utc_session_tz(spark, tmpdir):
    """ADVICE r12 (medium): applyInPandasWithState delivers tz-NAIVE
    timestamps rendered in the session timezone, and pandas treats naive
    as UTC — so under a non-UTC session the idle deadline was offset by
    the zone width from the real-epoch watermark and the timer fired
    hours early (clamped to watermark+1), flushing partials that the
    event-time contract says must stay open. Pinned: under
    America/New_York, a key whose gap never exceeds flush_timeout_s
    completes its window intact — the buggy epoch math instead emitted a
    spurious (window 0, 3 rows) partial and pushed the tail into window 1."""
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        n = 5
        f1 = spark.createDataFrame(
            [Row(key="c", ts=T0 + dt.timedelta(seconds=i), v=1.0) for i in range(3)]
        )
        f2 = spark.createDataFrame([Row(key="b", ts=T0 + dt.timedelta(seconds=4), v=1.0)])
        f3 = spark.createDataFrame([Row(key="b", ts=T0 + dt.timedelta(seconds=6), v=1.0)])
        # gap to the tail rows is 4-5s <= timeout: same window must absorb them
        f4 = spark.createDataFrame(
            [Row(key="c", ts=T0 + dt.timedelta(seconds=6 + i), v=1.0) for i in range(2)]
        )
        for i, f in enumerate((f1, f2, f3, f4)):
            f.coalesce(1).write.mode("append").parquet(tmpdir + "/in_tz")
        sdf = (
            spark.readStream.schema(f1.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(tmpdir + "/in_tz")
        )
        out = S.count_window_stream(
            sdf.withWatermark("ts", "10 seconds"), ["key"], value_col="v", n=n,
            ts_col="ts", flush_timeout_s=5.0,
        )
        q = (
            out.writeStream.format("memory")
            .queryName("t_cw_tz")
            .outputMode("update")
            .option("checkpointLocation", tmpdir + "/chk_tz")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = sorted(
            (r.window_id, r.n_events, r.total_value)
            for r in spark.sql("SELECT * FROM t_cw_tz WHERE key='c'").collect()
        )
        assert rows == [(0, n, float(n))]

        # batch twin of the epoch discipline: ephemeral window starts are
        # REAL epoch seconds whatever the session timezone renders
        from wallaroo_spark.streaming.ephemeral import ephemeral_windows_batch

        bdf = spark.createDataFrame(
            [Row(key="k", ts=T0 + dt.timedelta(seconds=i), v=1.0) for i in range(3)]
        )
        got = ephemeral_windows_batch(bdf, ["key"], "ts", "v", 100.0, 0.0).collect()
        true_epoch = bdf.agg(
            F.min(F.unix_timestamp("ts")).alias("e")
        ).first()["e"]
        assert len(got) == 1 and got[0]["window_start"] == float(true_epoch)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_count_windows_facade_flush_timeout_knob(spark, tmpdir):
    """VERDICT r12 #5: the reference's always-on 5 s idle partial flush
    (`windows.pony:483-487`) is surfaced as a knob at the facade where
    users pick the operator — default None keeps checkpoint-compatible
    r11 behavior; passing flush_timeout_s on a streaming pipeline flushes
    the idle partial and opens a fresh window, exactly like the
    engine-level operator."""
    from wallaroo_spark.api.pipeline import Pipeline

    n = 5
    a1 = spark.createDataFrame(
        [Row(key="a", ts=T0 + dt.timedelta(seconds=i), v=1.0) for i in range(n - 1)]
    )
    b = spark.createDataFrame(
        [Row(key="b", ts=T0 + dt.timedelta(seconds=10_000), v=1.0)]
    )
    a1.coalesce(1).write.mode("append").parquet(tmpdir + "/fin")
    b.coalesce(1).write.mode("append").parquet(tmpdir + "/fin")
    sdf = (
        spark.readStream.schema(a1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmpdir + "/fin")
    )
    p = (
        Pipeline.source_df(sdf, ts_col="ts")
        .with_watermark("0 seconds")
        .key_by("key")
        .to_count_windows(n, "v", flush_timeout_s=5.0)
    )
    q = (
        p.df.writeStream.format("memory")
        .queryName("t_cw_facade")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/fchk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = [
        (r.window_id, r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM t_cw_facade WHERE key='a'").collect()
    ]
    assert rows == [(0, n - 1, float(n - 1))]  # idle-flushed partial

    # default None: same feed, partial stays in state (facade divergence
    # documented in to_count_windows)
    sdf2 = (
        spark.readStream.schema(a1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmpdir + "/fin")
    )
    p2 = (
        Pipeline.source_df(sdf2, ts_col="ts")
        .with_watermark("0 seconds")
        .key_by("key")
        .to_count_windows(n, "v")
    )
    q2 = (
        p2.df.writeStream.format("memory")
        .queryName("t_cw_facade_none")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/fchk2")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert spark.sql("SELECT * FROM t_cw_facade_none WHERE key='a'").count() == 0


def test_windowed_linear_count_aggregation_stream_matches_batch(spark, tmpdir):
    """r16: streaming windowed linear-count bitmap (Aggregation facade)
    reproduces the batch cell set EXACTLY per closed (cohort, window) —
    cell-set union is order-insensitive — and the cohort-pair overlap
    algebra computed from the STREAMED sketches matches
    `linear_count_overlap` run on the same batch rows."""
    import random

    from wallaroo_spark.api import aggregation as A
    from wallaroo_spark.functions import hashing as H
    from wallaroo_spark.operators.sketch import (
        LinearCountAggregation,
        linear_count_overlap,
    )

    rnd = random.Random(11)
    rows = [
        Row(
            k=rnd.choice(["click", "purchase"]),
            ts=T0 + dt.timedelta(seconds=rnd.randint(0, 3599)),
            item=f"u{rnd.randint(0, 400)}",
        )
        for _ in range(1200)
    ] + [Row(k="click", ts=T0 + dt.timedelta(seconds=7300), item="closer")]
    df = spark.createDataFrame(rows)
    df.coalesce(1).write.mode("overwrite").parquet(tmpdir + "/in")

    agg = LinearCountAggregation("item")
    sdf = spark.readStream.schema(df.schema).parquet(tmpdir + "/in")
    out = A.windowed_agg_stream(
        sdf.withWatermark("ts", "0 seconds"), ["k"], "ts", agg,
        "occupied int, cells string, est_distinct double", 3600,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_lc_win")
        .outputMode("update")
        .option("checkpointLocation", tmpdir + "/chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    first = {
        r.k: r
        for r in spark.sql(
            "SELECT * FROM t_lc_win WHERE window_start = {ws}",
            ws=int(T0.timestamp()),
        ).collect()
    }
    assert set(first) == {"click", "purchase"}

    # cell-for-cell parity with the batch bitmap of the same window
    batch_win = df.filter(
        (F.col("ts") >= T0) & (F.col("ts") < T0 + dt.timedelta(hours=1))
    )
    for co in ("click", "purchase"):
        want = sorted(
            r._c for r in batch_win.filter(F.col("k") == co)
            .select(((H.hmod_col(F.col("item"))) % F.lit(4096)).alias("_c"))
            .distinct().collect()
        )
        got = [int(c) for c in first[co].cells.split(",")]
        assert got == want, co
        assert first[co].occupied == len(want)

    # pair algebra from the streamed sketches == batch overlap operator
    a, b = first["click"], first["purchase"]
    inter_cells = len(set(a.cells.split(",")) & set(b.cells.split(",")))
    occ_union = a.occupied + b.occupied - inter_cells
    batch_pair = linear_count_overlap(
        batch_win.select("k", "item"), "item", "k"
    ).collect()[0]
    assert (batch_pair.occ_a, batch_pair.occ_b) == (a.occupied, b.occupied)
    assert batch_pair.occ_union == occ_union
