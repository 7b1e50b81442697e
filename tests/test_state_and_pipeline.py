"""Keyed-state computation + pipeline façade tests: the reference's example
apps (word_count, alphabet votes, market_spread enrichment) re-expressed on
the engine's API, validated against independently computed expectations."""

import ast
import datetime as dt
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from wallaroo_spark.api import Pipeline
from wallaroo_spark.operators import asof
from wallaroo_spark.streaming import state as S

T0 = dt.datetime(2024, 1, 1)


def test_keyed_state_batch_running_count(spark):
    # alphabet semantics: per-key running vote total, one output per message
    rows = [
        Row(letter="a", ts=T0 + dt.timedelta(seconds=i), votes=v)
        for i, v in enumerate([3, 1, 4, 1, 5])
    ] + [Row(letter="b", ts=T0 + dt.timedelta(seconds=i), votes=10) for i in range(3)]
    df = spark.createDataFrame(rows)

    def add_votes(row, state):
        state["total"] = state.get("total", 0) + row["votes"]
        return [{"letter": row["letter"], "total": state["total"]}]

    out = S.keyed_state_batch(
        df, ["letter"], add_votes, dict, "letter string, total long", ts_col="ts"
    ).collect()
    a = [r.total for r in out if r.letter == "a"]
    b = [r.total for r in out if r.letter == "b"]
    assert a == [3, 4, 8, 9, 14]
    assert b == [10, 20, 30]


def test_state_filter_and_multi_emission(spark):
    # state fn may emit 0 or N rows per message (computation_multi-in-state)
    rows = [Row(k="x", ts=T0 + dt.timedelta(seconds=i), v=i) for i in range(6)]
    df = spark.createDataFrame(rows)

    def every_other_twice(row, state):
        state["n"] = state.get("n", 0) + 1
        if state["n"] % 2 == 0:
            return [{"k": row["k"], "v": row["v"]}, {"k": row["k"], "v": -row["v"]}]
        return []

    out = S.keyed_state_batch(
        df, ["k"], every_other_twice, dict, "k string, v long", ts_col="ts"
    ).collect()
    assert sorted(r.v for r in out) == [-5, -3, -1, 1, 3, 5]


def test_pipeline_word_count_end_to_end(spark, sf_dir):
    # word_count (reference examples/python/word_count) on the façade
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = (
        Pipeline.source_df(docs)
        .to_multi(F.split("text", " "), out_name="word", keep=[])
        .to(F.col("word") != "")
        .key_by("word")
    )
    counts = p.df.groupBy("word").count()
    expected = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .count()
    )
    got = {r.word: r["count"] for r in counts.collect()}
    want = {r.w: r["count"] for r in expected.collect()}
    assert got == want


def test_pipeline_market_spread_asof(spark):
    # market_spread: orders enriched with the latest market state per symbol
    mkt = spark.createDataFrame(
        [
            Row(symbol="AAPL", ts=T0 + dt.timedelta(seconds=s), bid=b, offer=o)
            for s, b, o in [(0, 10.0, 10.1), (10, 11.0, 11.4), (20, 12.0, 12.01)]
        ]
    )
    orders = spark.createDataFrame(
        [
            Row(symbol="AAPL", ts=T0 + dt.timedelta(seconds=s), order_id=i, qty=100.0)
            for i, s in [(1, 5), (2, 15), (3, 25)]
        ]
    )
    out = asof.asof_join(
        orders, mkt, on=["symbol"], left_ts="ts", right_ts="ts", right_values=["bid", "offer"]
    ).orderBy("order_id").collect()
    assert [(r.bid, r.offer) for r in out] == [(10.0, 10.1), (11.0, 11.4), (12.0, 12.01)]
    # reject iff spread wide: (offer-bid) >= 0.05 of mid — reference's check
    rejected = [r.order_id for r in out if (r.offer - r.bid) >= 0.05]
    assert rejected == [1, 2]


def test_pipeline_merge_and_windows(spark):
    a = spark.createDataFrame(
        [Row(k="u", ts=T0 + dt.timedelta(seconds=i), amount=1.0) for i in range(10)]
    )
    b = spark.createDataFrame(
        [Row(k="u", ts=T0 + dt.timedelta(seconds=i), amount=2.0) for i in range(10)]
    )
    p = (
        Pipeline.source_df(a, ts_col="ts")
        .merge(Pipeline.source_df(b, ts_col="ts"))
        .key_by("k")
        .to_tumbling("5 seconds", [F.sum("amount").alias("s")])
    )
    out = p.df.orderBy("window_start").collect()
    assert [r.s for r in out] == [15.0, 15.0]  # (1+2)*5 per 5s window


def test_pipeline_collect_global(spark):
    df = spark.createDataFrame([Row(k=str(i % 3), ts=T0, v=1) for i in range(9)])
    p = Pipeline.source_df(df, ts_col="ts").collect_all()
    out = p.df.groupBy(*p.key_cols).agg(F.count("*").alias("c")).collect()
    assert len(out) == 1 and out[0].c == 9


def test_key_by_expression_column(spark):
    df = spark.createDataFrame([Row(word=w) for w in ["apple", "avocado", "banana"]])
    p = Pipeline.source_df(df).key_by(F.substring("word", 1, 1))
    out = p.df.groupBy(*p.key_cols).count().collect()
    assert {r[0]: r["count"] for r in out} == {"a": 2, "b": 1}


def test_decorator_arity_validation():
    """Reference `_validate_arity_compat`: wrong parameter counts rejected at
    decoration time; state_computation_multi surface exists."""
    import pytest as _pytest

    from wallaroo_spark.api import (
        computation,
        computation_multi,
        state_computation,
        state_computation_multi,
    )

    with _pytest.raises(TypeError, match="1 parameter"):
        computation("bad")(lambda a, b: None)
    with _pytest.raises(TypeError, match="2 parameters"):
        state_computation("bad", dict)(lambda a: None)

    @state_computation_multi("split", dict)
    def split_state(row, state):
        state["n"] = state.get("n", 0) + 1
        return [{"k": row["k"], "i": i} for i in range(state["n"])]

    assert split_state._wallaroo_stage == ("state_computation_multi", "split")

    @computation_multi("explode")
    def explode_fn(row):
        return [row, row]

    assert explode_fn._wallaroo_stage == ("computation_multi", "explode")


def test_state_computation_multi_emits_lists(spark):
    """List-returning state fn: one input row -> N output rows, per key."""
    from wallaroo_spark.api import state_computation_multi
    from wallaroo_spark.streaming import state as S

    @state_computation_multi("fanout", dict)
    def fanout(row, state):
        state["seen"] = state.get("seen", 0) + 1
        return [
            {"k": row["k"], "copy": c, "seen": state["seen"]}
            for c in range(row["n"])
        ]

    df = spark.createDataFrame(
        [Row(k="a", ts=T0, n=2), Row(k="a", ts=T0 + dt.timedelta(seconds=1), n=3),
         Row(k="b", ts=T0, n=1)]
    )
    out = S.keyed_state_batch(
        df, ["k"], fanout, fanout._initial_state,
        "k string, copy int, seen int", ts_col="ts",
    ).collect()
    got = sorted((r.k, r.copy, r.seen) for r in out)
    assert got == [
        ("a", 0, 1), ("a", 0, 2), ("a", 1, 1), ("a", 1, 2), ("a", 2, 2),
        ("b", 0, 1),
    ]


@pytest.mark.parametrize("mode", ["batch", "stream"])
def test_decimal_output_and_key_schemas(spark, tmp_path, mode):
    """Schema DDL is parsed by Spark, not split on commas: a decimal(10,2)
    output column (keyed state) and a decimal(10,2) key column (an
    operator that puts the key's own type into its output) both work."""
    from decimal import Decimal

    from wallaroo_spark.streaming import ephemeral as E

    df = spark.createDataFrame(
        [("a", T0 + dt.timedelta(seconds=s), Decimal(p), Decimal("1.50"), 1.0)
         for s, p in ((0, "2.25"), (1, "3.50"), (2, "4.75"), (100, "1.00"))],
        "key string, ts timestamp, p decimal(10,2), k decimal(10,2), v double",
    )

    def last_price(row, state):
        state["n"] += 1
        return [{"key": row["key"], "p": row["p"]}]

    if mode == "batch":
        src = df
    else:
        df.coalesce(1).write.parquet(str(tmp_path / "in"))
        src = spark.readStream.schema(df.schema).parquet(str(tmp_path / "in"))
    out_schema = "key string, p decimal(10,2)"
    if mode == "batch":
        prices = S.keyed_state_batch(src, ["key"], last_price, lambda: {"n": 0}, out_schema, "ts")
        windows = E.ephemeral_windows_batch(src, ["k"], "ts", "v", 10, 5)
    else:
        prices = S.keyed_state_stream(
            src, ["key"], last_price, lambda: {"n": 0}, out_schema, "n bigint",
            pack=lambda s: (s["n"],), unpack=lambda t: {"n": t[0]}, ts_col="ts",
        )
        windows = E.ephemeral_windows_stream(
            src.withWatermark("ts", "0 seconds"), ["k"], "ts", "v", 10, 5
        )
    got = {}
    for name, out in (("prices", prices), ("windows", windows)):
        if mode == "batch":
            got[name] = out.collect()
        else:
            q = (
                out.writeStream.format("memory").queryName(f"t_dec_{name}")
                .outputMode("update")
                .option("checkpointLocation", str(tmp_path / f"chk_{name}"))
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(120)
            got[name] = spark.sql(f"SELECT * FROM t_dec_{name}").collect()
    assert sorted(r.p for r in got["prices"]) == [
        Decimal(p) for p in ("1.00", "2.25", "3.50", "4.75")
    ]
    # the first one-shot window closes at the event 100 s in (> 0 + 10 + 5)
    closed = [(r.k, r.n_events) for r in got["windows"] if r.closed]
    assert closed == [(Decimal("1.50"), 3)]


def test_one_keyed_state_call_site():
    """Every stateful streaming operator runs on the one keyed-state runner
    (``streaming.state.run_keyed``): exactly one ``applyInPandasWithState``
    call in the package, found in code (not docstrings or comments)."""
    root = Path(__file__).resolve().parents[1] / "wallaroo_spark"
    sites = [
        f"{path.relative_to(root)}:{node.lineno}"
        for path in sorted(root.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "applyInPandasWithState"
    ]
    assert len(sites) == 1 and sites[0].startswith("streaming/state.py:"), sites
