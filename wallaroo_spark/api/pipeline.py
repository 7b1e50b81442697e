"""Pipeline façade: the reference's stage algebra compiled to DataFrames.

Mirrors the Python API surface (`machida/lib/wallaroo/__init__.py:90-173`):

    p = Pipeline.source_df(df, ts_col="ts")          # S1
    p = p.to(exprs or predicate or fn)               # S2 stateless
    p = p.key_by("user_id")                          # S4
    p = p.to_state(fn, init, out_schema, ...)        # S3 keyed state
    p = p.to_tumbling("1 hour", aggs)                # S5 (S6/S9/S11 likewise)
    p = p.merge(other)                               # S13
    p.df                                             # terminal DataFrame
    p.to_sink(...)                                   # S14

A stage call just composes DataFrame transformations, so the whole pipeline
is ONE Catalyst logical plan — stage fusion, pushdown and partial
aggregation are automatic (the reference needed explicit coalescing,
`application_distributor.pony:158-200`). The same Pipeline object works on a
batch or a streaming DataFrame; `is_streaming` routes the stateful stages to
the state-store implementation.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wallaroo_spark.api import aggregation as A
from wallaroo_spark.operators import compute as C
from wallaroo_spark.operators import windows as W
from wallaroo_spark.streaming import state as S


class range_windows:
    """Builder parity with ``wallaroo.range_windows(r).with_slide(s)
    .with_delay(d).over(Agg)`` (`machida/lib/wallaroo/__init__.py:762-823`).
    Sizes in seconds; pass the result to ``Pipeline.to``."""

    def __init__(self, size_s: int):
        self.size_s = int(size_s)
        self.slide_s: int | None = None
        self.delay_s = 0
        self.n_salts = 1
        self.agg: A.Aggregation | None = None
        self.out_schema = ""

    def with_slide(self, slide_s: int) -> "range_windows":
        self.slide_s = int(slide_s)
        return self

    def with_salts(self, n_salts: int) -> "range_windows":
        """Hot-key spread: batch windows run the salted two-phase pane fold
        (the reference's local_key_by shape, `application.pony:241-248`)."""
        self.n_salts = int(n_salts)
        return self

    def with_delay(self, delay_s: int) -> "range_windows":
        self.delay_s = int(delay_s)
        return self

    def over(self, agg: A.Aggregation, out_schema: str) -> "range_windows":
        """``out_schema``: DDL for the fields ``output`` returns, e.g.
        ``"total double"`` (Spark needs explicit types where the reference
        had opaque pickles)."""
        A.validate_aggregation(agg)
        self.agg, self.out_schema = agg, out_schema
        return self


def _validate_arity(fn, name: str, arity: int) -> None:
    """Reference `_validate_arity_compat` (`machida/lib/wallaroo/__init__.py`):
    reject wrapped functions with the wrong parameter count up front."""
    import inspect

    params = [
        p
        for p in inspect.signature(fn).parameters.values()
        if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
    ]
    if len(params) != arity:
        term = "parameter" if arity == 1 else "parameters"
        raise TypeError(f"function {name} must have {arity} {term}, has {len(params)}")


def computation(name: str):
    """Decorator parity with `@wallaroo.computation` — tags a Column-expr
    builder or pandas fn with a stage name (`__init__.py:457-462`)."""

    def deco(fn):
        _validate_arity(fn, name, 1)
        fn._wallaroo_stage = ("computation", name)
        return fn

    return deco


def computation_multi(name: str):
    """`@wallaroo.computation_multi` (`__init__.py:473-478`): 1->N, the fn
    returns a list (or None to filter)."""

    def deco(fn):
        _validate_arity(fn, name, 1)
        fn._wallaroo_stage = ("computation_multi", name)
        return fn

    return deco


def state_computation(name: str, initial_state: Callable[[], dict]):
    """Decorator parity with `@wallaroo.state_computation(name, state=C)`."""

    def deco(fn):
        _validate_arity(fn, name, 2)
        fn._wallaroo_stage = ("state_computation", name)
        fn._initial_state = initial_state
        return fn

    return deco


def state_computation_multi(name: str, initial_state: Callable[[], dict]):
    """`@wallaroo.state_computation_multi` (`__init__.py:481-487`): keyed
    state fn returning a LIST of outputs per message (or None). The engine's
    state runner already forwards list returns (streaming/state.py:37-59) —
    this decorator adds the reference's named/validated surface."""

    def deco(fn):
        _validate_arity(fn, name, 2)
        fn._wallaroo_stage = ("state_computation_multi", name)
        fn._initial_state = initial_state
        return fn

    return deco


def key_extractor(fn):
    fn._wallaroo_stage = ("key_extractor", getattr(fn, "__name__", "key"))
    return fn


class Pipeline:
    def __init__(self, df: DataFrame, ts_col: str = "", key_cols: tuple[str, ...] = ()):
        self.df = df
        self.ts_col = ts_col
        self.key_cols = key_cols

    # -- S1 sources ---------------------------------------------------------
    @classmethod
    def source_df(cls, df: DataFrame, ts_col: str = "") -> "Pipeline":
        return cls(df, ts_col=ts_col)

    @classmethod
    def source_parquet(cls, spark, path: str, ts_col: str = "") -> "Pipeline":
        from wallaroo_spark.sources import read_parquet

        return cls(read_parquet(spark, path), ts_col=ts_col)

    def with_watermark(self, delay: str) -> "Pipeline":
        """S7 `with_delay` — allowed lateness."""
        return self._with(self.df.withWatermark(self.ts_col, delay))

    # -- S2 stateless -------------------------------------------------------
    def to(self, stage, **kw) -> "Pipeline":
        """Stateless computation: dict[name, Column] = map; Column = filter
        predicate; (fn, schema) via to_pandas for imperative logic."""
        if isinstance(stage, dict):
            return self._with(C.compute(self.df, stage, **kw))
        if isinstance(stage, Column):
            return self._with(C.compute_filter(self.df, stage))
        if isinstance(stage, range_windows):
            if stage.agg is None:
                raise ValueError("range_windows stage needs .over(Aggregation, out_schema)")
            return self.to_windowed_agg(
                stage.size_s, stage.agg, stage.out_schema,
                slide_s=stage.slide_s, delay_s=stage.delay_s,
                n_salts=stage.n_salts,
            )
        raise TypeError(f"unsupported stage: {stage!r}")

    def to_windowed_agg(
        self,
        size_s: int,
        agg: "A.Aggregation",
        out_schema: str,
        slide_s: int | None = None,
        delay_s: int = 0,
        n_salts: int = 1,
    ) -> "Pipeline":
        """S5/S6 windows over a user `Aggregation` class (initial/update/
        combine/output — `aggregations.pony:24-39`). Emits (keys,
        window_start, window_end, *output fields); the stage's window_end is
        the natural event time for a cascaded downstream window (the
        multi_aggregation app shape)."""
        self._need_keys()
        if self.df.isStreaming:
            out = A.windowed_agg_stream(
                self.df, list(self.key_cols), self.ts_col, agg, out_schema,
                size_s, delay_s=delay_s, slide_s=slide_s,
            )
        else:
            out = A.windowed_agg_batch(
                self.df, list(self.key_cols), self.ts_col, agg, out_schema,
                size_s, slide_s=slide_s, n_salts=n_salts,
            )
        return Pipeline(out, ts_col="", key_cols=self.key_cols)

    def to_multi(self, array_expr: Column, out_name: str, keep: list[str] | None = None) -> "Pipeline":
        return self._with(C.compute_multi(self.df, array_expr, out_name, keep))

    def to_pandas(self, fn, schema) -> "Pipeline":
        return self._with(C.compute_pandas(self.df, fn, schema))

    # -- S4 key_by ----------------------------------------------------------
    def key_by(self, *cols: str | Column) -> "Pipeline":
        named = []
        df = self.df
        for i, c in enumerate(cols):
            if isinstance(c, Column):
                name = f"_key_{i}"
                df = df.withColumn(name, c)
                named.append(name)
            else:
                named.append(c)
        return Pipeline(df, ts_col=self.ts_col, key_cols=tuple(named))

    def collect_all(self) -> "Pipeline":
        """S12 collect(): single global group (constant key)."""
        return Pipeline(
            self.df.withColumn("_key_all", F.lit(1)), ts_col=self.ts_col, key_cols=("_key_all",)
        )

    # -- S3 keyed state -----------------------------------------------------
    def to_state(
        self,
        fn: S.StateFn,
        initial_state: Callable[[], dict],
        output_schema,
        state_schema=None,
        pack=None,
        unpack=None,
    ) -> "Pipeline":
        self._need_keys()
        if self.df.isStreaming:
            if state_schema is None or pack is None or unpack is None:
                raise ValueError("streaming to_state needs state_schema/pack/unpack")
            out = S.keyed_state_stream(
                self.df, list(self.key_cols), fn, initial_state, output_schema,
                state_schema, pack, unpack, ts_col=self.ts_col,
            )
        else:
            out = S.keyed_state_batch(
                self.df, list(self.key_cols), fn, initial_state, output_schema,
                ts_col=self.ts_col,
            )
        return Pipeline(out, ts_col="", key_cols=self.key_cols)

    # -- S5-S11 windows -----------------------------------------------------
    def to_tumbling(
        self,
        size: str,
        aggs: Sequence[Column],
        offset: int | str | None = None,
        stream_watermark: str | None = None,
    ) -> "Pipeline":
        """S5 tumbling windows. ``offset=None`` = aligned (engine default);
        ``"per_key"`` = the reference's DEFAULT unaligned mode via a
        deterministic salted-hash per-key offset (load smoothing,
        oracle-replayable); int = fixed stagger. Works batch and
        streaming — a streaming offset mode requires ``stream_watermark``
        (the delay attaches to the shifted event-time column; see
        `operators.windows.tumbling`)."""
        self._need_keys()
        return self._with(
            W.tumbling(
                self.df, self.ts_col, list(self.key_cols), list(aggs), size,
                offset=offset, stream_watermark=stream_watermark,
            )
        )

    def to_sliding(
        self,
        size: str,
        slide: str,
        aggs: Sequence[Column],
        offset: int | str | None = None,
        stream_watermark: str | None = None,
    ) -> "Pipeline":
        """S6 sliding windows; ``offset``/``stream_watermark`` as in
        `to_tumbling` (the reference's unaligned mode covers all range
        windows)."""
        self._need_keys()
        return self._with(
            W.sliding(
                self.df, self.ts_col, list(self.key_cols), list(aggs), size,
                slide, offset=offset, stream_watermark=stream_watermark,
            )
        )

    def to_count_windows(
        self,
        n: int,
        aggs_or_value,
        tiebreak: Sequence[str] = (),
        flush_timeout_s: float | None = None,
    ) -> "Pipeline":
        """S9 count windows: every ``n`` messages per key emit and reset.

        DIVERGENCE NOTE (pick your default deliberately): the reference
        ALWAYS flushes a partial count window after 5 s of idleness
        (`windows.pony:483-487` timeout_interval); this engine defaults
        ``flush_timeout_s=None`` — partials stay in state until the
        window fills — because adding the idle flush changes the
        streaming state schema, and existing query checkpoints would not
        restart against it. Pass ``flush_timeout_s=5.0`` on a NEW query
        for reference-exact behavior (the wall-clock timer replayed
        deterministically in event time: a partial flushes when the
        watermark passes last_event_ts + timeout, identified by
        n_events < n, and a fresh window_id opens). Streaming-only;
        batch count windows see the whole input, so there is no idle
        partial to flush."""
        self._need_keys()
        if self.df.isStreaming:
            out = S.count_window_stream(
                self.df, list(self.key_cols), value_col=aggs_or_value, n=n,
                ts_col=self.ts_col, flush_timeout_s=flush_timeout_s,
            )
        else:
            out = W.count_windows(
                self.df, self.ts_col, list(self.key_cols), list(aggs_or_value), n, tiebreak
            )
        return self._with(out)

    def to_tumbling_late(
        self,
        size_s: int,
        delay_s: int,
        policy: str,
        arrival_col: str,
        value_col: str = "value",
        aggs: Sequence[Column] | None = None,
    ) -> "Pipeline":
        """S5+S7+S8: tumbling windows with delay + late-data policy (batch
        uses native window functions; streaming uses the keyed-state op)."""
        self._need_keys()
        if self.df.isStreaming:
            from wallaroo_spark.streaming.late import windowed_late_policy_stream

            out = windowed_late_policy_stream(
                self.df, list(self.key_cols), self.ts_col, value_col, arrival_col,
                size_s, delay_s, policy,
            )
        else:
            from wallaroo_spark.operators import late_data

            out = late_data.windowed_with_late_policy(
                self.df, self.ts_col, list(self.key_cols),
                list(aggs) if aggs is not None else [
                    F.count("*").alias("n_events"),
                    F.sum(value_col).alias("total_value"),
                ],
                size=size_s, delay=delay_s, policy=policy, arrival_col=arrival_col,
            )
        return self._with(out)

    def to_sessions(self, gap: str, aggs: Sequence[Column]) -> "Pipeline":
        self._need_keys()
        return self._with(
            W.session_windows(self.df, self.ts_col, list(self.key_cols), list(aggs), gap)
        )

    def to_running(self, exprs: dict[str, Column], tiebreak: Sequence[str] = ()) -> "Pipeline":
        self._need_keys()
        return self._with(
            W.running(self.df, self.ts_col, list(self.key_cols), exprs, tiebreak)
        )

    # -- S13 merge ----------------------------------------------------------
    def merge(self, other: "Pipeline") -> "Pipeline":
        return self._with(self.df.unionByName(other.df, allowMissingColumns=True))

    # -- S14 sinks ----------------------------------------------------------
    def to_sink_parquet(self, path: str, checkpoint: str | None = None):
        if self.df.isStreaming:
            return (
                self.df.writeStream.format("parquet")
                .option("path", path)
                .option("checkpointLocation", checkpoint or path + "/_chk")
                .trigger(availableNow=True)
                .start()
            )
        self.df.write.mode("overwrite").parquet(path)
        return None

    def to_sinks(self, sinks, checkpoint: str, output_mode: str = "update"):
        """S14 `to_sinks` fan-out (`application.pony:193-219`): ONE streaming
        query drives every writer per batch (upstream computed once); each
        writer must be idempotent in batchId for exactly-once."""
        from wallaroo_spark.sinks import fanout_sink

        return self.to_sink_foreach_batch(fanout_sink(*sinks), checkpoint, output_mode)

    def to_sink_foreach_batch(self, fn, checkpoint: str, output_mode: str = "update"):
        # update mode: required by stateful stages (applyInPandasWithState);
        # harmless for stateless ones under foreachBatch
        return (
            self.df.writeStream.foreachBatch(fn)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    # -----------------------------------------------------------------------
    def _with(self, df: DataFrame) -> "Pipeline":
        return Pipeline(df, ts_col=self.ts_col, key_cols=self.key_cols)

    def _need_keys(self) -> None:
        if not self.key_cols:
            raise ValueError("stage requires key_by() first (reference: key_by before state)")
