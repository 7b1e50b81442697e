"""Streaming execution layer (Structured Streaming).

Maps the reference's runtime (SURVEY §3.2-3.3) onto Spark:

- source watermarks → ``withWatermark`` (event-time − delay);
- per-key state + step timeouts → one keyed-state runner over
  ``applyInPandasWithState`` with event-time timers (``state.run_keyed``),
  under every stateful operator in this package;
- checkpoint/recovery/exactly-once (the reference's barriers + event log +
  2PC sinks, `checkpoint/checkpoint_initiator.pony:39-78`) → Spark
  ``checkpointLocation`` + idempotent ``foreachBatch`` sinks (see
  ``wallaroo_spark.sinks``) — mechanism is Spark-native, we port the tests,
  not the machinery.
"""

from wallaroo_spark.streaming import state  # noqa: F401
