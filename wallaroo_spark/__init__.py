"""wallaroo_spark — a PySpark-native analytics/stream-processing engine.

A from-scratch rebuild of the capabilities of WallarooLabs/wallaroo
(reference surveyed in SURVEY.md) expressed idiomatically on Apache Spark:

- the dataflow pipeline algebra (source / to / key_by / windows / merge /
  collect / to_sink — reference ``machida/lib/wallaroo/__init__.py:90-173``)
  compiles to DataFrame / Structured Streaming plans so Catalyst optimizes
  them (predicate pushdown, partial aggregation, whole-stage codegen);
- keyed stateful computation (reference ``topology/runner.pony:314-684``)
  maps to one keyed-state runner over ``applyInPandasWithState``
  (``streaming.state.run_keyed``) that every stateful operator shares;
- event-time windows (tumbling/sliding/count/global/ephemeral, reference
  ``lib/wallaroo/core/windows/``) map to native ``F.window`` /
  ``F.session_window`` plus custom state ops where Spark lacks a native
  operator (count windows);
- plus a relational batch surface and large-scale training-data-pipeline
  operators (dedup, similarity search, text analysis, multimodal columns)
  the reference does not have but a 100 TB deployment needs.

Everything here is public-knowledge PySpark; no code is copied from the
reference (which is Pony/C++ actor runtime — a different execution model).
"""

from wallaroo_spark.session import get_spark, load_tables, register_views

__version__ = "0.1.0"

__all__ = ["get_spark", "load_tables", "register_views", "__version__"]
