"""Recall audits against their DuckDB oracles, and the profiler's
job-interval union that times them."""

from __future__ import annotations

import duckdb

from tools.check import compare
from tools.profile_query import _union_seconds
from wallaroo_spark.queries import ORACLES, QUERIES
from wallaroo_spark.session import TABLES


def test_union_seconds_merges_overlapping_jobs():
    # concurrent jobs (overlap_build's chains) count once: [0,3) + [5,6)
    assert _union_seconds([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert _union_seconds([(1, 3), (0, 2), (0.5, 1), (5, 6)]) == 4.0
    assert _union_seconds([(2, 2), (3, 1)]) == 0.0
    assert _union_seconds([]) == 0.0


def test_ann_recall_audit_matches_oracle(spark, sf_dir):
    """All six ann_recall_audit arms at sf0.001 (500 vectors) hash-equal to
    their SQL arms, by the correctness gate's own comparator."""
    sdf = QUERIES["ann_recall_audit"](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    rel = con.sql(ORACLES["ann_recall_audit"])
    assert compare(srows, sdf.columns, rel.fetchall(), rel.columns) == []
    assert sorted(r[sdf.columns.index("variant")] for r in srows) == [
        "ivfpq_adaptive", "ivfpq_plain", "ivfpq_residual",
        "ivfpq_residual_opq", "pq_adc", "pq_rerank",
    ]
