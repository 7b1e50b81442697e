"""Operator-owned cache lifecycles (guide §5).

r16 left three corpus-sized persists referenced by the returned lazy
plans with no release hook (VERDICT r16 #3/#7): at 100 TB those are
MEMORY_AND_DISK copies of the corpus that outlive their query. Operators
whose RESULT is bounded (pair lists, top-k cuts, reports) materialize it
eagerly and unpersist their internals before returning, through the one
helper below (the dedup pair operators, semdedup, the residual IVF-PQ
search). Operators with corpus-sized results must instead document a
caller release contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize_release(out: DataFrame, *cached: DataFrame) -> DataFrame:
    """Materialize a (bounded) operator result and release the operator's
    internal caches. localCheckpoint also truncates the lineage, so
    downstream plans start from the small result, not the build DAG. (On
    a real cluster prefer reliable checkpoint dirs for multi-hour jobs;
    local checkpoint blocks die with their executor.)"""
    res = out.localCheckpoint(eager=True)
    for df in cached:
        df.unpersist()
    return res
