"""Regenerate PLANS.json — the committed plan-shape snapshot.

For every registered query (at sf0.001, the plan-test scale), record the
physical-plan scale metrics from `wallaroo_spark.plans.audit`:

    scans, exchanges, broadcast_joins, sort_merge_joins,
    nested_loop_joins, python_ops, windows, partitionless_windows

`tests/test_plans.py::test_plan_shape_no_regression` (all queries, slow)
and `test_plan_shape_gate` (a representative subset, default run) compare
the live plans against this file and fail on any SCALE REGRESSION (more
shuffles, new Python ops, new sort-merge/nested-loop joins, a
partition-less window) — so a plan can only get cheaper without a deliberate snapshot
update. Run this tool and commit the diff when a change is intentional;
the diff itself then documents the plan-shape change for review.

Usage: python tools/plan_snapshot.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TRACKED = (
    "read_cols_total",
    "scans",
    "exchanges",
    "broadcast_joins",
    "sort_merge_joins",
    "nested_loop_joins",
    "python_ops",
    "windows",
    "partitionless_windows",
)


def snapshot(spark, sf_dir: str, names=None) -> dict[str, dict[str, int]]:
    """Plan metrics of ``names`` (every registered query when None)."""
    from wallaroo_spark.plans import audit
    from wallaroo_spark.queries import QUERIES

    out: dict[str, dict[str, int]] = {}
    for name in sorted(QUERIES if names is None else names):
        a = audit(QUERIES[name](spark, sf_dir))
        m = {k: getattr(a, k) for k in TRACKED if k != "read_cols_total"}
        # total columns leaving all scans: an increase = column-pruning
        # regression (a projection stopped reaching the reader)
        m["read_cols_total"] = sum(a.read_cols)
        out[name] = m
    return out


def main() -> None:
    from wallaroo_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-snapshot")
    spark.sparkContext.setLogLevel("ERROR")
    snap = snapshot(spark, sf_dir)
    with open(os.path.join(REPO, "PLANS.json"), "w") as f:
        json.dump(snap, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote PLANS.json ({len(snap)} queries)")


if __name__ == "__main__":
    main()
