"""Hand audit for the quantized-round spans stage 2 of round_lint cannot
attribute (r17).

1. ``embedding_quantize_int8``'s q8 elements:
   ``CAST(round(CAST(x*127/mx AS DECIMAL(38,12)), 0) AS INTEGER)`` inside
   ``list_transform`` — the INT cast re-rounds the raw rewrite, so the
   no-diff stage-2 result proves nothing. This script measures, on the
   frozen test data, how close any ratio x*127/mx actually gets to a
   k+0.5 rounding boundary. A minimum distance many orders above the
   ~1e-12 double-noise band means no conversion behaviour can disagree.

2. The calibration queries' ``clf_prob`` 4dp span feeds the bin
   assignment, so its rewrite changes downstream aggregates and cannot
   be attributed. But the span rounds the SAME sigmoid chain that
   ``trained_quality_classifier`` emits directly (where stage 2 does
   attribute and clear it); this script asserts the two chains' scored
   probabilities are identical, which transfers the clearance.

Usage: python tools/round_audit_manual.py [sf_dir ...]
Exit 1 when a boundary distance is inside the danger band or the
calibration/classifier chains diverge.
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DANGER = 1e-9  # absolute distance to k+0.5 under which builds may differ


def main() -> int:
    sf_dirs = sys.argv[1:] or [
        f"/root/testdata/sf{s}" for s in ("0.001", "0.01", "0.1")
    ]
    import __spark_entry__ as entrymod
    from wallaroo_spark.session import TABLES

    oracles = entrymod.oracle_sql()
    bad = 0
    for sf_dir in sf_dirs:
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        tag = sf_dir.rsplit("/", 1)[-1]

        # 1. q8 ratio boundary distance (replicates the oracle's m CTE)
        (dist,) = con.sql(
            """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            m AS (SELECT vec_id, v,
                         coalesce((SELECT max(abs(t.x)) FROM unnest(v) AS t(x)), 0) AS mx
                  FROM e),
            r AS (SELECT unnest(v) * 127.0 / mx AS q
                  FROM m WHERE mx > 0)
            SELECT min(abs(q - floor(q) - 0.5)) FROM r
            """
        ).fetchone()
        ok = dist is None or dist > DANGER
        print(
            f"{'ok  ' if ok else 'FLAG'} embedding_quantize_int8 q8 [{tag}]: "
            f"min |x*127/mx - (k+.5)| = {dist!r} (danger < {DANGER})"
        )
        bad += 0 if ok else 1

        # 2. calibration clf_prob == trained_quality_classifier clf_prob
        clf = oracles["trained_quality_classifier"]
        for name in ("classifier_calibration_report", "windowed_calibration_ece"):
            inner = oracles[name]
            k = inner.find("WITH sc AS (") + len("WITH sc AS ")
            depth = 0
            in_str = False
            for j in range(k, len(inner)):  # matching close paren
                c = inner[j]
                if in_str:
                    in_str = c != "'"
                elif c == "'":
                    in_str = True
                elif c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
                    if depth == 0:
                        break
            sub = inner[k + 1 : j]
            diff = con.sql(
                f"SELECT count(*) FROM (({sub}) EXCEPT ({clf})) "
                f"UNION ALL SELECT count(*) FROM (({clf}) EXCEPT ({sub}))"
            ).fetchall()
            same = all(r[0] == 0 for r in diff)
            print(
                f"{'ok  ' if same else 'FLAG'} {name} [{tag}]: scored-chain "
                f"subquery {'==' if same else '!='} trained_quality_classifier"
            )
            bad += 0 if same else 1
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
