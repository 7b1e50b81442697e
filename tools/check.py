"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet, compares row count, sorted-column schema, and an
order-insensitive value hash. Usage:

    python tools/check.py [sf_dir] [query_name ...]

Companion gate (r16): ``python tools/round_lint.py`` — the
boundary-proximity linter for round()-over-double oracles (VERDICT r15
#2). A query can pass THIS gate locally and still flip in the driver's
environment if an emitted rounded double sits on a half boundary;
the linter probes exactly that. Both gates should be zero-failure
before certifying a round.
"""

from __future__ import annotations

import hashlib
import os
import sys
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wallaroo_spark.session import get_spark, TABLES


def norm_cell(v):
    import datetime, math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0:
            return "0"  # collapse IEEE -0.0 vs +0.0
        return f"{v:.0f}" if v == int(v) and abs(v) < 1e15 else repr(round(v, 6))
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = get_spark("check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception:
            print(f"FAIL {name}: spark raised")
            traceback.print_exc()
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows")
            continue
        try:
            rel = con.sql(oracles[name])
            orows = rel.fetchall()
            ocols = rel.columns
        except Exception:
            print(f"FAIL {name}: duckdb raised")
            traceback.print_exc()
            failures.append(name)
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        else:
            sh = value_hash([tuple(r) for r in srows], scols)
            oh = value_hash(orows, ocols)
            if sh != oh:
                problems.append("value-hash mismatch")
                sset = {
                    "|".join(
                        norm_cell(t[i])
                        for i in sorted(range(len(scols)), key=lambda i: scols[i])
                    )
                    for t in [tuple(r) for r in srows]
                }
                oset = {
                    "|".join(
                        norm_cell(t[i])
                        for i in sorted(range(len(ocols)), key=lambda i: ocols[i])
                    )
                    for t in orows
                }
                so = list(sset - oset)[:3]
                os_ = list(oset - sset)[:3]
                problems.append(f"spark-only={so}")
                problems.append(f"oracle-only={os_}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"OK   {name} ({len(srows)} rows)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
