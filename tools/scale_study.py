"""Local scaling study: replicate sf0.1 3x (key-shifted) and measure each
headline query at sf0.1 vs the 3x copy IN THE SAME SESSION, reporting the
per-query scaling exponent log(t_3x/t_1x)/log(3).

Rationale (NOTES.md): cross-round absolute timings on this shared host are
unreliable; same-session A/B is the only trustworthy comparison. An
exponent near 1.0 = linear scaling; >1.3 flags a shuffle/join whose cost
grows superlinearly with data (the 100 TB red flag the gate is for).

Replication preserves FK integrity (every integer key shifts by
r * 10_000_000 per replica r, so joins keep their fan-in) and avoids
artificial cross-replica duplicate blowups: document text gets a per-replica
prefix token and embeddings are dimension-rotated per replica (norms
preserved), so dedup/ANN pair counts stay ~3x, not 9x.

Usage: python tools/scale_study.py [out_json] [replicas] [only,names]
Writes /tmp/ws_scale{R}x/ once per factor (reused if present). The
optional third arg restricts timing to a comma-separated query subset
(for targeted 10x runs of the shuffle-bound family).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
SHIFT = 10_000_000
try:
    REPLICAS = int(sys.argv[2]) if len(sys.argv) > 2 else 3
except ValueError:  # imported as a library (e.g. from pytest) — CLI args absent
    REPLICAS = 3
DST = f"/tmp/ws_scale{REPLICAS}x"

KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["region", "nation"]  # fixed-cardinality dimensions: copy as-is


def generate(spark, src: str | None = None, dst: str | None = None,
             replicas: int | None = None) -> None:
    """Write an FK-consistent ``replicas``x copy of ``src`` to ``dst``
    (cached: a no-op if dst already holds a lineitem). Parameterized so the
    pytest scale-exponent gate can build small replicas of sf0.01; the CLI
    path keeps the module-level defaults."""
    import shutil

    from pyspark.sql import functions as F

    from wallaroo_spark.sources import read_table

    src = src or SRC
    dst = dst or DST
    replicas = replicas or REPLICAS
    if os.path.isdir(dst) and os.path.exists(f"{dst}/lineitem.parquet"):
        return
    os.makedirs(dst, exist_ok=True)
    for t in DIMS:
        shutil.copy(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
    for t, keys in KEY_COLS.items():
        base = read_table(spark, src, t)
        parts = []
        for r in range(replicas):
            d = base
            for k in keys:
                d = d.withColumn(k, F.col(k) + F.lit(r * SHIFT))
            if t == "documents" and "text" in d.columns:
                # per-replica marker token every 8 words: breaks cross-replica
                # exact AND near duplicates for every dedup family. A leading
                # token alone (the round-7 design) only perturbs the first
                # k-1 shingles, so under 3-gram Jaccard the replicas remained
                # GENUINE near-dups (J ~ (S-2)/(S+2) >= 0.7) and the measured
                # ngram_jaccard exponent was dominated by true output growth
                # (256 -> 250k pairs at 10x). Inserting every m=8 words
                # changes ~k/m = 3/8 of the shingle set, pushing cross-replica
                # J to ~0.45 < 0.7 — pair counts stay ~linear, so exponents
                # measure ALGORITHM cost again.
                if r > 0:
                    d = d.withColumn(
                        "text",
                        F.array_join(
                            F.flatten(
                                F.transform(
                                    F.split(F.col("text"), " "),
                                    lambda w, i: F.when(
                                        i % 8 == 0,
                                        F.array(F.lit(f"r{r}x"), w),
                                    ).otherwise(F.array(w)),
                                )
                            ),
                            " ",
                        ),
                    )
            if t == "embeddings" and r > 0:
                # rotate dimensions: preserves norms, breaks cross-replica
                # identical vectors (ANN pair counts stay linear)
                d = d.withColumn(
                    "embedding",
                    F.concat(
                        F.slice(F.col("embedding"), r + 1, 10_000),
                        F.slice(F.col("embedding"), 1, r),
                    ),
                )
            parts.append(d)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        tmp = f"{dst}/_tmp_{t}"
        out.coalesce(1).write.mode("overwrite").parquet(tmp)
        part_file = next(
            os.path.join(tmp, n) for n in os.listdir(tmp) if n.endswith(".parquet")
        )
        shutil.move(part_file, f"{dst}/{t}.parquet")
        shutil.rmtree(tmp)


def main() -> None:
    from bench import HEADLINE
    from wallaroo_spark.queries import QUERIES
    from wallaroo_spark.session import get_spark

    spark = get_spark("scale-study")
    spark.sparkContext.setLogLevel("ERROR")
    generate(spark)

    # warm-up (same as bench.py)
    QUERIES["global_collect_agg"](spark, SRC).write.format("noop").mode(
        "overwrite"
    ).save()

    import math

    only = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    results = {}
    for name in (only or HEADLINE):
        t0 = time.perf_counter()
        QUERIES[name](spark, SRC).write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter() - t0
        t0 = time.perf_counter()
        QUERIES[name](spark, DST).write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter() - t0
        exp = math.log(max(t3, 1e-3) / max(t1, 1e-3)) / math.log(REPLICAS)
        results[name] = {
            "t_sf0.1_s": round(t1, 3),
            "t_3x_s": round(t3, 3),
            "exponent": round(exp, 2),
        }
        print(f"{name:45s} {t1:7.2f}s {t3:7.2f}s exp={exp:5.2f}", flush=True)

    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_study.json"
    with open(out, "w") as f:
        json.dump(results, f, indent=1)
    print("wrote", out)


if __name__ == "__main__":
    main()
