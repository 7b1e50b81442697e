"""Streaming near-duplicate detection: banded MinHash-LSH with
watermark-bounded state.

The streaming counterpart of ``operators.dedup.minhash_lsh_pairs`` (the
ICDE'20 streaming set-similarity shape, PAPERS.md), completing the story
started by ``exact_dedup_stream``:

- **signatures are stateless column math**: shingles -> per-element md5
  universe hash -> 16 permutation minima, all native array expressions per
  row (no shuffle, no Python);
- **band buckets are the state keys**: each doc explodes to LSH_BANDS rows
  keyed by the SAME packed ``xxhash64(band, mh...)`` signature the batch
  operator joins on; the keyed-state runner (``state.run_keyed``) keeps,
  per bucket, the member docs inside the lateness horizon (id, event-ts,
  shingle-hash set packed as int64 bytes);
- **exact verify inline**: a new doc pairs against its bucket's members
  with the exact set-Jaccard (same distinct-shingle semantics as batch,
  over the md5 universe hashes), emitting only pairs >= threshold;
- **state is watermark-bounded**: members older than the horizon are
  evicted on every update and idle buckets are cleared by an event-time
  timeout — state size is the churn inside the horizon, never the stream;
- **cross-band dedup without a second stateful op**: the same pair matches
  in up to LSH_BANDS buckets, but each member carries its full 16-value
  signature, so every bucket can see which OTHER bands also match and only
  the lowest matching band emits the pair (Spark's multi-stateful
  correctness checker rightly rejects a downstream
  ``dropDuplicatesWithinWatermark`` after a flatMapGroupsWithState that
  can emit behind the watermark).

Semantics: a near-dup pair is reported iff the two docs arrive within the
lateness horizon of each other (the same horizon guarantee
``exact_dedup_stream`` documents). With a horizon covering the whole
stream, the drained result equals the batch operator's (parity-tested).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wallaroo_spark.functions import hashing as H
from wallaroo_spark.streaming.state import EP, from_epoch_fn, run_keyed


def _band_rows(
    sdf: DataFrame, id_col: str, text: str, ts_col: str
) -> DataFrame:
    """doc rows -> (sig, id, ts, shingle-hash set) band rows, all native
    column math (minhash per doc needs no shuffle, unlike the batch
    explode+groupBy which amortizes over a whole table scan)."""
    from wallaroo_spark.operators.dedup import shingles

    hs = F.array_distinct(
        F.transform(shingles(F.col(text)), lambda s: H.hmod_col(s))
    )
    mh = [F.array_min(F.transform(F.col("_hs"), lambda h: H.perm_col(h, i))) for i in range(H.N_PERM)]
    sigs = F.array(
        *[
            F.xxhash64(
                F.lit(b), *[mh[b * H.LSH_ROWS + r] for r in range(H.LSH_ROWS)]
            )
            for b in range(H.LSH_BANDS)
        ]
    )
    return (
        sdf.select(
            F.col(id_col).alias("_id"), F.col(ts_col).alias("_ts"), hs.alias("_hs")
        )
        .filter(F.size("_hs") > 0)
        .withColumn("_mh", F.array(*mh))
        .select("_id", "_ts", "_hs", "_mh", F.posexplode(sigs).alias("_band", "sig"))
    )


def minhash_lsh_pairs_stream(
    sdf: DataFrame,
    ts_col: str,
    delay_s: int,
    id_col: str = "doc_id",
    text: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Streaming MinHash-LSH near-dup pairs (see module docstring).

    ``sdf`` must be a streaming DataFrame; the watermark (lateness horizon
    ``delay_s``) is applied here. Output: (doc_a, doc_b, jaccard, pair_ts),
    doc_a < doc_b, exact Jaccard >= threshold, one row per pair.
    """
    bands = _band_rows(
        sdf.withWatermark(ts_col, f"{int(delay_s)} seconds"), id_col, text, ts_col
    )

    n_rows = H.LSH_ROWS
    horizon = float(delay_s)
    # pair_ts must round-trip back through the session timezone
    from_ep = from_epoch_fn(sdf)

    def unpack(t):
        return [
            (int(i), float(ts), np.frombuffer(sh, dtype="<i8"), np.frombuffer(mh, dtype="<i8"))
            for i, ts, sh, mh in zip(*t)
        ]

    def pack(members):
        ids, tss, shs, mhs = zip(*[(i, t, a.tobytes(), m.tobytes()) for i, t, a, m in members])
        return list(ids), list(tss), list(shs), list(mhs)

    def live(members, wm):
        # watermark-bounded eviction: a member older than the horizon can
        # never pair with a future in-watermark arrival again
        return [m for m in members if m[1] + horizon >= wm]

    def keep(rows, members, base):
        if not members:
            return rows, None, None
        return rows, members, int((base + horizon) * 1000 + 1000)

    def on_timeout(key, members, wm):  # idle bucket: evict, re-arm or clear
        members = live(members, wm)
        return keep([], members, min((t for _, t, _, _ in members), default=0.0))

    def step(key, pdf, members, wm):
        members = live(members, wm)
        rows = []
        for did, ts, rhs, rmh, band in zip(
            pdf["_id"], pdf[EP], pdf["_hs"], pdf["_mh"], pdf["_band"]
        ):
            did, band = int(did), int(band)
            sh = np.unique(np.asarray(rhs, dtype="<i8"))
            mh = np.asarray(rmh, dtype="<i8")
            for mid, mts, msh, mmh in members:
                if mid == did:
                    continue
                # the horizon guarantee is on EVENT-time distance; the
                # watermark-based eviction above only bounds state (it
                # lags a micro-batch behind)
                if abs(ts - mts) > horizon:
                    continue
                # cross-band dedup: emit from the LOWEST band whose
                # 4-row signature agrees (this bucket's band agrees by
                # construction — it is the state key)
                lower_match = any(
                    np.array_equal(
                        mh[b * n_rows : (b + 1) * n_rows],
                        mmh[b * n_rows : (b + 1) * n_rows],
                    )
                    for b in range(band)
                )
                if lower_match:
                    continue
                inter = np.intersect1d(sh, msh, assume_unique=True).size
                union = sh.size + msh.size - inter
                jac = round(inter / union, 4) if union else 0.0
                if jac >= threshold:
                    a, b = (mid, did) if mid < did else (did, mid)
                    rows.append((a, b, jac, from_ep(max(ts, mts))))
            members.append((did, ts, sh, mh))
        return keep(rows, members, max((t for _, t, _, _ in members), default=0.0))

    return run_keyed(
        bands, ["sig"], step, "doc_a bigint, doc_b bigint, jaccard double, pair_ts timestamp",
        "ids array<bigint>, tss array<double>, shs array<binary>, mhs array<binary>",
        init=list, pack=pack, unpack=unpack, order=["_ts"], event_time="_ts",
        on_timeout=on_timeout,
    )
