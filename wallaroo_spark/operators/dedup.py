"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Training-data dedup at 100 TB is shuffle-bound; each operator here is built
around one hash-partitioned shuffle and map-side reduction:

- **exact**: group by fingerprint, keep min id — one shuffle on the hash,
  partial agg map-side.
- **n-gram Jaccard** (exact near-dup): explode word shingles, self-join on
  shingle, count. The shingle join is the scale risk (hot shingles blow up
  the pair space) — at 100 TB add prefix filtering (sort shingles by global
  frequency, join only on each doc's rarest shingles); AQE skew handling
  covers moderate skew.
- **MinHash + LSH**: k=16 md5-based permutation minima per doc → 4 bands of
  4 → candidate pairs join per band → exact-Jaccard verify. Cost is linear
  in docs + candidate pairs, never all-pairs; the per-band join is an
  equi-join on the band signature (hash shuffle, broadcast-able bands).
- **SimHash**: 32-bit frequency-weighted sign fingerprint per doc; near-dups
  have small Hamming distance. Emitting the fingerprint is a pure map; the
  pairing stage (not needed for the oracle surface) buckets by bit-masked
  prefixes.

Hashes come from ``wallaroo_spark.functions.hashing`` so the DuckDB oracles
(generated from the same constants — see queries.py) match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wallaroo_spark.functions import hashing as H
from wallaroo_spark.functions.caching import materialize_release
from wallaroo_spark.operators.text import tokens

SHINGLE_K = 3


def kshingles(c: Column, k: int) -> Column:
    """Distinct word k-gram shingles; whole text if < k words; token-less
    documents yield NO shingles (an empty doc must never match anything)."""
    toks = tokens(c)
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.filter(
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
        ),
        lambda x: x != "",
    )


def shingles(c: Column) -> Column:
    """Distinct word 3-gram shingles (the dedup family's default width)."""
    return kshingles(c, SHINGLE_K)


def exact_dedup(df: DataFrame, by: list[str], id_col: str) -> DataFrame:
    """Keep the first (min id) row per duplicate group.

    min_by hash aggregate, not a row_number window: both are one shuffle,
    but the aggregate combines map-side (one surviving row per group per
    partition crosses the wire) while the window sort-shuffles every
    duplicate — at 100 TB with heavy duplication that is the difference
    between shuffling survivors and shuffling the corpus."""
    cols = df.columns
    return (
        df.groupBy(*by)
        .agg(F.min_by(F.struct(*cols), F.col(id_col)).alias("_r"))
        .select(*[F.col(f"_r.{c}").alias(c) for c in cols])
    )


def exact_dedup_stream(sdf: DataFrame, by: list[str], ts_col: str, delay: str) -> DataFrame:
    """Streaming exact dedup with WATERMARK-BOUNDED state.

    Native ``dropDuplicatesWithinWatermark``: a key's dedup state is evicted
    once the watermark passes its event time + delay, so state is bounded by
    the churn inside the lateness horizon — the only way exact streaming
    dedup survives an unbounded stream (plain dropDuplicates keys state
    forever). Duplicates arriving within the horizon are suppressed
    exactly; re-occurrences beyond it are treated as new (document the
    horizon as the dedup guarantee)."""
    return sdf.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(by)


def _doc_shingles(df: DataFrame, id_col: str, text: str) -> DataFrame:
    return df.select(id_col, F.explode(shingles(F.col(text))).alias("sh"))


def doc_shingles(df: DataFrame, id_col: str = "doc_id", text: str = "text") -> DataFrame:
    """Public (id, sh) shingle table — persist it and pass as ``shingles_df``
    to ``ngram_jaccard_pairs`` / ``minhash_lsh_pairs`` to share ONE explode
    across several similarity passes (e.g. an exact-truth + LSH recall
    audit). The caller owns the cache lifecycle of a shared table."""
    return _doc_shingles(df, id_col, text)


VOCAB_BROADCAST_MAX = 1_000_000  # distinct shingles above which the frequency
# dictionary is too big to broadcast (~50-100 B/row => ~100 MB at the cap)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    threshold: float = 0.7,
    vocab_broadcast_max: int | None = VOCAB_BROADCAST_MAX,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Exact all-near-pairs by shingle Jaccard >= threshold — with lossless
    **prefix filtering** (the standard set-similarity-join optimization; cf.
    the distributed variants in the ICDE'20 streaming set-similarity
    literature, PAPERS.md).

    Candidate generation joins only each document's *prefix* — its
    ``|A| - ceil(t*|A|) + 1`` globally-rarest shingles (any pair with
    J >= t must share a prefix shingle; rarer-first ordering keeps join
    groups small). This removes the hot-shingle quadratic blowup: the join
    fan-out is bounded by prefix-shingle frequencies, not raw frequencies.
    On top of the prefix join, two further LOSSLESS prunes (the ppjoin
    filters) run as pure Column predicates before the distinct:

    - length filter: J >= t forces t*|A| <= |B| <= |A|/t;
    - positional filter: a match at prefix positions (pa, pb) can yield at
      most ``1 + min(|A|-pa, |B|-pb)`` overlap, which must reach the J >= t
      overlap requirement ``ceil(t/(1+t) * (|A|+|B|))``.

    Verification then computes exact Jaccard on candidates only, so the
    result is identical to the naive all-pairs join (the oracle checks
    this literally).

    ``shingles_df``: optional pre-computed ``doc_shingles`` table (already
    persisted by the caller) — shares one shingle explode across operators;
    the caller then owns its cache lifecycle.
    """
    owns_cache = shingles_df is None
    sh = _doc_shingles(df, id_col, text).persist() if owns_cache else shingles_df

    # SIZE-AWARE broadcast decision: at 100 TB the shingle vocabulary is tens
    # of GB and a forced broadcast OOMs the driver, so estimate the distinct
    # count first (one approx agg that also warms the shingle cache) and
    # degrade to a plain shuffle join above the threshold — the algorithm is
    # unchanged either way. vocab_broadcast_max=None always broadcasts.
    #
    # r17: the SAME action also decides the verify-join key. The 10x scale
    # study showed the verify re-exchange of |cands| x shingles/doc rows
    # keyed by the shingle STRING is this operator's superlinear stage
    # (39.5 of 141 s at 10x); joining on xxhash64(sh) narrows those rows
    # ~40%. Lossless BY VERIFICATION, not by assumption: the exact
    # distinct-shingle vs distinct-hash counts ride the one agg below, and
    # the hashed key is used only when they are equal — zero collisions on
    # THIS input means hash-equality is string-equality, so the joined
    # multiset is identical; any collision falls back to the string join.
    # No extra job: the guard shares the existing vocabulary action.
    if vocab_broadcast_max is not None:
        stats = sh.agg(
            F.approx_count_distinct("sh").alias("v"),
            F.count_distinct(F.col("sh")).alias("_nd"),
            F.count_distinct(F.xxhash64(F.col("sh"))).alias("_nh"),
        ).first()
        bcast = stats["v"] <= vocab_broadcast_max
        hashed_verify = stats["_nd"] == stats["_nh"]
    else:
        bcast = True
        hashed_verify = False  # no action on this path; keep string keys
    # candidates CARRY the per-doc sizes the prefix window already computed
    # (r17, guide §2.4): the separate sizes groupBy over the full shingle
    # table and the two pair⋈sizes joins at the end are gone. (A broadcast
    # semi pre-filter of the verify sides to candidate doc ids — guide
    # §3.2 — was built and A/B-measured r17: the count needed to guard the
    # broadcast serializes candidate generation AHEAD of the verify job it
    # used to overlap with, +1.1 s warm at sf0.1; rejected, numbers in
    # OPTIMIZATION_r17.md.)
    cands = _ngram_candidates(
        sh, id_col, threshold, broadcast_freq=bcast, hashed=hashed_verify
    )

    # exact verification on candidates only (same shape as minhash verify);
    # 8-byte hash key when the guard above proved it collision-free on
    # this input, shingle string otherwise
    key = "_vh" if hashed_verify else "sh"
    shv = (
        sh.select(id_col, F.xxhash64(F.col("sh")).alias(key))
        if hashed_verify
        else sh
    )
    a = shv.select(F.col(id_col).alias("doc_a"), key)
    b = shv.select(F.col(id_col).alias("doc_b"), key)
    inter = (
        cands.join(a, "doc_a")
        .join(b, ["doc_b", key])
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.withColumn("jaccard", H.det_round_col(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return materialize_release(out, *([sh] if owns_cache else []))


def _ngram_candidates(
    sh: DataFrame, id_col: str, threshold: float, broadcast_freq: bool,
    hashed: bool = False,
) -> DataFrame:
    """Prefix-filter candidate generation (ppjoin): rank shingles rarest-
    first, join only each doc's prefix, apply length + positional filters.
    ``broadcast_freq`` picks broadcast vs shuffle for the global frequency
    dictionary join (decided size-aware by the caller).

    ``hashed`` (r17): when the caller's guard proved xxhash64 collision-free
    on this input's shingles, the whole candidate phase runs on the 8-byte
    hash — the frequency groupBy, the rank window and the prefix self-join
    never carry shingle strings. Rarest-first ordering tiebreaks on the
    hash instead of the string: prefix filtering is lossless under ANY
    total order over the shingle values shared by both docs, and zero
    collisions make (f, hash) exactly such an order — candidates stay a
    superset of the true pairs and the exact verify is unchanged."""
    key = "_ch" if hashed else "sh"
    base = sh.select(id_col, F.xxhash64(F.col("sh")).alias(key)) if hashed else sh
    freq = base.groupBy(key).agg(F.count("*").alias("f"))
    if broadcast_freq:
        # dictionary-sized: ship it to the (data-sized) shingle rows
        freq = F.broadcast(freq)
    # rank + per-doc size in ONE hash shuffle on id_col (window count reuses
    # the row_number exchange) instead of a separate sizes agg + join
    w_id = Window.partitionBy(id_col)
    ranked = base.join(freq, key).select(
        id_col,
        key,
        F.row_number().over(w_id.orderBy(F.col("f"), F.col(key))).alias("_pos"),
        F.count("*").over(w_id).alias("sz"),
    )
    prefix = ranked.filter(
        F.col("_pos") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).select(id_col, key, "_pos", "sz")
    pa = prefix.select(
        F.col(id_col).alias("doc_a"), key, F.col("_pos").alias("_pa"), F.col("sz").alias("_sza")
    )
    pb = prefix.select(
        F.col(id_col).alias("doc_b"), key, F.col("_pos").alias("_pb"), F.col("sz").alias("_szb")
    )
    min_overlap = F.ceil(
        F.lit(threshold) / (1.0 + threshold) * (F.col("_sza") + F.col("_szb"))
    )
    overlap_bound = 1 + F.least(
        F.col("_sza") - F.col("_pa"), F.col("_szb") - F.col("_pb")
    )
    return (
        pa.join(pb, key)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            (F.col("_szb") >= threshold * F.col("_sza"))
            & (F.col("_sza") >= threshold * F.col("_szb"))
        )
        .filter(overlap_bound >= min_overlap)
        # sizes are functions of the ids, so the distinct pair set is
        # unchanged — carrying them saves the caller a sizes agg + 2 joins
        .select(
            "doc_a", "doc_b",
            F.col("_sza").alias("sz_a"), F.col("_szb").alias("sz_b"),
        )
        .distinct()
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """k=16 minhash values per document (columns mh0..mh15)."""
    # project the md5 hash ONCE per shingle row, then run the 16 cheap
    # arithmetic permutations over that column — not 16 md5 calls per row
    base = _doc_shingles(df, id_col, text) if shingles_df is None else shingles_df
    sh = base.select(id_col, H.hmod_col(F.col("sh")).alias("h"))
    aggs = [F.min(H.perm_col(F.col("h"), i)).alias(f"mh{i}") for i in range(H.N_PERM)]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_tune(threshold: float, n_perm: int = H.N_PERM) -> dict:
    """Choose the (bands, rows) banding for MinHash(n_perm) LSH at a
    target Jaccard threshold — the MMDS S-curve rule: pick the divisor
    pair whose curve midpoint (1/b)^(1/r) sits closest to the threshold,
    tiebreaking toward higher catch probability 1-(1-t^r)^b AT the
    threshold. The tunability companion of ivf_auto_size: the default
    4x4 is the t~0.5 dedup geometry; a t=0.7 near-dup pass wants 2x8.
    Returns {bands, rows, s50, p_catch} (floats 4dp, matching the
    lsh_tuning_report oracle)."""
    if not 0 < threshold < 1:
        raise ValueError(f"lsh_tune: threshold must be in (0,1), got {threshold}")
    best = None
    for r in range(1, n_perm + 1):
        if n_perm % r:
            continue
        b = n_perm // r
        s50 = (1.0 / b) ** (1.0 / r)
        p = 1.0 - (1.0 - threshold**r) ** b
        key = (abs(s50 - threshold), -p, b)
        if best is None or key < best[0]:
            best = (key, {"bands": b, "rows": r,
                          "s50": round(s50, 4), "p_catch": round(p, 4)})
    return best[1]


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    threshold: float = 0.5,
    shingles_df: DataFrame | None = None,
    bands: int | None = None,
    rows: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs, verified with exact shingle Jaccard.

    Default banding is 4 bands of 4 rows (the t~0.5 dedup geometry);
    pass ``bands``/``rows`` (b*r <= N_PERM — e.g. lsh_tune(threshold))
    to move the S-curve midpoint for other thresholds. Candidates =
    equal on any band; then exact verify >= threshold. Linear shuffles;
    never all-pairs — and the verify makes every banding choice a
    RECALL dial only, never a correctness one.

    ``shingles_df``: optional pre-computed persisted ``doc_shingles`` table
    shared with other similarity passes (caller owns its cache lifecycle).
    """
    n_bands = bands if bands is not None else H.LSH_BANDS
    n_rows = rows if rows is not None else H.LSH_ROWS
    if n_bands * n_rows > H.N_PERM:
        raise ValueError(
            f"minhash_lsh_pairs: bands*rows = {n_bands * n_rows} exceeds "
            f"the {H.N_PERM} available minhash permutations"
        )
    owns_cache = shingles_df is None
    if owns_cache:
        # share ONE persisted shingle explode between the signature build
        # and the exact-Jaccard verify below (r16) — unhoisted, the verify
        # persisted its own copy while minhash_signatures re-derived the
        # shingles from the raw text (and the bands self-join replays
        # that unpersisted subtree per side)
        shingles_df = _doc_shingles(df, id_col, text).persist()
    sigs = minhash_signatures(df, id_col, text, shingles_df=shingles_df)
    # one row per (doc, band), the band signature PACKED into a single
    # xxhash64 long (band id folded into the hash): a single self-equi-join
    # on the 8-byte sig replaces LSH_BANDS separate joins AND shuffles
    # (sig, doc) rows instead of 4-long structs — the narrowest possible
    # bucket-join shape. A hash collision can only ADD a false candidate,
    # which the exact-Jaccard verify below removes, so the output is
    # identical to the struct-equality join. (r17: threading the per-doc
    # size THROUGH the band rows — the shape ngram's candidates use — was
    # A/B-measured and rejected: +8 B on both sides of the hot band
    # self-join cost ~10% at 10x; fusing the size into the signature
    # aggregate instead is defeated by column pruning, which splits the
    # two consumers back into the same two aggregates. Numbers in
    # OPTIMIZATION_r17.md.)
    bands = sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        *[F.col(f"mh{b * n_rows + r}") for r in range(n_rows)],
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("sig"),
    )
    cands = (
        bands.alias("a")
        .join(bands.alias("b"), "sig")
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )

    # exact-Jaccard verification of candidates ONLY: expand candidate pairs
    # to (pair, shingle) via two equi-joins — cost |cands| * shingles/doc,
    # never the all-pairs shingle blowup (hot shingles in a small vocabulary
    # make the naive sh⋈sh join quadratic). The r16 hoist assigns
    # shingles_df up front, so it is never None here (r17 review: the old
    # conditional re-persist branch was dead, and would have leaked a
    # second corpus-sized cache had it ever fired).
    sh = shingles_df
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    # lossless length filter BEFORE the shingle-expansion verify: J >= t
    # forces t*|A| <= |B| <= |A|/t, so size-mismatched candidates never pay
    # the expensive (pair x shingles) join; sizes ride along so the final
    # jaccard needs no further joins
    cands_sz = (
        cands.join(
            sizes.withColumnRenamed(id_col, "doc_a").withColumnRenamed("sz", "sz_a"),
            "doc_a",
        )
        .join(
            sizes.withColumnRenamed(id_col, "doc_b").withColumnRenamed("sz", "sz_b"),
            "doc_b",
        )
        .filter(
            (F.col("sz_b") >= threshold * F.col("sz_a"))
            & (F.col("sz_a") >= threshold * F.col("sz_b"))
        )
    )
    a = sh.select(F.col(id_col).alias("doc_a"), "sh")
    b = sh.select(F.col(id_col).alias("doc_b"), "sh")
    inter = (
        cands_sz.join(a, "doc_a")
        .join(b, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.withColumn(
            "jaccard",
            H.det_round_col(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return materialize_release(out, *([sh] if owns_cache else []))


def duplicate_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    threshold: float = 0.5,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate clusters: connected components over the MinHash-LSH
    pair graph; component id = min doc id (the canonical survivor).

    Iterative min-label propagation over the *pair* graph only — the graph
    is pairs-sized (tiny vs the corpus even at 100 TB), each iteration is
    one join+agg, and near-dup components have small diameter so the loop
    converges in a handful of rounds (hard cap + convergence check; no
    driver-side graph). Output: (doc_id, component_id) for docs that have at
    least one near-duplicate.
    """
    pairs = minhash_lsh_pairs(
        df, id_col, text, threshold, shingles_df=shingles_df
    ).select("doc_a", "doc_b")
    # undirected edge list keeps every paired node present (pairs are already
    # materialized + lineage-truncated by minhash_lsh_pairs)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .persist()
    )
    init = edges.groupBy("src").agg(
        F.least(F.min("dst"), F.min("src")).alias("lbl")
    ).persist()
    labels, prev_mat = init, init  # prev_mat = the persisted frame backing labels

    max_rounds = 25  # doubling => covers diameter 2^25; loop exits far earlier
    converged = False
    for rnd in range(max_rounds):
        # one round fuses three things into ONE job:
        #  (a) neighbor propagation: min over neighbors' labels,
        #  (b) pointer doubling: label-of-label (logarithmic convergence on
        #      long chains — a >cap-diameter path must not silently
        #      return wrong components),
        #  (c) the convergence check, aggregated from the same cached frame
        #      (no extra limit(1).count() job over a fresh plan).
        prop = (
            edges.join(
                labels.select(F.col("src").alias("dst"), F.col("lbl").alias("nlbl")), "dst"
            )
            .groupBy("src")
            .agg(F.min("nlbl").alias("plbl"))
        )
        doubled = labels.select(F.col("lbl").alias("dsrc"), F.col("src").alias("_via")).join(
            labels.select(F.col("src").alias("dsrc"), F.col("lbl").alias("dlbl")), "dsrc"
        ).select(F.col("_via").alias("src"), "dlbl")
        nl = (
            labels.select("src", F.col("lbl").alias("_old"))
            .join(prop, "src", "left")
            .join(doubled, "src", "left")
            .select(
                "src",
                "_old",
                F.least(
                    F.col("_old"), F.coalesce("plbl", "_old"), F.coalesce("dlbl", "_old")
                ).alias("lbl"),
            )
        )
        # every few rounds cut the join lineage at an eager materialization;
        # otherwise persist (the convergence agg below populates the cache)
        new_mat = nl.localCheckpoint(eager=True) if rnd % 5 == 4 else nl.persist()
        changed = (
            new_mat.agg(
                F.sum((F.col("lbl") != F.col("_old")).cast("long")).alias("c")
            ).first()["c"]
            or 0
        )
        prev_mat.unpersist()
        labels, prev_mat = new_mat.select("src", "lbl"), new_mat
        if changed == 0:
            converged = True
            break
    if not converged:  # pragma: no cover - 2^25 diameter is unreachable
        raise RuntimeError(
            f"duplicate_clusters: label propagation did not converge in {max_rounds} rounds"
        )
    out = labels.select(F.col("src").alias(id_col), F.col("lbl").alias("component_id"))
    return materialize_release(out, edges, prev_mat)


SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # 4 bands x 8 bits: pigeonhole-lossless for hamming <= 3


def simhash_near_pairs(
    df: DataFrame, max_hamming: int = 3, id_col: str = "doc_id", text: str = "text"
) -> DataFrame:
    """All pairs with SimHash Hamming distance <= max_hamming.

    Banded candidate generation: the 32-bit fingerprint splits into 4 bands
    of 8 bits; a pair within Hamming distance 3 differs in at most 3 bands,
    so it must agree EXACTLY on at least one band (pigeonhole) — lossless
    for ``max_hamming < SIMHASH_BANDS``. Candidates are a per-band equi-join
    (hash shuffle on the band value, linear in docs), then the exact
    popcount verify runs on candidates only — never all-pairs.
    """
    fp = simhash(df, id_col, text)
    return hamming_pairs(
        fp, "simhash", max_hamming, bits=SIMHASH_BITS, bands=SIMHASH_BANDS,
        id_col=id_col,
    )


def _stride_subband(hash_col, j: int, stride: int, bits: int):
    """Pack bits {i : i % stride == j} of a ``bits``-wide fingerprint into a
    dense integer (bit n of the result = bit j + n*stride of the hash).
    Pure Column bit math — stays inside whole-stage codegen."""
    out = None
    n = 0
    for i in range(j, bits, stride):
        bit = F.shiftright(hash_col, i).bitwiseAND(F.lit(1))
        term = bit if n == 0 else F.shiftleft(bit, n)
        out = term if out is None else out + term
        n += 1
    return (out if out is not None else F.lit(0)).cast("long")


def hamming_pairs(
    fp: DataFrame,
    hash_col: str,
    max_hamming: int,
    bits: int,
    bands: int,
    id_col: str = "doc_id",
    out_a: str = "doc_a",
    out_b: str = "doc_b",
    hot_band_cap: int | None = 4096,
) -> DataFrame:
    """All id pairs whose ``bits``-wide fingerprints are within Hamming
    distance ``max_hamming`` — the generic banded-pigeonhole engine behind
    SimHash text near-dup and perceptual-hash media near-dup.

    The fingerprint splits into ``bands`` equal bands; a pair within
    distance d < bands differs in at most d bands, so it must agree EXACTLY
    on >= 1 band (pigeonhole — lossless). Candidates are a per-band
    equi-join (hash shuffle on the band value, linear in rows), exact
    popcount verify on candidates only — never all-pairs. Band rows CARRY
    the full fingerprint (+8 bytes/row): the verify runs inline on the
    band join and the hamming filter lands BEFORE the distinct, so the
    distinct dedupes only the surviving pair set, not the hot-bucket
    candidate blowup.

    Hot-band refinement (``hot_band_cap``): a band value shared by m rows
    yields m^2 candidates — the superlinear term the 10x scale study
    measured (decade exponents 1.1-1.3 on adversarially self-similar
    corpora). Any (band, val) bucket larger than the cap is LOSSLESSLY
    re-bucketed: its rows explode into ``max_hamming + 1`` STRIDE sub-bands
    over the full fingerprint (sub-band j = bits {i : i % (d+1) == j}), and
    the join key becomes (band, val, sub, subval). Pigeonhole applies
    unchanged — <= d differing bits spoil <= d of the d+1 stride sub-bands,
    so a true pair still agrees on >= 1 — and stride bits are independent of
    the contiguous band bits, so a hot bucket splits by the rest of the
    fingerprint instead of going quadratic.

    RECURSIVE refinement (round 9): a bucket can stay hot after stride
    splitting when the corpus also aligns on a stride class (the adversary
    fixes band bits AND the mod-(d+1) residue-class bits). Buckets still
    above the cap re-bucket ONCE more on the BLOCK-STRIDE partition
    (group g = bits {i : (i // (d+1)) % (d+1) == g}) — a third partition
    of the bit positions disjoint from both the contiguous bands and the
    level-1 stride classes; pigeonhole holds for ANY partition into d+1
    groups, so losslessness is preserved (pinned by
    tests/test_scale_gate.py and the level-2 adversarial test). Buckets
    whose fingerprints are all IDENTICAL are never exploded at any level
    (min == max check in the same partial agg): their m^2 pairs ARE the
    output, and splitting would only multiply that same join work by
    stride per level. For anything else still hot at level 2,
    lsh_recall_audit is the measurement tool (the documented
    cap-and-audit fallback). Cost when nothing is hot: two
    partial-agg counts over keys the candidate join shuffles on anyway.
    ``None`` disables.
    """
    if max_hamming >= bands:
        raise ValueError("banding is lossless only for max_hamming < bands")
    bdf = _banded_table(fp, hash_col, max_hamming, bits, bands, id_col, hot_band_cap)
    keys = ["band", "val", "sub", "subval", "sub2", "subval2"]
    a = bdf.select(F.col(id_col).alias(out_a), F.col(hash_col).alias("_ha"), *keys)
    b = bdf.select(F.col(id_col).alias(out_b), F.col(hash_col).alias("_hb"), *keys)
    return (
        a.join(b, keys)
        .filter(F.col(out_a) < F.col(out_b))
        .withColumn("hamming", F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select(out_a, out_b, "hamming")
        .distinct()
    )


def _banded_table(
    fp: DataFrame,
    hash_col: str,
    max_hamming: int,
    bits: int,
    bands: int,
    id_col: str,
    hot_band_cap: int | None,
    levels: int = 2,
) -> DataFrame:
    """The keyed band table both join sides of hamming_pairs read: one row
    per (id, band) plus the hot-bucket refinement explosions, keyed by
    (band, val, sub, subval, sub2, subval2). ``levels`` caps the
    refinement depth (1 = stride only, 2 = + block-stride) — split out so
    tests can measure candidate mass (sum of m^2 over key groups) per
    level."""
    width = bits // bands
    bdf = fp.select(
        id_col,
        hash_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col(hash_col), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bv"),
    ).select(id_col, hash_col, F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    if hot_band_cap is None:
        return (
            bdf.withColumn("sub", F.lit(-1)).withColumn("subval", F.lit(0))
            .withColumn("sub2", F.lit(-1)).withColumn("subval2", F.lit(0))
        )
    stride = max_hamming + 1
    # Hot buckets found with a partial-agg count (map-side combine makes
    # the shuffle tiny) rather than a window over the full band table —
    # the band table then shuffles only once, for the candidate join.
    # The hot relations are left UNHINTED: they are structurally small
    # (<= rows/cap values survive the filter) so AQE broadcasts them, but
    # at extreme corpus sizes they can legitimately exceed broadcast range
    # and the planner falls back to a co-partitioned join on the same keys.
    # A bucket whose fingerprints are ALL IDENTICAL (min == max) is
    # irreducible — its m^2 pairs ARE the output and splitting it only
    # multiplies the same join work by stride per level — so hotness
    # requires >= 2 distinct hashes (one extra min/max in the same
    # partial agg, no extra shuffle).
    hotvals = (
        bdf.groupBy("band", "val")
        .agg(
            F.count("*").alias("_bn"),
            F.min(hash_col).alias("_h0"),
            F.max(hash_col).alias("_h1"),
        )
        .filter((F.col("_bn") > F.lit(hot_band_cap)) & (F.col("_h0") != F.col("_h1")))
        .withColumn("_hot", F.lit(True))
        .select("band", "val", "_hot")
    )
    bdf = (
        bdf.join(hotvals, ["band", "val"], "left")
        .withColumn(
            "sub",
            F.explode(
                F.when(
                    F.col("_hot").isNotNull(),
                    F.array(*[F.lit(j) for j in range(stride)]),
                ).otherwise(F.array(F.lit(-1)))
            ),
        )
        .withColumn(
            "subval",
            F.when(F.col("sub") >= 0, _subval_switch(hash_col, stride, bits))
            .otherwise(F.lit(0)),
        )
        .drop("_hot")
    )
    if levels < 2:
        return (
            bdf.withColumn("sub2", F.lit(-1)).withColumn("subval2", F.lit(0))
        )
    # level 2: buckets STILL hot after stride splitting re-bucket on the
    # block-stride partition (sub=-1 buckets are the original non-hot ones,
    # already <= cap by construction)
    hot2 = (
        bdf.filter(F.col("sub") >= 0)
        .groupBy("band", "val", "sub", "subval")
        .agg(
            F.count("*").alias("_bn"),
            F.min(hash_col).alias("_h0"),
            F.max(hash_col).alias("_h1"),
        )
        .filter((F.col("_bn") > F.lit(hot_band_cap)) & (F.col("_h0") != F.col("_h1")))
        .withColumn("_hot2", F.lit(True))
        .select("band", "val", "sub", "subval", "_hot2")
    )
    return (
        bdf.join(hot2, ["band", "val", "sub", "subval"], "left")
        .withColumn(
            "sub2",
            F.explode(
                F.when(
                    F.col("_hot2").isNotNull(),
                    F.array(*[F.lit(g) for g in range(stride)]),
                ).otherwise(F.array(F.lit(-1)))
            ),
        )
        .withColumn(
            "subval2",
            F.when(F.col("sub2") >= 0, _blockval_switch(hash_col, stride, bits))
            .otherwise(F.lit(0)),
        )
        .drop("_hot2")
    )


def _subval_switch(hash_col: str, stride: int, bits: int):
    """CASE over the exploded sub index -> that stride sub-band's packed
    value (computed only for hot-bucket rows)."""
    expr = F.lit(0)
    for j in range(stride):
        expr = F.when(
            F.col("sub") == j, _stride_subband(F.col(hash_col), j, stride, bits)
        ).otherwise(expr)
    return expr.cast("long")


def _block_subband(hash_col, g: int, stride: int, bits: int):
    """Pack bits {i : (i // stride) % stride == g} — the level-2
    block-stride partition: a partition of the bit positions into
    ``stride`` groups disjoint from both the contiguous bands and the
    level-1 stride classes (any such partition keeps pigeonhole
    losslessness). Pure Column bit math."""
    out, n = None, 0
    for i in range(bits):
        if (i // stride) % stride == g:
            bit = F.shiftright(hash_col, i).bitwiseAND(F.lit(1))
            term = bit if n == 0 else F.shiftleft(bit, n)
            out = term if out is None else out + term
            n += 1
    return (out if out is not None else F.lit(0)).cast("long")


def _blockval_switch(hash_col: str, stride: int, bits: int):
    """CASE over the exploded sub2 index -> that block-stride group's
    packed value (computed only for level-2 hot-bucket rows)."""
    expr = F.lit(0)
    for g in range(stride):
        expr = F.when(
            F.col("sub2") == g, _block_subband(F.col(hash_col), g, stride, bits)
        ).otherwise(expr)
    return expr.cast("long")


def simhash(df: DataFrame, id_col: str = "doc_id", text: str = "text") -> DataFrame:
    """32-bit frequency-weighted SimHash per document.

    Explode words (with multiplicity), md5-hash each, sum per-bit +1/-1
    votes, fingerprint bit = sign of vote sum. Map + one groupBy shuffle.
    """
    w = df.select(id_col, F.explode(tokens(F.col(text))).alias("w"))
    h = H.md5int_col(F.col("w")) % F.lit(1 << SIMHASH_BITS)
    votes = w.groupBy(id_col).agg(
        *[
            F.sum(2 * F.shiftright(h, i).bitwiseAND(F.lit(1)) - 1).alias(f"v{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    fp = None
    for i in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return votes.select(id_col, fp.cast("long").alias("simhash"))


def decontaminate_hits(
    corpus: DataFrame,
    test_set: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = SHINGLE_K,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    k-gram with a held-out test set (the standard n-gram-overlap
    decontamination step before training). Returns one row per contaminated
    corpus doc with its distinct-overlapping-shingle count.

    Scale shape: the test set is orders of magnitude smaller than the
    corpus, so its distinct shingle set broadcasts; the corpus side is one
    explode + broadcast hash join + per-doc count — the corpus is scanned
    once and never shuffled on raw text. (At a test set too large to
    broadcast, drop the hint and let AQE pick the join; the plan stays an
    equi-join on the shingle.)
    """
    tsh = test_set.select(F.explode(kshingles(F.col(text), k)).alias("sh")).distinct()
    csh = corpus.select(id_col, F.explode(kshingles(F.col(text), k)).alias("sh"))
    return (
        csh.join(F.broadcast(tsh), "sh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hit_shingles"))
    )


def duplicate_spans(
    df: DataFrame,
    k: int = 12,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document exact-substring duplicate spans (the ExactSubstr dedup
    mode, k-token-gram approximated): for every document, the merged token
    intervals whose k-gram windows appear verbatim in at least one OTHER
    document. Downstream pipelines cut these spans (rather than whole docs)
    before training.

    Scale shape: one posexplode over the token stream, grams carried as
    md5-derived 60-bit ints (8-byte shuffle keys, not strings). The
    ≥2-distinct-docs test is ``min(doc) != max(doc)`` — equivalent to
    ``count_distinct(doc) >= 2`` but a single partial-agged exchange on the
    gram hash (no two-level distinct rewrite), and the map-side partials
    compress every within-partition repeat, so singleton grams cross the
    wire once each (the irreducible ExactSubstr floor: every token must
    meet its twins once). The duplicated-gram set is corpus-dup-sized (tiny
    on mostly-unique corpora), so AQE converts the semi-join back to a
    BROADCAST at runtime — the gram stream is never shuffled a second
    time. Span merge is the classic gaps-and-islands — two window passes
    over per-doc position lists, keyed by doc so state never exceeds a
    doc's own positions. No UDFs.

    Output: (id, span_start, span_end, span_len) in token offsets, 0-based
    inclusive.
    """
    from wallaroo_spark.operators.text import kgrams

    # kgrams preserves start order, so posexplode's index IS the 0-based
    # token offset of each k-gram
    g = df.select(
        id_col, F.posexplode(kgrams(F.col(text), k)).alias("pos", "_g")
    ).select(id_col, "pos", H.md5int_col(F.col("_g")).alias("_h"))
    dup = (
        g.groupBy("_h")
        .agg(F.min(id_col).alias("_d0"), F.max(id_col).alias("_d1"))
        .filter(F.col("_d0") != F.col("_d1"))
        .select("_h")
    )
    hits = g.join(dup, "_h", "left_semi").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.withColumn(
        "_new", F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0)
    )
    grouped = flagged.withColumn("_grp", F.sum("_new").over(w))
    return (
        grouped.groupBy(id_col, "_grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


BLOOM_M_BITS = 32760  # 520 words of 63 bits; ~6% fill at ~500 elements x 4 hashes
# 63 (not 64) bits per word: DuckDB's checked BIGINT shift forbids 1<<63, so
# both engines pack bits 0..62 per long and the bitmaps stay bit-identical
BLOOM_K = 4


def bloom_bitmap(
    df: DataFrame, col: str, m_bits: int = BLOOM_M_BITS, n_hashes: int = BLOOM_K
) -> DataFrame:
    """Deterministic Bloom-filter bitmap over a column, as ONE row holding
    array<long> (m_bits/63 words). Hash family = the engine-portable md5
    permutations (`functions/hashing.py`), so DuckDB rebuilds the bitmap
    bit-for-bit and membership stays oracle-checkable — approximation
    without losing the correctness gate.

    Scale shape: positions explode map-side (n_hashes rows per value), the
    word bitmaps partial-agg through bit_or (4KB of state however many
    values go in), and the final row assembles via map_from_entries — no
    driver action, broadcastable anywhere.

    The row carries its own geometry (``bloom_m_bits``, ``bloom_k``
    columns) so membership probes can validate EXACTLY that they hash
    with the bitmap's parameters — a word-count check alone lets two
    m_bits in the same 63-bit word bucket slip through and silently break
    the no-false-negative invariant (ADVICE r12)."""
    # materialize the md5 hash ONCE per value (inlining it into every
    # permutation would recompute the md5 n_hashes times)
    h = F.col("_h")
    pos = F.array(*[H.perm_col(h, j) % F.lit(m_bits) for j in range(n_hashes)])
    bits = df.select(H.hmod_col(F.col(col)).alias("_h")).select(
        F.explode(pos).alias("_p")
    ).select(
        (F.col("_p") / 63).cast("long").alias("_word"),
        (F.col("_p") % 63).cast("int").alias("_bit"),
    )
    words = bits.groupBy("_word").agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), _bit))").alias("_bits")
    )
    n_words = -(-m_bits // 63)
    return words.agg(
        F.map_from_entries(F.collect_list(F.struct("_word", "_bits"))).alias("_m")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda i: F.coalesce(F.element_at(F.col("_m"), i.cast("long")), F.lit(0).cast("long")),
        ).alias("bloom"),
        F.lit(int(m_bits)).alias("bloom_m_bits"),
        F.lit(int(n_hashes)).alias("bloom_k"),
    )


def bloom_sized_bits(n: int, bits_per_element: int = 10) -> int:
    """m_bits sized for ``n`` elements (rounded up to whole 63-bit words,
    floored at the shingle default): ~10 bits/element at k=4 hashes gives
    ~1.2% false positives regardless of n — the sizing rule callers of
    `bloom_bitmap`/`bloom_filter_misses` over LARGE sets must apply; the
    fixed BLOOM_M_BITS default is sized for ~500-element shingle test
    sets and SATURATES (fp -> 1) beyond a few thousand elements."""
    words = max(-(-n * bits_per_element // 63), -(-BLOOM_M_BITS // 63))
    return words * 63


def bloom_filter_misses(
    df: DataFrame,
    col: str,
    bloom: DataFrame,
    m_bits: int = BLOOM_M_BITS,
    n_hashes: int = BLOOM_K,
) -> DataFrame:
    """Rows of ``df`` whose ``col`` value does NOT hit the broadcast Bloom
    bitmap (`bloom_bitmap` over the same hash family) — the generic
    membership NEGATIVE filter behind giant-scale append-dedup guards
    (e.g. refresh_pq_index's ``dedup_guard="bloom"``): a value present in
    the filtered set NEVER passes (no false negatives — the invariant
    that prevents duplicates), while a small false-positive rate drops
    genuinely-new rows (set by m_bits/n_hashes; callers must tolerate
    skips, never duplicates). Pure map over ``df`` + one bitmap
    broadcast — no shuffle, unlike the exact left_anti.

    Guards (self-review r12, tightened r13): ``m_bits``/``n_hashes`` must
    MATCH the values the bitmap was built with — a mismatch would re-map
    positions inside the other array's range and silently break the
    no-false-negative invariant. The bitmap row carries its exact
    geometry (`bloom_m_bits`/`bloom_k` columns, written by
    `bloom_bitmap`), so the validation is EXACT — two m_bits in the same
    63-bit word bucket (e.g. 32755 vs 32760) no longer slip past a
    word-count check (ADVICE r12). Legacy geometry-less bitmaps fall
    back to the word-count check. One tiny 1-row job either way. NULL
    keys are KEPT (a null never matches the exact left_anti either — the
    two guards agree). Working columns are uniquely prefixed so caller
    columns cannot collide."""
    n_words = -(-m_bits // 63)
    if {"bloom_m_bits", "bloom_k"} <= set(bloom.columns):
        meta = bloom.select(
            F.size("bloom").alias("n"), "bloom_m_bits", "bloom_k"
        ).first()
        if int(meta["bloom_m_bits"]) != int(m_bits) or int(meta["bloom_k"]) != int(n_hashes):
            raise ValueError(
                f"bloom_filter_misses: called with m_bits={m_bits}/"
                f"n_hashes={n_hashes} but the bitmap was built with "
                f"m_bits={meta['bloom_m_bits']}/n_hashes={meta['bloom_k']} "
                "— a mismatch re-maps bit positions and silently produces "
                "false negatives, i.e. duplicate appends"
            )
        got_words = int(meta["n"])
    else:
        got_words = int(bloom.select(F.size("bloom").alias("n")).first()["n"])
    if got_words != n_words:
        raise ValueError(
            f"bloom_filter_misses: m_bits={m_bits} expects {n_words} words "
            f"but the bitmap has {got_words} — pass the SAME m_bits the "
            "bitmap was built with (a mismatch would silently produce "
            "false negatives, i.e. duplicate appends)"
        )
    pfx = "_wsbf"
    out = df.withColumn(f"{pfx}_h", H.hmod_col(F.col(col).cast("string")))
    for j in range(n_hashes):
        p = H.perm_col(F.col(f"{pfx}_h"), j) % F.lit(m_bits)
        out = out.withColumn(f"{pfx}_w{j}", (p / 63).cast("int")).withColumn(
            f"{pfx}_b{j}", (p % 63).cast("int")
        )
    hit = _bloom_hit_sql(n_hashes, word=f"{pfx}_w", bit=f"{pfx}_b",
                         bloom=f"{pfx}_bloom")
    drop = [f"{pfx}_bloom", f"{pfx}_h"] + [
        c for j in range(n_hashes) for c in (f"{pfx}_w{j}", f"{pfx}_b{j}")
    ]
    return (
        out.crossJoin(
            F.broadcast(bloom.select(F.col("bloom").alias(f"{pfx}_bloom")))
        )
        .filter(F.col(f"{pfx}_h").isNull() | ~F.expr(hit))
        .drop(*drop)
    )


def _bloom_hit_sql(n_hashes: int, word: str = "_w", bit: str = "_b",
                   bloom: str = "bloom") -> str:
    """The Bloom membership bit-test (all n_hashes bits set), as the ONE
    SQL string both `bloom_filter_misses` and `decontaminate_bloom`
    evaluate — the 63-bit word packing must never diverge between them."""
    return " AND ".join(
        f"((shiftright(element_at({bloom}, {word}{j} + 1), {bit}{j}) & 1) = 1)"
        for j in range(n_hashes)
    )


def decontaminate_bloom(
    corpus: DataFrame,
    test_set: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = SHINGLE_K,
    m_bits: int = BLOOM_M_BITS,
    n_hashes: int = BLOOM_K,
) -> DataFrame:
    """Bloom-filter decontamination: like `decontaminate_hits` but the test
    set is compressed to an m_bits bitmap before broadcasting — the 100 TB
    shape when the benchmark's raw shingle set is too big to broadcast
    (a 32 KB filter stands in for gigabytes of shingles; false-positive
    rate set by m_bits/n_hashes, false negatives impossible). The corpus
    side is a pure map: explode shingles, test n_hashes bits against the
    broadcast bitmap, count hits per doc."""
    tsh = test_set.select(F.explode(kshingles(F.col(text), k)).alias("sh")).distinct()
    bloom = bloom_bitmap(tsh, "sh", m_bits, n_hashes)
    csh = corpus.select(id_col, F.explode(kshingles(F.col(text), k)).alias("sh"))
    h = H.hmod_col(F.col("sh"))
    probed = csh
    for j in range(n_hashes):
        p = H.perm_col(h, j) % F.lit(m_bits)
        probed = probed.withColumn(f"_w{j}", (p / 63).cast("int")).withColumn(
            f"_b{j}", (p % 63).cast("int")
        )
    # shiftright with a COLUMN shift count only exists in SQL form; the
    # bit-test string is shared with bloom_filter_misses (one definition)
    hit = _bloom_hit_sql(n_hashes)
    return (
        probed.crossJoin(F.broadcast(bloom.select("bloom")))
        .filter(F.expr(hit))
        .groupBy(id_col)
        .agg(F.count("*").alias("n_bloom_hits"))
    )


def decontaminate_filter(
    corpus: DataFrame,
    test_set: DataFrame,
    text: str = "text",
    k: int = SHINGLE_K,
    m_bits: int = BLOOM_M_BITS,
    n_hashes: int = BLOOM_K,
) -> DataFrame:
    """Keep only corpus docs with NO shingle in the test set's Bloom filter
    — the streamable form of decontamination: the membership test is a pure
    per-row Column expression (EXISTS over the shingle array against the
    broadcast bitmap), no explode, no re-aggregation, so it runs unchanged
    on a batch corpus or a streaming one (stream-static broadcast join,
    append mode). False positives drop a few clean docs (the safe
    direction); false negatives are impossible.
    """
    bloom = bloom_bitmap(
        test_set.select(F.explode(kshingles(F.col(text), k)).alias("sh")).distinct(),
        "sh",
        m_bits,
        n_hashes,
    )

    def member(sh: Column) -> Column:
        # bit mask via exact power-of-two double (2^b is exact in IEEE for
        # b <= 62, and our words carry 63 bits): shiftright() only accepts a
        # literal shift count, so the column-valued bit index uses pow
        h = H.hmod_col(sh)
        cond = None
        for j in range(n_hashes):
            p = H.perm_col(h, j) % F.lit(m_bits)
            mask = F.pow(F.lit(2.0), (p % 63).cast("int")).cast("long")
            c = F.get(F.col("bloom"), (p / 63).cast("int")).bitwiseAND(mask) != 0
            cond = c if cond is None else (cond & c)
        return cond

    contaminated = F.exists(kshingles(F.col(text), k), member)
    # select only the bitmap array: the geometry columns the bitmap row
    # now carries must not leak into the corpus output schema
    return (
        corpus.crossJoin(F.broadcast(bloom.select("bloom")))
        .filter(~contaminated)
        .drop("bloom")
    )


def decontaminate_spans(
    corpus: DataFrame,
    test_set: DataFrame,
    k: int = 5,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level decontamination: the merged token intervals of each corpus
    doc whose k-grams appear in the test set — so pipelines can CUT the
    overlapping ranges instead of dropping whole documents (the surgical
    variant of `decontaminate_hits`; same islands merge as
    `duplicate_spans`). The test set's distinct gram hashes broadcast; the
    corpus side is one posexplode + broadcast semi-join + per-doc windowed
    merge. Output: (id, span_start, span_end, span_len), 0-based inclusive
    token offsets."""
    from wallaroo_spark.operators.text import kgrams

    tg = (
        test_set.select(F.explode(kgrams(F.col(text), k)).alias("_g"))
        .select(H.md5int_col(F.col("_g")).alias("_h"))
        .distinct()
    )
    g = corpus.select(
        id_col, F.posexplode(kgrams(F.col(text), k)).alias("pos", "_g")
    ).select(id_col, "pos", H.md5int_col(F.col("_g")).alias("_h"))
    hits = g.join(F.broadcast(tg), "_h", "left_semi").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.withColumn(
        "_new", F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0)
    )
    return (
        flagged.withColumn("_grp", F.sum("_new").over(w))
        .groupBy(id_col, "_grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


def doc_chunks(c: Column, width: int) -> Column:
    """Aligned fixed-width token chunks of a text column (last chunk may be
    short); empty docs yield no chunks. Pure map-side array math — the unit
    of chunk-level (paragraph-style) dedup when documents have no newline
    structure."""
    toks = tokens(c)
    n = F.size(toks)
    n_chunks = F.ceil(n / F.lit(width)).cast("int")
    idx = F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))
    return F.filter(
        F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(toks, i * width + 1, width))
        ),
        lambda x: x != "",
    )


def chunk_dedup(
    df: DataFrame, width: int = 10, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Chunk-level (paragraph-style) exact dedup with per-document stats:
    split every doc into aligned ``width``-token chunks, dedup chunks
    corpus-wide keeping the first occurrence (min (doc_id, chunk_idx)), and
    report per doc how many of its chunks survive — the "cut duplicated
    passages, keep the document" mode between full-doc dedup and
    ExactSubstr span cutting.

    100 TB shape: chunks travel as 60-bit md5 ints plus (doc_id, idx); one
    hash-partitioned groupBy picks winners map-side (min partial agg), one
    doc-keyed agg rebuilds stats. Nothing quadratic, no raw-text shuffle.

    Output: (id_col, n_chunks, n_kept, dup_ratio).
    """
    ch = df.select(
        id_col, F.posexplode(doc_chunks(F.col(text), width)).alias("_idx", "_c")
    ).select(id_col, "_idx", H.md5int_col(F.col("_c")).alias("_h"))
    winners = ch.groupBy("_h").agg(
        F.min(F.struct(F.col(id_col), F.col("_idx"))).alias("_w")
    )
    return (
        ch.join(winners, "_h")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(
                (
                    (F.col(f"_w.{id_col}") == F.col(id_col))
                    & (F.col("_w._idx") == F.col("_idx"))
                ).cast("long")
            ).alias("n_kept"),
        )
        .select(
            id_col,
            "n_chunks",
            "n_kept",
            H.det_round_col(1 - F.col("n_kept") / F.col("n_chunks"), 4).alias("dup_ratio"),
        )
    )


def snapshot_novelty(
    old: DataFrame,
    new: DataFrame,
    width: int = 10,
    text: str = "text",
    id_col: str = "doc_id",
    m_bits: int = BLOOM_M_BITS,
    n_hashes: int = BLOOM_K,
) -> DataFrame:
    """Incremental snapshot dedup: how much of a NEW crawl/snapshot is novel
    relative to the existing corpus? The old corpus's chunk set compresses
    to a Bloom bitmap (broadcast, constant size); each new doc's chunks are
    probed map-side. A chunk is "novel" iff the Bloom misses (false
    positives can only UNDERcount novelty — never a contaminated keep).

    The 100 TB path for continuous corpus refresh: the old side reduces to
    one bitmap however large the corpus; the new side is a PURE MAP — the
    chunk array never explodes and the doc row never shuffles (the whole
    probe is in-row array math), so the operator runs at scan speed and is
    directly usable on a streaming snapshot feed (stream-static broadcast
    join, no watermark or state needed).

    Output per new doc: (id_col, n_chunks, n_novel, novelty_ratio); docs
    with no chunks (empty text) are dropped.
    """
    och = old.select(F.explode(doc_chunks(F.col(text), width)).alias("_c")).distinct()
    bloom = bloom_bitmap(och, "_c", m_bits, n_hashes)

    def bloom_hit(c: Column) -> Column:
        h = H.hmod_col(c)
        cond = None
        for j in range(n_hashes):
            p = H.perm_col(h, j) % F.lit(m_bits)
            word = F.element_at(F.col("bloom"), (p / 63).cast("int") + 1)
            bit = (
                F.call_function("shiftright", word, (p % 63).cast("int"))
                .bitwiseAND(F.lit(1))
                == 1
            )
            cond = bit if cond is None else (cond & bit)
        return cond

    chunks = doc_chunks(F.col(text), width)
    return (
        new.crossJoin(F.broadcast(bloom))
        .select(
            id_col,
            F.size(chunks).alias("n_chunks"),
            F.size(F.filter(chunks, lambda c: ~bloom_hit(c))).alias("n_novel"),
        )
        .filter(F.col("n_chunks") > 0)
        .select(
            id_col,
            F.col("n_chunks").cast("long").alias("n_chunks"),
            F.col("n_novel").cast("long").alias("n_novel"),
            H.det_round_col(F.col("n_novel") / F.col("n_chunks"), 4).alias("novelty_ratio"),
        )
    )
