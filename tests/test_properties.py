"""Property-based tests (hypothesis): operator semantics vs straight-line
Python references on arbitrary generated inputs — the reference repo's
invariant-validation style (SURVEY §5) mechanized."""

import datetime as dt

import pytest
from hypothesis import example, given, settings, strategies as st

from pyspark.sql import Row
from pyspark.sql import functions as F

from wallaroo_spark.operators import asof, windows as W
from wallaroo_spark.operators.dedup import SHINGLE_K

T0 = dt.datetime(2024, 1, 1)

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from wallaroo_spark.session import get_spark

        _spark = get_spark("props", cpus=4)
        _spark.sparkContext.setLogLevel("ERROR")
    return _spark


events = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),          # key
        st.integers(min_value=0, max_value=500),  # seconds offset
        st.integers(min_value=-100, max_value=100),  # value
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=12, deadline=None)
@given(events)
def test_tumbling_sum_matches_reference(ev):
    spark = _get_spark()
    rows = [
        Row(key=k, ts=T0 + dt.timedelta(seconds=s, microseconds=i), v=v)
        for i, (k, s, v) in enumerate(ev)
    ]
    df = spark.createDataFrame(rows)
    out = W.tumbling(df, "ts", ["key"], [F.sum("v").alias("s")], "60 seconds").collect()
    got = {(r.key, r.window_start): r.s for r in out}
    want = {}
    for r in rows:
        ws = T0 + dt.timedelta(seconds=(int((r.ts - dt.datetime(1970, 1, 1)).total_seconds()) // 60) * 60 - (T0 - dt.datetime(1970, 1, 1)).total_seconds() // 60 * 60)
        ws = r.ts.replace(second=0, microsecond=0)  # 60s windows align to minute
        want[(r.key, ws)] = want.get((r.key, ws), 0) + r.v
    assert got == want


@settings(max_examples=12, deadline=None)
@given(events, events)
def test_asof_join_matches_reference(left, right):
    spark = _get_spark()
    lrows = [
        Row(key=k, ts=T0 + dt.timedelta(seconds=s, microseconds=i), lid=i)
        for i, (k, s, _) in enumerate(left)
    ]
    rrows = [
        Row(key=k, ts=T0 + dt.timedelta(seconds=s, microseconds=i), rv=float(v))
        for i, (k, s, v) in enumerate(right)
    ]
    out = asof.asof_join(
        spark.createDataFrame(lrows),
        spark.createDataFrame(rrows),
        on=["key"],
        left_ts="ts",
        right_ts="ts",
        right_values=["rv"],
    ).collect()
    got = {r.lid: r.rv for r in out}
    want = {}
    for l in lrows:
        cands = [r for r in rrows if r.key == l.key and r.ts <= l.ts]
        want[l.lid] = max(cands, key=lambda r: (r.ts, r.rv)).rv if cands else None
    # tiebreak at equal ts: engine takes the last in (ts, side) order, which
    # for duplicate right-ts is the max (ts, arrival) — compare on ts only
    for lid, rv in got.items():
        l = lrows[lid]
        cands = [r for r in rrows if r.key == l.key and r.ts <= l.ts]
        if not cands:
            assert rv is None
        else:
            best_ts = max(r.ts for r in cands)
            assert rv in {r.rv for r in cands if r.ts == best_ts}


texts = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=30), min_size=2, max_size=10
)


@settings(max_examples=12, deadline=None)
@given(texts)
def test_shingle_jaccard_matches_reference(docs):
    spark = _get_spark()
    from wallaroo_spark.operators.dedup import ngram_jaccard_pairs

    rows = [Row(doc_id=i, text=t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    got = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(df, threshold=0.3).collect()}

    def sh(t):
        w = [x for x in t.split(" ") if x]
        if not w:
            return set()
        n = max(len(w) - (SHINGLE_K - 1), 1)
        return {" ".join(w[i : i + SHINGLE_K]) for i in range(n)}

    want = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = sh(docs[i]), sh(docs[j])
            if not a or not b:
                continue
            jac = len(a & b) / len(a | b)
            if round(jac, 4) >= 0.3:
                want[(i, j)] = round(jac, 4)
    assert got == want


def test_kmeans_fit_matches_numpy_reference():
    """kmeans_fit vs a straight-line numpy implementation of the same
    deterministic recipe (lowest-id init, cosine argmax w/ id tiebreak,
    rounded dim-wise means)."""
    import numpy as np

    spark = _get_spark()
    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 8).astype(np.float64)
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in vecs[i]]) for i in range(40)]
    )
    from wallaroo_spark.operators.similarity import kmeans_fit

    got = {
        r.cent_id: list(r.embedding)
        for r in kmeans_fit(df, k=4, iters=3, round_dp=6, init="lowest_id").collect()
    }

    cents = {i: vecs[i].copy() for i in range(4)}
    for _ in range(3):
        members = {c: [] for c in cents}
        for i in range(40):
            v = vecs[i]
            best = max(
                sorted(cents),
                key=lambda c: (
                    float(v @ cents[c] / (np.linalg.norm(v) * np.linalg.norm(cents[c]))),
                    -c,
                ),
            )
            members[best].append(v)
        cents = {
            c: np.round(np.mean(m, axis=0), 6) for c, m in members.items() if m
        }
    want = {c: [float(x) for x in v] for c, v in cents.items()}
    assert set(got) == set(want)
    for c in want:
        assert got[c] == pytest.approx(want[c], abs=2e-6)


def test_simhash_banding_is_lossless():
    """Banded candidate generation finds EVERY pair with hamming <= 3
    (pigeonhole over 4 bands) — compare against brute-force popcount."""
    spark = _get_spark()
    words = ["spark", "data", "stream", "window", "state", "key"]
    docs = [
        Row(doc_id=i, text=" ".join(words[j % len(words)] for j in range(i, i + 6)))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs)
    from wallaroo_spark.operators.dedup import simhash, simhash_near_pairs

    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_near_pairs(df, max_hamming=3).collect()
    }
    fps = {r.doc_id: r.simhash for r in simhash(df).collect()}
    want = {}
    ids = sorted(fps)
    for i in ids:
        for j in ids:
            if i < j and bin(fps[i] ^ fps[j]).count("1") <= 3:
                want[(i, j)] = bin(fps[i] ^ fps[j]).count("1")
    assert got == want and want  # non-trivial: duplicates exist by construction


def test_countmin_never_underestimates():
    """CMS guarantee: est >= true count for EVERY item (one-sided error)."""
    spark = _get_spark()
    import random

    rnd = random.Random(3)
    words = [f"w{rnd.randint(0, 30)}" for _ in range(500)]
    df = spark.createDataFrame([Row(word=w) for w in words])
    from wallaroo_spark.operators.sketch import countmin_build, countmin_estimate

    cms = countmin_build(df, "word", depth=4, width=64)
    est = {
        r.word: r.est_count
        for r in countmin_estimate(cms, df.distinct(), "word", depth=4, width=64).collect()
    }
    from collections import Counter

    true = Counter(words)
    assert set(est) == set(true)
    for w, t in true.items():
        assert est[w] >= t, (w, est[w], t)


def test_kmeans_parallel_init_beats_lowest_id_on_skewed_ids():
    """Verdict r3 criterion: on data where the lowest ids are a correlated
    sample (all from ONE cluster — the 100 TB pathology), the deterministic
    k-means|| init must yield strictly better inertia than lowest-id seeds."""
    import numpy as np

    spark = _get_spark()
    rng = np.random.RandomState(3)
    # mass-skewed, well-separated direction clusters: ids 0..99 ALL in the
    # big cluster, so lowest-id seeds start piled on it and one Lloyd round
    # cannot pull a centroid out to the two small distant clusters
    centers = np.eye(3, 8) * 10.0
    rows, i = [], 0
    for c, n in ((0, 100), (1, 10), (2, 10)):
        for _ in range(n):
            v = centers[c] + rng.randn(8) * 0.2
            rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
            i += 1
    df = spark.createDataFrame(rows)
    from wallaroo_spark.operators.similarity import cosine, kmeans_fit
    from pyspark.sql import functions as F

    def inertia(init):
        cents = kmeans_fit(df, k=3, iters=1, init=init)
        scored = df.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("_v")
        ).crossJoin(F.broadcast(cents.withColumnRenamed("embedding", "_cv")))
        best = (
            scored.withColumn("_cos", cosine(F.col("_v"), F.col("_cv")))
            .groupBy("vec_id")
            .agg(F.max("_cos").alias("mc"))
        )
        return best.agg(F.sum(1 - F.col("mc")).alias("s")).collect()[0].s

    i_par, i_low = inertia("kmeans||"), inertia("lowest_id")
    assert i_par < i_low * 0.5, (i_par, i_low)


def test_multiprobe_lsh_never_worse_than_single_bucket():
    """Multi-probe candidates are a superset of the single-bucket ones, so
    per-query results can only improve: every (query, rank) cosine from the
    plain bucket path is <= the multi-probe cosine at the same rank, and
    recall vs brute force is monotone."""
    spark = _get_spark()
    from wallaroo_spark.operators.similarity import brute_force_topk, bucketed_topk
    from wallaroo_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    corpus, queries = emb.filter("vec_id >= 10"), emb.filter("vec_id < 10")
    single = {(r.query_id, r.rank): r.cosine
              for r in bucketed_topk(corpus, queries, k=3).collect()}
    multi = {(r.query_id, r.rank): r.cosine
             for r in bucketed_topk(corpus, queries, k=3, probe_bits=2).collect()}
    exact = {(r.query_id, r.rank): (r.vec_id, r.cosine)
             for r in brute_force_topk(corpus, queries, k=3).collect()}
    assert len(multi) >= len(single)
    for key, cos in single.items():
        assert multi[key] >= cos, key
    # top-1 agreement with brute force can only improve with more probes
    top1 = {q: c for (q, rk), c in exact.items() if rk == 1}
    hit_s = sum(1 for q, c in top1.items() if single.get((q, 1)) == c[1])
    hit_m = sum(1 for q, c in top1.items() if multi.get((q, 1)) == c[1])
    assert hit_m >= hit_s


docs_strategy = st.lists(
    st.lists(st.sampled_from(list("abcdef")), min_size=0, max_size=20).map(" ".join),
    min_size=1,
    max_size=10,
)


@settings(max_examples=10, deadline=None)
@given(docs_strategy)
@pytest.mark.slow
def test_bloom_decontamination_never_false_negative(texts):
    """Insert every doc's shingles into the Bloom filter, then test the SAME
    docs: the exact-overlap result must be a subset of the bloom result —
    no member is ever missed, on arbitrary token streams (incl. empty and
    shorter-than-k docs)."""
    from wallaroo_spark.operators import dedup

    spark = _get_spark()
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    exact = {
        r.doc_id for r in dedup.decontaminate_hits(df, df, k=3).collect()
    }
    bloom = {
        r.doc_id for r in dedup.decontaminate_bloom(df, df, k=3).collect()
    }
    assert exact <= bloom
    # and the streamable filter keeps exactly the complement of bloom hits
    kept = {r.doc_id for r in dedup.decontaminate_filter(df, df, k=3).collect()}
    assert kept == set(range(len(texts))) - bloom


@settings(max_examples=10, deadline=None)
@given(docs_strategy)
def test_duplicate_spans_match_python_reference(texts):
    """duplicate_spans == a straight-line Python islands reference on
    arbitrary corpora (k=3)."""
    from wallaroo_spark.operators import dedup

    k = 3
    toks = [t.split() if t.strip() else [] for t in texts]
    grams = [
        {i: " ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)} for ws in toks
    ]
    want = set()
    for d, g in enumerate(grams):
        hits = sorted(
            i
            for i, gram in g.items()
            if any(d2 != d and gram in g2.values() for d2, g2 in enumerate(grams))
        )
        spans = []
        for i in hits:
            if spans and i <= spans[-1][1] + 1:
                spans[-1] = (spans[-1][0], max(spans[-1][1], i + k - 1))
            else:
                spans.append((i, i + k - 1))
        for s, e in spans:
            want.add((d, s, e, e - s + 1))

    spark = _get_spark()
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_len)
        for r in dedup.duplicate_spans(df, k=k).collect()
    }
    assert got == want


intervals_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=90),   # lo
        st.integers(min_value=1, max_value=40),   # length
    ),
    min_size=1,
    max_size=12,
)
points_strategy = st.lists(
    st.floats(min_value=0.0, max_value=140.0, allow_nan=False), min_size=1, max_size=30
)


@settings(max_examples=12, deadline=None)
@given(points_strategy, intervals_strategy, st.sampled_from([3.0, 7.0, 16.0]))
@pytest.mark.slow
def test_range_join_matches_naive_join(pts, ivs, bucket):
    """Bucketized range join == naive inequality join, for any bucket size
    (including non-divisors of interval lengths)."""
    from wallaroo_spark.operators import relational

    spark = _get_spark()
    p = spark.createDataFrame(
        [Row(pid=i, v=float(v)) for i, v in enumerate(pts)]
    )
    iv = spark.createDataFrame(
        [Row(iid=i, lo=float(lo), hi=float(lo + ln)) for i, (lo, ln) in enumerate(ivs)]
    )
    fast = sorted(
        (r.pid, r.iid)
        for r in relational.range_join(p, iv, "v", "lo", "hi", bucket=bucket).collect()
    )
    naive = sorted(
        (r.pid, r.iid)
        for r in p.join(iv, (p["v"] >= iv["lo"]) & (p["v"] < iv["hi"])).collect()
    )
    assert fast == naive


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["x", "y", "z", "w"]), min_size=0, max_size=30),
        min_size=1,
        max_size=10,
    )
)
def test_chunk_dedup_matches_python_reference(token_lists):
    """chunk_dedup == a straight-line Python first-occurrence scan for any
    corpus (including empty docs and intra-doc repeats)."""
    from wallaroo_spark.operators import dedup

    spark = _get_spark()
    width = 3
    df = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(toks)) for i, toks in enumerate(token_lists)]
    )
    got = {r.doc_id: (r.n_chunks, r.n_kept) for r in dedup.chunk_dedup(df, width=width).collect()}

    seen: set[str] = set()
    want: dict[int, tuple[int, int]] = {}
    for i, toks in enumerate(token_lists):
        chunks = [
            " ".join(toks[j : j + width]) for j in range(0, len(toks), width)
        ]
        chunks = [c for c in chunks if c]
        kept = 0
        for c in chunks:
            if c not in seen:
                seen.add(c)
                kept += 1
        if chunks:
            want[i] = (len(chunks), kept)
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["p", "q", "r", "s"]), min_size=3, max_size=24),
        min_size=1,
        max_size=6,
    ),
    st.lists(
        st.lists(st.sampled_from(["p", "q", "r", "s"]), min_size=3, max_size=24),
        min_size=1,
        max_size=6,
    ),
)
def test_snapshot_novelty_never_false_negative(old_lists, new_lists):
    """A new-doc chunk that literally exists in the old corpus can never be
    counted novel (Bloom has no false negatives); counts stay in bounds."""
    from wallaroo_spark.operators import dedup

    spark = _get_spark()
    width = 3
    old = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(t)) for i, t in enumerate(old_lists)]
    )
    new = spark.createDataFrame(
        [Row(doc_id=100 + i, text=" ".join(t)) for i, t in enumerate(new_lists)]
    )
    out = {r.doc_id: r for r in dedup.snapshot_novelty(old, new, width=width).collect()}

    old_chunks = set()
    for t in old_lists:
        for j in range(0, len(t), width):
            c = " ".join(t[j : j + width])
            if c:
                old_chunks.add(c)
    for i, t in enumerate(new_lists):
        chunks = [" ".join(t[j : j + width]) for j in range(0, len(t), width)]
        chunks = [c for c in chunks if c]
        r = out[100 + i]
        assert r.n_chunks == len(chunks)
        assert 0 <= r.n_novel <= r.n_chunks
        # upper bound: chunks found in the old set are DEFINITELY not novel
        n_definitely_old = sum(1 for c in chunks if c in old_chunks)
        assert r.n_novel <= r.n_chunks - n_definitely_old


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=99),  # doc id
            st.integers(min_value=0, max_value=30),  # token count
            st.sampled_from(["s0", "s1"]),           # domain
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=200),  # budget / seq_len
)
@pytest.mark.slow
def test_prefix_scan_family_matches_python_reference(docs, knob):
    """token_budget_admit + pack_sequences vs a straight-line Python scan
    over the same deterministic (salted-bucket, id) order — the distributed
    two-phase offsets must be EXACTLY the serial cumsum, including empty
    docs, budget boundaries, and docs spanning many sequences."""
    import hashlib

    from wallaroo_spark.operators.text import pack_sequences, token_budget_admit

    spark = _get_spark()
    rows = [
        Row(doc_id=i, source=s, text=" ".join(["w"] * n))
        for i, n, s in docs
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, source string, text string")

    def bkt(i):
        return int(hashlib.md5(f"{i}:budget".encode()).hexdigest()[:15], 16) % 256

    order = sorted(docs, key=lambda t: (bkt(t[0]), t[0]))

    # --- token_budget_admit (per domain) vs serial scan
    want_admit = {}
    cums = {}
    for i, n, s in order:
        cums[s] = cums.get(s, 0) + n
        if cums[s] <= knob:
            want_admit[(s, i)] = (n, cums[s])
    got_admit = {
        (r.source, r.doc_id): (r.n_tokens, r.cum_tokens)
        for r in token_budget_admit(df, budget=knob, domain="source").collect()
    }
    assert got_admit == want_admit

    # --- pack_sequences (global) vs serial scan
    want_pack = {}
    cum = 0
    for i, n, _ in order:
        st_, cum = cum, cum + n
        if n > 0:
            want_pack[i] = (n, st_ // knob, st_ % knob, (cum - 1) // knob - st_ // knob + 1)
    got_pack = {
        r.doc_id: (r.n_tokens, r.seq_id, r.seq_offset, r.n_seqs)
        for r in pack_sequences(df, seq_len=knob).collect()
    }
    assert got_pack == want_pack


def test_pack_manifest_sequences_exactly_full():
    """Every packed sequence except the last is exactly seq_len full, parts
    tile each sequence with no gaps/overlaps, and every non-empty doc's
    tokens appear exactly once across all parts."""
    from wallaroo_spark.operators.text import pack_manifest
    from wallaroo_spark.sources import read_table

    spark = _get_spark()
    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    L = 128
    rows = pack_manifest(docs, seq_len=L).collect()
    by_seq = {r.seq_id: r for r in rows}
    last = max(by_seq)
    doc_tokens = {}
    for r in rows:
        assert r.n_tokens_filled == (L if r.seq_id != last else r.n_tokens_filled)
        cursor = 0
        for part in r.parts.split(","):
            off, doc, frm, n = (int(x) for x in part.split(":"))
            assert off == cursor  # tiles with no gap/overlap
            cursor += n
            doc_tokens.setdefault(doc, []).append((r.seq_id, frm, n))
        assert cursor == r.n_tokens_filled
    # each doc's parts cover [0, n_doc_tokens) contiguously in seq order
    from wallaroo_spark.operators.text import tokens as _tok

    want = {
        r.doc_id: r.n
        for r in docs.select("doc_id", F.size(_tok(F.col("text"))).alias("n")).collect()
        if r.n > 0
    }
    for doc, parts in doc_tokens.items():
        parts.sort()
        covered = 0
        for _, frm, n in parts:
            assert frm == covered
            covered += n
        assert covered == want[doc]
    assert set(doc_tokens) == set(want)


def test_lsh_tune_rule():
    """The S-curve rule: midpoint monotone in the banding (more rows ->
    higher midpoint), recommendations move with the threshold, and
    invalid inputs fail loudly."""
    import pytest

    from wallaroo_spark.operators.dedup import lsh_tune

    assert (lsh_tune(0.9)["bands"], lsh_tune(0.9)["rows"]) == (2, 8)
    assert (lsh_tune(0.7)["bands"], lsh_tune(0.7)["rows"]) == (4, 4)
    assert (lsh_tune(0.3)["bands"], lsh_tune(0.3)["rows"]) == (8, 2)
    # midpoint rises with rows for fixed n_perm
    mids = [lsh_tune(t)["s50"] for t in (0.1, 0.4, 0.75, 0.95)]
    assert mids == sorted(mids)
    for bad in (0.0, 1.0, -1, 2):
        with pytest.raises(ValueError):
            lsh_tune(bad)
    # the operator rejects bandings that exceed the permutation budget
    # (guard fires before any DataFrame work)
    from wallaroo_spark.operators.dedup import minhash_lsh_pairs

    with pytest.raises(ValueError):
        minhash_lsh_pairs(None, bands=8, rows=4)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(min_value=-4, max_value=4,
                      allow_nan=False, allow_infinity=False),
            min_size=8, max_size=8,
        ),
        min_size=12, max_size=40,
    )
)
@pytest.mark.slow
def test_opq_rotation_family_invariants(vecs):
    """Property: for ANY corpus, opq_fit_rotation returns an orthogonal
    matrix (R R^T = I to rounding tolerance), every row assigned once
    (square), and apply_rotation preserves pairwise squared L2 to fp
    tolerance — the invariant that makes the raw-vector exact-truth
    valid for every rotated recall arm."""
    import numpy as np

    from wallaroo_spark.operators import similarity as S

    spark = _get_spark()
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    rot = S.opq_fit_rotation(df, m=2, sub_dim=4)
    rm = np.asarray(rot)
    assert rm.shape == (8, 8)
    assert float(np.abs(rm @ rm.T - np.eye(8)).max()) < 1e-6

    out = {r.vec_id: np.asarray(r.embedding)
           for r in S.apply_rotation(df, rot).collect()}
    orig = {i: np.asarray(v) for i, v in rows}
    a, b = 0, len(rows) - 1
    d_orig = float(np.sum((orig[a] - orig[b]) ** 2))
    d_rot = float(np.sum((out[a] - out[b]) ** 2))
    assert abs(d_orig - d_rot) <= 1e-6 * max(1.0, d_orig)


@settings(max_examples=8, deadline=None)
@given(st.integers(min_value=2, max_value=16),
       st.integers(min_value=2, max_value=16))
def test_pq_pack_codes_roundtrip_any_geometry(m, k):
    """Property: pack/unpack is a bijection for ANY (m, k) that fits one
    BIGINT — the shift/mask fold recovers every code exactly (the packed
    ADC path depends on this for bit-identity with the array path)."""
    import random

    from wallaroo_spark.operators import similarity as S

    bits = max(1, (k - 1).bit_length())
    if m * bits > 63:
        return  # guarded by pq_pack_codes's ValueError; not this test
    spark = _get_spark()
    rnd = random.Random(m * 100 + k)
    rows = [(i, [rnd.randrange(k) for _ in range(m)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, codes array<int>")
    packed = {r.vec_id: r.code_word
              for r in S.pq_pack_codes(df, m=m, k=k).collect()}
    mask = (1 << bits) - 1
    for i, codes in rows:
        got = [(packed[i] >> (j * bits)) & mask for j in range(m)]
        assert got == codes, (m, k, codes, got)


# ---------------------------------------------------------------------------
# r16: the det_round contract — one rounding truth across three engines
# ---------------------------------------------------------------------------

def _py_det_round(x: float, d: int) -> float:
    """Reference semantics: quantize the double's EXACT binary expansion
    at scale 12 (HALF_UP), then HALF_UP at d — what det_round_col/sql and
    CalibrationAggregation.output all implement."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(x).quantize(Decimal(1).scaleb(-12), rounding=ROUND_HALF_UP)
    return float(q.quantize(Decimal(1).scaleb(-d), rounding=ROUND_HALF_UP))


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.one_of(
            # adversarial: exact dyadic halves (the r15 flip class) ...
            st.integers(-10**6, 10**6).map(lambda k: k / 8.0),
            st.integers(-10**6, 10**6).map(lambda k: k / 32.0 / 10**2),
            # ... and arbitrary finite doubles
            st.floats(
                min_value=-1e9, max_value=1e9,
                allow_nan=False, allow_infinity=False,
            ),
        ),
        min_size=1, max_size=40,
    ),
    st.sampled_from([2, 4, 6]),
)
# Spark's shortest-string double -> DECIMAL cast rounds this one up
@example(xs=[268435456.6352215], d=6)
def test_det_round_tri_engine_agreement(spark, xs, d):
    """For ANY double — including values exactly ON a .xx5 boundary —
    Spark's det_round_col, DuckDB's det_round_sql, and the Python Decimal
    reference produce the SAME result. This is the whole contract the r16
    rounding sweep rests on; raw round() demonstrably violates it across
    engines at the boundary class."""
    import duckdb

    from wallaroo_spark.functions.hashing import det_round_col, det_round_sql

    want = [_py_det_round(x, d) for x in xs]

    got_spark = [
        r.y
        for r in spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i long, x double")
        .select("i", det_round_col(F.col("x"), d).alias("y"))
        .orderBy("i")
        .collect()
    ]
    assert got_spark == want

    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(xs)))
    got_duck = [
        r[0]
        for r in con.execute(
            f"SELECT {det_round_sql('x', d)} FROM t ORDER BY i"
        ).fetchall()
    ]
    assert got_duck == want
