"""Reference computations made apart from the program, and the output
checks built on them. Only numpy and plain Python are used here; nothing
is compared against a stored copy of earlier output.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np

import gen


class CheckFailed(Exception):
    pass


def require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


# -- market spread -----------------------------------------------------------


def market_replay(feed: gen.Feed, lo: int, hi: int) -> dict[int, tuple[str, bool]]:
    """Replay messages lo..hi-1 in order from empty state: the latest quote
    per symbol before each order decides it. Returns order_id -> (symbol,
    rejected)."""
    last: dict[int, tuple[float, float]] = {}
    out = {}
    for i in range(lo, hi):
        s = int(feed.sym_idx[i])
        if feed.kinds[i] == gen.QUOTE:
            last[s] = (float(feed.bid[i]), float(feed.offer[i]))
            continue
        if s in last:
            bid, offer = last[s]
            rejected = (offer - bid) >= gen.WIDE_SPREAD * ((bid + offer) / 2)
        else:
            rejected = True
        out[int(feed.order_id[i])] = (feed.symbols[s], bool(rejected))
    return out


def check_orders(want: dict, got: dict) -> None:
    """Every order exactly once (duplicates are refused by the reader),
    none lost, none invented, each with the replay's decision."""
    missing = want.keys() - got.keys()
    extra = got.keys() - want.keys()
    require(not missing, f"{len(missing)} orders lost, e.g. {sorted(missing)[:3]}")
    require(not extra, f"{len(extra)} unknown orders in the sink, e.g. {sorted(extra)[:3]}")
    wrong = [o for o in want if want[o] != got[o]]
    require(not wrong, f"{len(wrong)} orders decided unlike the replay, e.g. {wrong[:3]}")


# -- corpus ------------------------------------------------------------------


def tokens(text: str) -> list[str]:
    return [t for t in text.split(" ") if t != ""]


def shingles(text: str, k: int = 3) -> frozenset:
    """Distinct word k-grams; the whole text when it has fewer than k words."""
    t = tokens(text)
    if not t:
        return frozenset()
    return frozenset(" ".join(t[i : i + k]) for i in range(max(len(t) - k + 1, 1)))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if (a or b) else 0.0


class CorpusTruth:
    def __init__(self, c: gen.Corpus):
        self.texts = {int(i): t for i, t in zip(c.doc_ids, c.texts)}
        self.sh = {i: shingles(t) for i, t in self.texts.items()}
        self.planted_pairs = {
            (a, b) for g in c.groups for x, a in enumerate(g) for b in g[x + 1 :]
        }
        self.groups, self.exact = c.groups, c.exact
        # every pair that shares a shingle, with its exact Jaccard
        index = defaultdict(list)
        for i, s in self.sh.items():
            for x in s:
                index[x].append(i)
        cands = set()
        for ids in index.values():
            if 1 < len(ids) <= 200:
                ids = sorted(ids)
                cands.update((a, b) for x, a in enumerate(ids) for b in ids[x + 1 :])
        self.jac = {p: jaccard(self.sh[p[0]], self.sh[p[1]]) for p in cands}

    def pairs_at(self, t: float) -> set:
        return {p for p, j in self.jac.items() if j >= t}

    def true_j(self, a: int, b: int) -> float:
        return self.jac.get((a, b), jaccard(self.sh[a], self.sh[b]))


def check_pairs(truth: CorpusTruth, rows, t: float, exact: bool) -> float:
    """Reported pairs: ordered, unique, true Jaccard >= t and equal to the
    reported value (4 dp). An exact operator must report every pair at or
    above t. Returns recall over the planted pairs."""
    got = set()
    for a, b, j in rows:
        require(a < b, f"pair ({a}, {b}) not ordered")
        require((a, b) not in got, f"pair ({a}, {b}) reported twice")
        got.add((a, b))
        tj = truth.true_j(a, b)
        require(tj >= t - 1e-4, f"pair ({a}, {b}) has Jaccard {tj:.4f} < {t}")
        require(abs(tj - j) <= 1e-4, f"pair ({a}, {b}) reported {j}, true {tj:.4f}")
    if exact:
        miss = truth.pairs_at(t) - got
        require(not miss, f"{len(miss)} pairs with Jaccard >= {t} missed, e.g. {sorted(miss)[:3]}")
    return len(got & truth.planted_pairs) / max(1, len(truth.planted_pairs))


def check_exact_dedup(truth: CorpusTruth, ids) -> None:
    by_text = defaultdict(list)
    for i, t in truth.texts.items():
        by_text[t].append(i)
    want = {min(v) for v in by_text.values()}
    got = list(ids)
    require(len(got) == len(set(got)), "exact_dedup returned a document twice")
    require(set(got) == want, f"exact_dedup kept {len(got)} docs, expected {len(want)}")
    dup_groups = sorted(sorted(v) for v in by_text.values() if len(v) > 1)
    planted = sorted(g for g, e in zip(truth.groups, truth.exact) if e)
    require(dup_groups == planted, "identical-text groups differ from the planted exact groups")


def check_quality(truth: CorpusTruth, rows) -> None:
    seen = set()
    for i, q, n in rows:
        seen.add(i)
        require(0.0 <= q <= 1.0, f"quality {q} of doc {i} outside [0, 1]")
        require(n == len(tokens(truth.texts[i])), f"doc {i}: n_tokens {n} is wrong")
    require(seen == set(truth.texts), "quality_score did not score every document once")


def paragraph_dedup_ref(truth: CorpusTruth, block: int) -> dict[int, tuple[str, int, int]]:
    """doc -> (text_dedup, n_paras, n_dropped) with fixed token blocks."""
    blocks = {}
    first: dict[str, tuple[int, int]] = {}
    for i in sorted(truth.texts):
        t = tokens(truth.texts[i])
        bs = [" ".join(t[s : s + block]) for s in range(0, max(len(t), 1), block)]
        bs = [b for b in bs if b != ""]
        blocks[i] = bs
        for x, b in enumerate(bs):
            first.setdefault(b, (i, x))
    out = {}
    for i, bs in blocks.items():
        kept = [b for x, b in enumerate(bs) if first[b] == (i, x)]
        out[i] = (" ".join(kept), len(kept), len(bs) - len(kept))
    return out


def check_paragraph_dedup(truth: CorpusTruth, rows, block: int) -> None:
    want = paragraph_dedup_ref(truth, block)
    got = {i: (t, n, d) for i, t, n, d in rows}
    require(got.keys() == want.keys(), "paragraph_dedup did not return every document once")
    wrong = [i for i in want if want[i] != got[i]]
    require(not wrong, f"paragraph_dedup differs on {len(wrong)} docs, e.g. {wrong[:3]}")


# -- ANN ---------------------------------------------------------------------


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int, metric: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, scores) per query, best first, ties broken by smaller id.
    metric 'cos' ranks by descending cosine, 'l2' by ascending distance."""
    c = corpus.astype(np.float64)
    q = queries.astype(np.float64)
    if metric == "cos":
        s = (q @ c.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(c, axis=1))
        key = -s
    else:
        s = (q * q).sum(1)[:, None] - 2 * q @ c.T + (c * c).sum(1)[None, :]
        key = s
    ids = np.arange(c.shape[0])
    top = np.empty((q.shape[0], k), dtype=np.int64)
    for r in range(q.shape[0]):
        order = np.lexsort((ids, key[r]))
        top[r] = order[:k]
    return top, np.take_along_axis(s, top, axis=1)


def check_brute(rows, truth_ids: np.ndarray, truth_cos: np.ndarray, corpus, queries) -> None:
    """brute_force_topk must equal numpy's exact cosine top-k; positions may
    differ only between neighbours whose cosines tie within 1e-9."""
    got = defaultdict(dict)
    for qid, vid, _cos, rank in rows:
        got[qid][rank] = vid
    k = truth_ids.shape[1]
    for qid in range(truth_ids.shape[0]):
        ranks = got.get(qid, {})
        require(sorted(ranks) == list(range(1, k + 1)), f"query {qid}: ranks {sorted(ranks)}")
        g = [ranks[r] for r in range(1, k + 1)]
        w = list(truth_ids[qid])
        if g == w:
            continue
        q = queries[qid].astype(np.float64)

        def cos(v):
            x = corpus[v].astype(np.float64)
            return float(q @ x / (np.linalg.norm(q) * np.linalg.norm(x)))

        gc = [cos(v) for v in g]
        wc = list(truth_cos[qid])
        require(
            all(abs(a - b) <= 1e-9 for a, b in zip(gc, wc)),
            f"query {qid}: brute_force_topk {g} differs from exact {w}",
        )


def recall(rows, truth_ids: np.ndarray) -> float:
    got = defaultdict(set)
    for qid, vid in rows:
        got[qid].add(vid)
    hit = sum(len(got[q] & set(truth_ids[q])) for q in range(truth_ids.shape[0]))
    return hit / truth_ids.size


def check_ranked(rows, corpus, queries, k: int) -> None:
    """An approximate cosine top-k (query_id, vec_id, cosine, rank): at most
    k neighbours per query, ranked 1.. best first, each with its true cosine
    to 4 dp."""
    c = corpus.astype(np.float64)
    q = queries.astype(np.float64)
    by_q = defaultdict(list)
    for qid, vid, cos, rank in rows:
        true = float(q[qid] @ c[vid] / (np.linalg.norm(q[qid]) * np.linalg.norm(c[vid])))
        require(abs(true - cos) <= 1.5e-4, f"query {qid}: vec {vid} cosine {cos}, true {true:.4f}")
        by_q[qid].append((rank, cos, vid))
    for qid, hits in by_q.items():
        hits.sort()
        require([r for r, _, _ in hits] == list(range(1, len(hits) + 1)) and len(hits) <= k,
                f"query {qid}: ranks {[r for r, _, _ in hits]}")
        require(all(a[1] >= b[1] for a, b in zip(hits, hits[1:])),
                f"query {qid}: neighbours not in descending cosine")
        require(len({v for _, _, v in hits}) == len(hits), f"query {qid}: a neighbour twice")


AUDIT_VARIANTS = {"pq_adc", "pq_rerank", "ivfpq_plain", "ivfpq_residual", "ivfpq_adaptive",
                  "ivfpq_residual_opq"}


def check_audit(rows, k: int, floor: float, n_queries: int = 10) -> None:
    """ann_recall_audit rows (variant, n_true, n_caught, recall): one per
    variant, k true neighbours per query, recall = caught / true at 4 dp
    and at least ``floor``."""
    require({r[0] for r in rows} == AUDIT_VARIANTS and len(rows) == len(AUDIT_VARIANTS),
            f"ann_recall_audit variants {sorted(r[0] for r in rows)}")
    for v, n_true, n_caught, rec in rows:
        require(n_true == k * n_queries, f"audit {v}: n_true {n_true}, expected {k * n_queries}")
        require(0 <= n_caught <= n_true, f"audit {v}: caught {n_caught} of {n_true}")
        require(abs(rec - round(n_caught / n_true, 4)) < 1e-9, f"audit {v}: recall {rec} is not caught/true")
        require(rec >= floor, f"audit {v}: recall {rec} below its floor {floor}")
