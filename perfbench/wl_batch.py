"""The batch workload, corpus_dedup_ann: the front half of an LLM data
pipeline on one seeded corpus.

A round runs a fixed battery of the program's operators: quality scoring
and exact, MinHash, n-gram and paragraph dedup over the documents, then an
ANN index over the documents' embeddings (k-means centroids, PQ codebook and
codes), then ``SEARCH_PASSES`` search passes, each answering the held-out
queries exactly, through the IVF cells and through packed PQ codes. Each
call is timed from outside, from the call to its result collected or
materialized, and every call's output is checked against ``refs``. One
uncounted round, with one search pass, warms the JVM first; measured rounds
follow while the next one fits in the run's ``seconds`` (always at least
one). Streaming state and sinks are not loaded.
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import refs
from common import median

CORPUS_DOCS = 500
PARA_BLOCK = 20  # paragraph_dedup token blocks (the corpus has no newlines)
MINHASH_T, NGRAM_T = 0.5, 0.7
N_QUERIES, TOPK = 50, 10
KMEANS_K, NPROBE = 8, 2
PQ_M, PQ_K = 8, 16  # pq_train defaults: 8 subspaces of 8 dims, 16 centroids each
# per measured round; the first pass after a build runs ~40% slower, so
# lat_p50_ms is the median of the later passes
SEARCH_PASSES = 3
# recall floors (minimum over calls); see README for the measured values
FLOORS = {"minhash_lsh_pairs": 0.9, "ivf_topk": 0.4, "pq_topk_packed": 0.2}
AUDIT_FLOOR = 0.3  # recall@10 of every ann_recall_audit variant


class Op:
    """One operator call of a round: ``build`` composes the DataFrame
    (time inside the program's functions), ``run`` materializes it and
    returns what the check needs. ``kind`` groups calls: dedup ops, index
    build, index search (run once per search pass)."""

    def __init__(self, name, build, run, check, kind="dedup"):
        self.name, self.build, self.run, self.check, self.kind = name, build, run, check, kind


class CorpusDedupAnn:
    """The workload object run.py drives: stage / warm_up / measure."""

    def __init__(self, env, tracer, seed: int, seconds: int, scale: float):
        self.env, self.tracer, self.seconds = env, tracer, seconds
        self.attempted = 0
        self.failed = 0  # a failing call raises and ends the run
        self._count = threading.Lock()
        self.k = 0
        self.n_docs = round(CORPUS_DOCS * scale)
        self.corpus = gen.corpus(seed, self.n_docs, N_QUERIES)
        self.truth = refs.CorpusTruth(self.corpus)
        # embeddings in doc-id order, so row index == vec_id
        self.emb = np.empty_like(self.corpus.embeddings)
        self.emb[self.corpus.doc_ids] = self.corpus.embeddings
        q = self.corpus.queries
        self.cos_ids, self.cos_s = refs.exact_topk(self.emb, q, TOPK, "cos")
        self.l2_ids, _ = refs.exact_topk(self.emb, q, TOPK, "l2")
        self.recalls: dict[str, list[float]] = {k: [] for k in FLOORS}

    def _call(self, op: Op, r: int, p: int = 0) -> dict:
        with self.tracer.span(op.name, round=r, search_pass=p) as sp:
            t0 = time.perf_counter()
            df = op.build()
            t1 = time.perf_counter()
            out = op.run(df)
            t2 = time.perf_counter()
        with self._count:
            self.attempted += 1
        op.check(out)
        with self._count:
            self.attempted += 1
        return {"op": op.name, "kind": op.kind, "pass": p, "s": t2 - t0, "build_s": t1 - t0,
                "span": sp}

    def _round(self, r: int, passes: int) -> list[dict]:
        ops = self.ops()
        calls = [self._call(op, r) for op in ops if op.kind != "search"]
        for p in range(passes):
            calls += [self._call(op, r, p) for op in ops if op.kind == "search"]
        return calls

    def warm_up(self) -> None:
        """One uncounted round with one search pass. Its dedup calls run
        beside its index build and search in a second thread: the warm-up
        only has to run every code path once, the two halves share no
        inputs, and overlapping them saves ~10 s of each run's budget."""
        ops = self.ops()
        halves = ([op for op in ops if op.kind == "dedup"], [op for op in ops if op.kind != "dedup"])
        with ThreadPoolExecutor(max_workers=2) as pool:
            for f in [pool.submit(lambda h=h: [self._call(op, -1) for op in h]) for h in halves]:
                f.result()

    def measure(self) -> dict:
        rounds = []
        t0 = time.perf_counter()
        while True:
            rs = time.perf_counter()
            rounds.append(self._round(len(rounds), SEARCH_PASSES))
            last = time.perf_counter() - rs
            if time.perf_counter() - t0 + last > self.seconds:
                break
        # one search pass: the held-out queries answered by every variant
        passes = [
            sum(c["s"] for c in rnd if c["kind"] == "search" and c["pass"] == p)
            for rnd in rounds for p in range(1, SEARCH_PASSES)
        ]
        res = {
            "lat_p50_ms": median(passes) * 1000,
            "rounds": len(rounds),
            "_rounds": rounds,
        }
        for name in {c["op"] for c in rounds[0]}:
            res[f"{name}.s"] = median([c["s"] for rnd in rounds for c in rnd if c["op"] == name])
        n_search = len({c["op"] for c in rounds[0] if c["kind"] == "search"})
        res["ann_queries_per_s"] = n_search * N_QUERIES / median(passes)
        res.update(self.summarize(rounds))
        return res

    def audit(self) -> dict:
        """The registered ``ann_recall_audit`` query over the corpus
        embeddings, as an ``embeddings`` table (it takes vec_id < 10 as its
        queries and the rest as the corpus). Traced runs only: one call
        takes ~16 s warm, which the per-run budget cannot hold."""
        from wallaroo_spark.queries import QUERIES

        d = self.env.work / f"audit{self.k}"
        d.mkdir(exist_ok=True)
        pq.write_table(pa.table({"vec_id": np.arange(self.n_docs, dtype=np.int64),
                                 "embedding": pa.array(list(self.emb), type=pa.list_(pa.float32()))}),
                       d / "embeddings.parquet")
        with self.tracer.span("ann_recall_audit") as sp:
            t0 = time.perf_counter()
            rows = QUERIES["ann_recall_audit"](self.env.spark, str(d)).collect()
            dt = time.perf_counter() - t0
        self.attempted += 1
        refs.check_audit([tuple(r) for r in rows], TOPK, AUDIT_FLOOR)
        self.attempted += 1
        return {"s": dt, "span": sp, **{f"recall.audit.{r[0]}": r[3] for r in rows}}

    def stage(self) -> None:
        """Write the corpus and the query vectors as parquet, read them
        through the program's source layer and cache them."""
        from wallaroo_spark.sources import read_parquet

        self.k += 1
        docs_p = self.env.work / f"docs{self.k}.parquet"
        vec_p = self.env.work / f"vectors{self.k}.parquet"
        q_p = self.env.work / f"queries{self.k}.parquet"
        emb = pa.list_(pa.float32())
        n = self.n_docs
        pq.write_table(pa.table({"doc_id": self.corpus.doc_ids, "text": self.corpus.texts}), docs_p)
        pq.write_table(pa.table({"vec_id": np.arange(n, dtype=np.int64),
                                 "embedding": pa.array(list(self.emb), type=emb)}), vec_p)
        pq.write_table(pa.table({"vec_id": np.arange(N_QUERIES, dtype=np.int64),
                                 "embedding": pa.array(list(self.corpus.queries), type=emb)}), q_p)
        # each set-up round starts a new session, which drops older caches
        spark = self.env.spark
        self.frames = [read_parquet(spark, str(p)).cache() for p in (docs_p, vec_p, q_p)]
        for f in self.frames:
            f.count()

    def ops(self) -> list[Op]:
        from wallaroo_spark.operators import dedup as D
        from wallaroo_spark.operators import similarity as S
        from wallaroo_spark.operators import text as T

        docs, vecs, qs = self.frames
        truth = self.truth
        art: dict = {}

        def rows(df):
            return [tuple(r) for r in df.collect()]

        def keep(key):
            def run(df):
                art[key] = df.localCheckpoint(eager=True)
                return art[key]
            return run

        def pairs_check(name, t, exact):
            def check(rs):
                r = refs.check_pairs(truth, rs, t, exact)
                if name in self.recalls:
                    self.recalls[name].append(r)
            return check

        def recall_check(name, ids):
            def check(rs):
                self.recalls[name].append(refs.recall([(q, v) for q, v, *_ in rs], ids))
            return check

        def count_check(what, want):
            def check(df):
                n = df.count()
                refs.require(n == want, f"{what} returned {n} rows, expected {want}")
            return check

        def codes_check(df):
            got = df.collect()
            n = self.n_docs
            refs.require(len(got) == n, f"pq_encode coded {len(got)} of {n}")
            refs.require(
                all(len(r.codes) == PQ_M and all(0 <= c < PQ_K for c in r.codes) for r in got),
                f"pq_encode codes outside {PQ_M} x [0, {PQ_K})",
            )

        def brute_check(rs):
            refs.check_brute(rs, self.cos_ids, self.cos_s, self.emb, self.corpus.queries)

        def cents_check(df):
            got = df.collect()
            ids = [r.cent_id for r in got]
            refs.require(1 <= len(ids) <= KMEANS_K and len(set(ids)) == len(ids),
                         f"kmeans_fit returned centroid ids {sorted(ids)}, want up to {KMEANS_K}")
            refs.require(all(len(r.embedding) == self.emb.shape[1] for r in got),
                         "kmeans_fit returned a centroid of the wrong dimension")

        def ivf_check(rs):
            refs.check_ranked(rs, self.emb, self.corpus.queries, TOPK)
            self.recalls["ivf_topk"].append(refs.recall([(q, v) for q, v, *_ in rs], self.cos_ids))

        return [
            Op("quality_score", lambda: T.quality_score(docs), rows,
               lambda rs: refs.check_quality(truth, rs)),
            Op("exact_dedup", lambda: D.exact_dedup(docs, ["text"], "doc_id").select("doc_id"),
               lambda df: [r[0] for r in df.collect()],
               lambda ids: refs.check_exact_dedup(truth, ids)),
            Op("minhash_lsh_pairs", lambda: D.minhash_lsh_pairs(docs, threshold=MINHASH_T),
               rows, pairs_check("minhash_lsh_pairs", MINHASH_T, False)),
            Op("ngram_jaccard_pairs", lambda: D.ngram_jaccard_pairs(docs, threshold=NGRAM_T),
               rows, pairs_check("ngram_jaccard_pairs", NGRAM_T, True)),
            Op("paragraph_dedup", lambda: T.paragraph_dedup(docs, block_tokens=PARA_BLOCK),
               rows, lambda rs: refs.check_paragraph_dedup(truth, rs, PARA_BLOCK)),
            Op("kmeans_fit", lambda: S.kmeans_fit(vecs, k=KMEANS_K, iters=2), keep("cents"),
               cents_check, "build"),
            Op("pq_train", lambda: S.pq_train(vecs, iters=2), keep("codebook"),
               count_check("pq_train", PQ_M * PQ_K), "build"),
            Op("pq_encode", lambda: S.pq_encode(vecs, art["codebook"]), keep("codes"),
               codes_check, "build"),
            Op("brute_force_topk", lambda: S.brute_force_topk(vecs, qs, TOPK), rows,
               brute_check, "search"),
            Op("ivf_topk",
               lambda: S.ivf_topk(vecs, qs, art["cents"].withColumnRenamed("cent_id", "vec_id"),
                                  TOPK, nprobe=NPROBE),
               rows, ivf_check, "search"),
            Op("pq_topk_packed",
               lambda: S.pq_topk_packed(S.pq_pack_codes(art["codes"]), art["codebook"], qs, TOPK),
               rows, recall_check("pq_topk_packed", self.l2_ids), "search"),
        ]

    def summarize(self, rounds) -> dict:
        def part(kinds):
            return median([sum(c["s"] for c in rnd if c["kind"] in kinds) for rnd in rounds])

        for name, floor in FLOORS.items():
            got = min(self.recalls[name])
            refs.require(got >= floor, f"{name} recall {got:.3f} below its floor {floor}")
        return {
            "throughput_per_s": self.n_docs / part({"dedup", "build", "search"}),
            "dedup_docs_per_s": self.n_docs / part({"dedup"}),
            "index_build_s": part({"build"}),
            **{f"recall.{k}": min(v) for k, v in self.recalls.items()},
        }
