"""Physical-plan assertions: the engine's scale contract, tested.

Each assertion encodes a 'would this survive 100 TB' property: pushdown
reaching the scan, dims broadcast (no fact-side shuffle), bounded exchange
counts, no Python in native paths.
"""

import pytest
from pyspark.sql import functions as F
from wallaroo_spark.plans import audit
from wallaroo_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_filter_pushes_to_scan(spark):
    a = audit(QUERIES["tpch_q6_forecast_revenue"](spark, SF))
    assert a.scans == 1
    assert a.pushed_filters and "l_shipdate" in a.pushed_filters[0]
    assert a.read_cols == [4]  # only the 4 referenced columns leave the scan
    assert a.python_ops == 0


def test_star_join_broadcasts_all_dims(spark):
    a = audit(QUERIES["tpch_q5_local_supplier"](spark, SF))
    assert a.broadcast_joins == 5
    assert a.sort_merge_joins == 0  # fact-fact join also broadcast at this SF (AQE)
    assert a.python_ops == 0


def test_window_agg_single_shuffle(spark):
    a = audit(QUERIES["tumbling_window_sum"](spark, SF))
    assert a.exchanges == 1  # one hash shuffle on (key, window); partial agg map-side
    assert a.scans == 1 and a.python_ops == 0


def test_column_pruning_word_count(spark):
    a = audit(QUERIES["word_count"](spark, SF))
    assert a.read_cols == [1]  # only `text` read from a 5-column table
    assert a.python_ops == 0


def test_native_paths_have_no_python(spark):
    for name in [
        "sliding_window_sum", "running_total", "session_window_agg", "asof_enrich",
        "minhash_lsh_pairs", "simhash_docs", "similarity_topk_bruteforce",
        "text_quality_score", "late_policy_drop",
    ]:
        assert audit(QUERIES[name](spark, SF)).python_ops == 0, name


def test_broadcast_query_side_in_topk(spark):
    a = audit(QUERIES["similarity_topk_bruteforce"](spark, SF))
    # corpus streams unshuffled through a broadcast nested-loop against the
    # tiny query set; the only hash exchange is the per-query top-k window
    assert a.nested_loop_joins == 1
    assert a.exchanges <= 1


def test_colocated_join_no_extra_exchange(spark):
    """Pre-partitioned fact-fact join: the only exchanges are the two
    explicit repartitions; the join itself adds none."""
    from wallaroo_spark.operators.relational import colocated_join
    from wallaroo_spark.sources import read_table

    o = read_table(spark, SF, "orders").withColumnRenamed("o_orderkey", "k")
    li = read_table(spark, SF, "lineitem").withColumnRenamed("l_orderkey", "k")
    j = colocated_join(o.select("k", "o_totalprice"), li.select("k", "l_quantity"), ["k"], 8)
    a = audit(j)
    assert a.exchanges == 2  # exactly the two repartitions, none for the join


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Disk bucketing: pay the shuffle at write time, joins skip it forever."""
    from wallaroo_spark.sources import read_table

    spark.sql("DROP TABLE IF EXISTS t_orders_b")
    spark.sql("DROP TABLE IF EXISTS t_lineitem_b")
    # the in-memory catalog forgets tables between sessions but the warehouse
    # files persist — clear stale locations
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("t_orders_b", "t_lineitem_b"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    read_table(spark, SF, "orders").select("o_orderkey", "o_totalprice").write.bucketBy(
        8, "o_orderkey"
    ).sortBy("o_orderkey").mode("overwrite").saveAsTable("t_orders_b")
    read_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity").write.bucketBy(
        8, "l_orderkey"
    ).sortBy("l_orderkey").mode("overwrite").saveAsTable("t_lineitem_b")
    j = spark.table("t_orders_b").join(
        spark.table("t_lineitem_b"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    try:
        a = audit(j)
        assert a.exchanges == 0  # bucket layout satisfies the join's distribution
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_q7_five_way_join_broadcasts_dims(spark):
    """Q7 shape: only the lineitem-orders join may shuffle; supplier /
    customer / both nation sides broadcast."""
    a = audit(QUERIES["tpch_q7_nation_volume"](spark, SF))
    assert a.broadcast_joins >= 4
    assert a.python_ops == 0


def test_q17_decorrelated_avg_is_broadcast(spark):
    a = audit(QUERIES["tpch_q17_small_quantity_revenue"](spark, SF))
    assert a.broadcast_joins == 2  # part filter + per-part avg table
    assert a.python_ops == 0


def test_scalar_agg_queries_have_no_driver_actions(spark, monkeypatch):
    """tfidf/frequent_tokens/q22: the corpus-size scalar rides a broadcast
    single-row agg — plan construction must not run collect/count/first
    (driver-side actions bake scalars into the plan and add extra jobs)."""
    from pyspark.sql import DataFrame

    def boom(self, *a, **k):
        raise AssertionError("driver-side action during plan construction")

    for action in ("collect", "count", "first", "take", "head"):
        monkeypatch.setattr(DataFrame, action, boom)
    for name in ("tfidf_top_terms", "frequent_tokens", "tpch_q22_dormant_high_balance"):
        QUERIES[name](spark, SF)  # plan construction only


def test_q8_seven_way_star_broadcasts_all_dims(spark):
    a = audit(QUERIES["tpch_q8_market_share"](spark, SF))
    assert a.broadcast_joins >= 5  # c, s, n1, n2, r all broadcast
    assert a.python_ops == 0


def test_q15_two_phase_max_single_runtime_scan(spark):
    """The scalar max is a two-phase aggregate branch (partial max per
    partition -> one scalar, broadcast back) — NO partition-less Window —
    and the shared revenue shuffle is deduped by AQE's ReuseExchange at
    runtime, so lineitem is still scanned once per execution."""
    a = audit(QUERIES["tpch_q15_top_supplier"](spark, SF))
    assert a.partitionless_windows == 0
    assert a.python_ops == 0
    df = QUERIES["tpch_q15_top_supplier"](spark, SF)
    df.collect()  # finalize the adaptive plan
    assert "ReusedExchange" in df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.slow
def test_no_partitionless_window_in_any_query(spark):
    """Suite-wide scale assertion: no query's plan may contain a Window
    with an empty partition spec (WindowExec's 'No Partition Defined'
    single-task path). Global extremes must be two-phase aggregates."""
    bad = []
    for name, fn in QUERIES.items():
        if audit(fn(spark, SF)).partitionless_windows:
            bad.append(name)
    assert bad == []


def test_ngram_vocab_broadcast_auto_degrades(spark):
    """Size-aware frequency-dictionary join (verdict r2 #5): below the vocab
    threshold the freq join broadcasts; above it, it degrades to a shuffle
    join — and both paths return identical pairs."""
    from wallaroo_spark.operators.dedup import (
        _doc_shingles, _ngram_candidates, ngram_jaccard_pairs,
    )
    from wallaroo_spark.sources import read_table

    docs = read_table(spark, SF, "documents")
    sh = _doc_shingles(docs, "doc_id", "text")

    def plan(broadcast_freq):
        c = _ngram_candidates(sh, "doc_id", 0.7, broadcast_freq=broadcast_freq)
        return c._jdf.queryExecution().executedPlan().toString()

    # disable Spark's own size-based auto-broadcast so the plan shows OUR
    # decision (at test scale the estimator would broadcast everything)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_b, plan_s = plan(True), plan(False)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" in plan_b  # the hinted freq join
    assert plan_s.count("BroadcastHashJoin") < plan_b.count("BroadcastHashJoin")
    assert "SortMergeJoin" in plan_s or "ShuffledHashJoin" in plan_s

    got_b = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, vocab_broadcast_max=None).collect()
    )
    got_s = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, vocab_broadcast_max=0).collect()
    )
    assert got_b == got_s and got_b


@pytest.mark.slow
def test_shared_shingles_param_identical_results(spark):
    """``shingles_df=`` (round-7 #1): passing a caller-persisted shared
    shingle table to ngram_jaccard_pairs / minhash_lsh_pairs returns pairs
    identical to the self-computed path, and leaves the caller's cache
    intact (the operator must not unpersist a table it does not own)."""
    from wallaroo_spark.operators.dedup import (
        doc_shingles, minhash_lsh_pairs, ngram_jaccard_pairs,
    )
    from wallaroo_spark.sources import read_table

    from wallaroo_spark.operators.dedup import duplicate_clusters

    docs = read_table(spark, SF, "documents")
    sh = doc_shingles(docs).persist()
    try:
        for fn in (ngram_jaccard_pairs, minhash_lsh_pairs, duplicate_clusters):
            own = sorted(map(tuple, fn(docs, threshold=0.5).collect()))
            shared = sorted(map(tuple, fn(docs, threshold=0.5, shingles_df=sh).collect()))
            assert own == shared and own
            assert sh.is_cached  # operator must not release the shared cache
    finally:
        sh.unpersist()


def _surviving_cache_bytes(spark, before_ids):
    """(rdd_id, name, bytes) for every cached RDD not in before_ids."""
    sc = spark.sparkContext
    out = []
    for info in sc._jsc.sc().getRDDStorageInfo():
        rid = info.id()
        if rid in before_ids:
            continue
        out.append((rid, info.name(), info.memSize() + info.diskSize()))
    return out


@pytest.mark.parametrize(
    "qname",
    [
        "minhash_lsh_pairs",
        "ngram_jaccard_pairs",
        "duplicate_clusters",
        "ivfpq_residual_search",
        "semdedup_embeddings",
        "multimodal_ahash_near_dup",
    ],
)
def test_operator_releases_corpus_sized_caches(spark, qname):
    """r16/r17 cache-release contract (VERDICT r16 #3/#7): operators that
    persist corpus-sized internals (shingle explodes, candidate pairs,
    corpus residuals, the semdedup vector+norm assignment, ahash
    fingerprints) must release them before returning. Only the eagerly
    checkpointed result blocks may survive, and — the r16-review
    strengthening — every survivor must actually be SMALL: a leaked
    corpus-sized cache can no longer hide behind a lenient block count."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())
    rows = QUERIES[qname](spark, SF).collect()
    assert rows
    survivors = _surviving_cache_bytes(spark, before)
    # sf0.001 result blocks are a few KB; the corpus-sized caches these
    # operators persist internally are hundreds of KB to MB even here
    big = [s for s in survivors if s[2] > 64 * 1024]
    assert not big, f"corpus-sized cache survived {qname}: {big}"


def test_q9_multi_fact_profit_dims_broadcast(spark):
    """Q9: part/supplier/nation broadcast; lineitem<->orders is the only
    fact-fact join; no Python anywhere."""
    a = audit(QUERIES["tpch_q9_product_profit"](spark, SF))
    assert a.broadcast_joins >= 3
    assert a.python_ops == 0 and a.nested_loop_joins == 0


def test_q21_decorrelated_semi_anti_no_cartesian(spark):
    """Q21: EXISTS/NOT EXISTS become hash semi/anti joins on l_orderkey —
    never a BroadcastNestedLoopJoin/cartesian (the inequality predicates
    must ride as residual conditions on the equi-join)."""
    a = audit(QUERIES["tpch_q21_suppliers_kept_waiting"](spark, SF))
    assert a.nested_loop_joins == 0
    assert "LeftSemi" in a.text and "LeftAnti" in a.text
    assert a.python_ops == 0


def test_windowed_cms_single_shuffle_no_python(spark):
    """Windowed CMS batch path: one hash shuffle on (window, row, col) with
    map-side partial agg; key space constant per window; no Python."""
    a = audit(QUERIES["countmin_windowed_cells"](spark, SF))
    assert a.exchanges == 1 and a.python_ops == 0


def test_quantize_and_stratified_are_scan_speed(spark):
    """quantize_int8 / stratified_sample: pure Column math — no shuffle,
    no Python, single scan each."""
    for name in ("embedding_quantize_int8",):
        a = audit(QUERIES[name](spark, SF))
        assert a.exchanges == 0 and a.python_ops == 0 and a.scans == 1, name
    a = audit(QUERIES["stratified_sample_counts"](spark, SF))
    assert a.python_ops == 0 and a.scans == 1


@pytest.mark.slow
def test_round5_ops_no_driver_actions(spark, monkeypatch):
    """Round-5 corpus/embedding operators must build their plans without
    driver-side actions (the global scalars — bloom bitmap, mixture total,
    covariance n — all ride broadcast single-row aggs)."""
    from pyspark.sql import DataFrame

    def boom(self, *a, **k):
        raise AssertionError("driver-side action during plan construction")

    for action in ("collect", "count", "first", "take", "head"):
        monkeypatch.setattr(DataFrame, action, boom)
    for name in (
        "decontaminate_testset_overlap",
        "decontaminate_bloom_hits",
        "domain_mixture_resample",
        "duplicate_token_spans",
        "repetition_quality_signals",
        "embedding_covariance",
        "embedding_jl_projection",
        "pii_redact_docs",
    ):
        QUERIES[name](spark, SF)


def test_decontaminate_broadcasts_test_set(spark):
    """The corpus side must never shuffle on raw shingles: the test-set
    shingle list (exact) / bitmap (bloom) is the broadcast side."""
    a = audit(QUERIES["decontaminate_testset_overlap"](spark, SF))
    assert a.broadcast_joins >= 1
    assert a.sort_merge_joins == 0
    b = audit(QUERIES["decontaminate_bloom_hits"](spark, SF))
    assert b.nested_loop_joins >= 1  # single-row bitmap crossJoin broadcast
    assert b.sort_merge_joins == 0


def test_mixture_resample_is_map_side_filter(spark):
    """The rates table broadcasts back onto the corpus: no corpus shuffle
    before the filter, no sort-merge join anywhere."""
    a = audit(QUERIES["domain_mixture_resample"](spark, SF))
    assert a.sort_merge_joins == 0
    assert a.python_ops == 0


def test_pii_redact_scan_speed(spark):
    a = audit(QUERIES["pii_redact_docs"](spark, SF))
    assert a.exchanges == 0 and a.python_ops == 0  # pure projection
    assert a.read_cols == [2]  # doc_id + text only


def test_ivf_probe_side_broadcast_no_smj(spark):
    """Round-5 fix regression guard: the |queries| x nprobe probe table
    broadcasts; the corpus assignment must not sort-merge-shuffle."""
    a = audit(QUERIES["similarity_topk_ivf"](spark, SF))
    assert a.sort_merge_joins == 0


def test_interval_join_is_hash_join_not_nested_loop(spark):
    """The bucketized range join's contract: a (key, bucket) HASH equi-join
    with the range as residual — zero nested-loop joins at any scale."""
    a = audit(QUERIES["error_followup_counts"](spark, SF))
    assert a.nested_loop_joins == 0
    assert a.python_ops == 0


def test_sketch_queries_bounded_exchanges(spark):
    """Sketch family: state is bins/cells-bounded, so exchanges stay small
    and few; no Python, no nested loops."""
    for name in (
        "value_quantiles_histogram_sketch",
        "hourly_distinct_users_linear_count",
        "distinct_tokens_by_lang_linear_count",
    ):
        a = audit(QUERIES[name](spark, SF))
        assert a.python_ops == 0 and a.nested_loop_joins == 0, name
        assert a.exchanges <= 4, name


# metrics where an INCREASE is a scale regression
_WORSE_IF_MORE = (
    "exchanges", "python_ops", "sort_merge_joins",
    "nested_loop_joins", "scans", "partitionless_windows",
    "read_cols_total",
)

# Fast plan-shape gate: every cheap similarity-backed query plus a spread of
# the other heavy families (TPC-H joins, windows, dedup, sketches, text).
# The full 184-query battery stays slow-marked below.
PLAN_GATE_QUERIES = (
    "similarity_topk_bruteforce",
    "similarity_topk_ivf",
    "similarity_topk_int8_rerank",
    "similarity_topk_lsh_bucketed",
    "pq_topk_adc",
    "pq_topk_packed_adc",
    "pq_rerank_topk",
    "ivfpq_topk_search",
    "ivfpq_adaptive_probe",
    "tpch_q3_shipping_priority",
    "tpch_q9_product_profit",
    "tpch_q21_suppliers_kept_waiting",
    "tumbling_window_sum",
    "sliding_window_sum_panes",
    "session_window_agg",
    "exact_dedup_full_rows",
    "embedding_cosine_near_dup",
    "countmin_windowed_cells",
    "window_ranking_battery",
    "word_count",
)


def _plan_regressions(spark, names=None) -> tuple[list[str], list[str]]:
    """Compare the live plans of ``names`` (all queries when None) with the
    committed PLANS.json snapshot. Returns (queries missing from the
    snapshot, scale regressions)."""
    import json
    import os
    import sys

    snap_path = os.path.join(os.path.dirname(__file__), "..", "PLANS.json")
    with open(snap_path) as f:
        snap = json.load(f)
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from plan_snapshot import snapshot

    live = snapshot(spark, SF, names)
    missing = sorted(set(live) - set(snap))
    problems = [
        f"{name}: {k} {snap[name][k]} -> {m[k]}"
        for name, m in live.items() if name in snap
        for k in _WORSE_IF_MORE if m[k] > snap[name][k]
    ]
    return missing, problems


@pytest.mark.parametrize("qname", PLAN_GATE_QUERIES)
def test_plan_shape_gate(spark, qname):
    """Default-run plan-shape gate over a representative subset: the same
    comparison as `test_plan_shape_no_regression`, per query."""
    missing, problems = _plan_regressions(spark, [qname])
    assert not missing, f"{qname} missing from PLANS.json (run tools/plan_snapshot.py)"
    assert not problems, "plan-shape regressions:\n" + "\n".join(problems)


@pytest.mark.slow
def test_plan_shape_no_regression(spark):
    """Scale-regression gate: every query's physical plan is compared to
    the committed PLANS.json snapshot. A plan may only get CHEAPER —
    more shuffles (exchanges), new Python ops, new sort-merge or
    nested-loop joins, more scans, or any partition-less window fails the
    suite. Intentional changes are made by regenerating the snapshot
    (python tools/plan_snapshot.py) and committing the diff, which then
    documents the plan change for review."""
    missing, problems = _plan_regressions(spark)
    assert not missing, (
        f"queries missing from PLANS.json (run tools/plan_snapshot.py): {missing}"
    )
    assert not problems, "plan-shape regressions:\n" + "\n".join(problems)
