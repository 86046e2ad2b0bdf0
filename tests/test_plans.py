"""Physical-plan assertions: lock in the scale-critical plan shapes so a
regression (lost pushdown, lost broadcast, accidental cartesian product,
shuffle creep) fails CI — these properties are what make the engine viable
at 100 TB, independent of result correctness."""

from __future__ import annotations

import re


from py_datalake_move_files_spark.queries import QUERIES

SF = "/root/testdata/sf0.01"


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushes_filter_and_prunes_columns(spark):
    plan = _plan(spark, "q1_pricing_summary")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_shipdate" in scan and "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # projection pruning: the scan reads only the 7 needed columns
    cols = re.search(r"FileScan parquet \[([^\]]*)\]", scan).group(1)
    assert len(cols.split(",")) == 7, cols


def test_q3_uses_topk_and_broadcasts(spark):
    plan = _plan(spark, "q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan  # top-k, not global sort
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan


def test_manifest_plan_broadcast_single_pass(spark):
    plan = _plan(spark, "manifest_archive_plan")
    assert "BuildRight" in plan
    # listing streamed once against broadcast manifest keys (semi), then one
    # broadcast left-outer join resolves found/not-found — no anti re-scan
    assert re.search(r"BroadcastHashJoin .* LeftSemi", plan)
    assert re.search(r"BroadcastHashJoin .* LeftOuter", plan)
    assert "SortMergeJoin" not in plan  # listing is never shuffled


def test_ann_has_no_cartesian_product(spark):
    plan = _plan(spark, "ann_brute_force")
    # tiny query side must broadcast: BNLJ, never a shuffled cartesian
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_dedup_exact_single_shuffle(spark):
    plan = _plan(spark, "dedup_exact")
    # one hash aggregation: exactly one exchange, keyed on the digest
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_min" in plan or "partial_count" in plan  # map-side combine


def test_minhash_signatures_have_no_shuffle(spark):
    from py_datalake_move_files_spark.catalog import load_table
    from py_datalake_move_files_spark.operators.dedup import (
        minhash_signatures,
        shingled,
    )

    df = minhash_signatures(
        shingled(load_table(spark, SF, "documents"), "doc_id"), "doc_id"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # per-row signature computation: the only exchange is the parallelism
    # guard's round-robin (local small-file case), never a hash shuffle
    assert "Exchange hashpartitioning" not in plan
    assert "Generate explode" not in plan


def test_broadcast_hint_survives_in_star_join(spark):
    plan = _plan(spark, "q5_region_revenue")
    # every dimension is broadcast; the only shuffles are for the final agg
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_no_cartesian_product_in_any_query(spark):
    """Global invariants, one sweep: no registered query may plan a
    CartesianProduct (cross-join shapes must come from broadcast nested
    loops with a tiny side) and none may plan BatchEvalPython (any Python
    in a hot path must be Arrow-batched: ArrowEvalPython / mapInPandas)."""
    for name in sorted(QUERIES):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_q4_exists_decorrelates_to_semi_join(spark):
    # Catalyst's RewritePredicateSubquery must turn the correlated EXISTS
    # into a single semi join — never a per-row nested-loop re-execution
    plan = _plan(spark, "q4_priority_exists")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_q6_is_shuffle_free_with_full_pushdown(spark):
    # selective scan + ungrouped agg: all predicates reach the scan, the
    # partial aggregates combine map-side, zero hash shuffles
    plan = _plan(spark, "q6_revenue_filter")
    assert "Exchange hashpartitioning" not in plan
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    cols = re.search(r"FileScan parquet \[([^\]]*)\]", scan).group(1)
    assert len(cols.split(",")) == 4, cols  # qty, price, discount, shipdate
    assert "isnotnull(l_shipdate" in plan and "isnotnull(l_discount" in plan


def test_q21_windows_replace_correlated_subqueries(spark):
    # the EXISTS + NOT EXISTS pair collapses into window aggregates over ONE
    # l_orderkey exchange (+1 for the final supplier agg) — not two extra
    # lineitem self-joins
    plan = _plan(spark, "q21_late_exclusive_suppliers")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "CartesianProduct" not in plan


def test_not_in_uses_null_aware_anti_join(spark):
    # NOT IN over a nullable list must keep SQL 3VL: Catalyst plans a
    # null-aware broadcast anti join, not a plain anti join
    plan = _plan(spark, "not_in_null_semantics")
    assert "LeftAnti" in plan
    assert "Exchange hashpartitioning" not in plan


def test_curation_pipeline_scans_corpus_once(spark):
    # the composed pipeline must stay one linear lineage: branching the DAG
    # (aggregate+join-back dedup) re-executes the expensive gate stage per
    # branch, and a filter directly above the scoring projection gets its
    # HOF aliases inlined by predicate pushdown (102 s / 52 s pathologies,
    # see queries_corpus.q_corpus_curation_pipeline). One FileScan = neither
    # regression can reappear.
    plan = _plan(spark, "corpus_curation_pipeline")
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "CartesianProduct" not in plan


def test_lateral_decorrelates_to_window_join(spark):
    # correlated LATERAL + LIMIT must become a window rank + join, never a
    # per-row subquery re-execution
    plan = _plan(spark, "lateral_topk_orders")
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tfidf_topk_avoids_global_sort(spark):
    # the corpus-wide top-100 must be TakeOrderedAndProject (per-task 100-row
    # heaps merged on the driver) — the scored (doc, term) stream must never
    # hit an Exchange SinglePartition + Sort. The only single-partition work
    # allowed is the rank window over the <=100 survivors, which sits ABOVE
    # the TakeOrderedAndProject in the plan tree.
    plan = _plan(spark, "tfidf_top_terms")
    assert "TakeOrderedAndProject(limit=100" in plan
    lines = plan.splitlines()
    topk_at = next(i for i, l in enumerate(lines) if "TakeOrderedAndProject" in l)
    win_at = next(i for i, l in enumerate(lines) if "Window " in l or l.lstrip("+- ").startswith("Window"))
    # toString prints parents before children: the window (and its implied
    # single-partition stage) must sit ABOVE the top-k, operating on <=100 rows
    assert win_at < topk_at
    # below the top-k the scored stream must never be globally sorted; the
    # only allowed SinglePartition exchange is the n_docs scalar count(*)
    # (its children are partial_count HashAggregates, not the scored rows)
    below = lines[topk_at + 1 :]
    assert not any(re.search(r"\bSort \[", l) for l in below), "global sort under top-k"
    for i, l in enumerate(below):
        if "Exchange SinglePartition" in l:
            assert "partial_count" in below[i + 1], "scored stream hit a single partition"


def test_interval_join_bucketed_is_equi_join(spark):
    # the big-big interval join must be a hash/sort-merge EQUI join on
    # (keys, bucket) with the interval bounds as residual — no nested loop
    plan = _plan(spark, "interval_attribution_bucketed")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_decontamination_broadcasts_eval_shingles(spark):
    # the eval-shingle set (benchmark suites: MBs) must broadcast; the train
    # corpus must never be hash-shuffled by shingle — its only exchange is
    # the per-doc count aggregate keyed on (doc_id, n_shingles)
    plan = _plan(spark, "decontamination_overlap")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    shingle_exchanges = [
        l
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l
        and l.split("Exchange hashpartitioning", 1)[1].split(",")[0].lstrip("(").startswith("shingle")
    ]
    # exactly ONE shingle-keyed exchange is allowed: the EVAL slice's
    # distinct (MB-scale, feeds the BroadcastExchange). The train corpus's
    # only exchange is the per-doc count aggregate keyed on doc_id.
    assert len(shingle_exchanges) == 1, plan
    assert any(
        "Exchange hashpartitioning" in l and "doc_id" in l for l in plan.splitlines()
    )
    # the scan filters must stay bare source predicates: join/explode
    # constraints pushed into the scan inline the whole shingle HOF into
    # the parquet filter (re-split per element — measured 4.1 s vs 1.3 s
    # at sf0.1; the explode_outer fence in contamination_report stops it)
    for l in plan.splitlines():
        if "FileScan" in l:
            assert "transform" not in l and "sequence" not in l, l


def test_vocab_topv_avoids_global_sort_and_broadcasts(spark):
    # vocabulary selection must be TakeOrderedAndProject (per-partition
    # partial top-V) and the OOV pass must join against a broadcast of the
    # V-row vocabulary — the token stream is never sorted globally
    plan = _plan(spark, "vocab_oov_rate")
    assert "TakeOrderedAndProject(limit=200" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the scored token stream must never pass through a single partition
    assert "Exchange SinglePartition" not in plan


def test_embedding_quantization_is_map_only(spark):
    # quantize -> reconstruct -> error is per-row HOF arithmetic: no hash
    # exchange anywhere (the parallelism guard's round-robin aside)
    plan = _plan(spark, "embedding_quantization")
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_web_pipeline_scans_corpus_once(spark):
    # same invariant as the curation pipeline: the composed URL-dedup ->
    # classifier-gate -> fingerprint-dedup flow must stay one linear
    # lineage over a single corpus scan
    plan = _plan(spark, "web_corpus_pipeline")
    assert plan.count("FileScan parquet") == 1
    assert "CartesianProduct" not in plan


def test_bm25_scoring_scan_never_shuffles(spark):
    # corpus stats are ONE single-partition row broadcast back onto the
    # scan (BNLJ of 1 row); scoring is codegen arithmetic; the global
    # top-k is TakeOrderedAndProject — zero hash exchanges anywhere
    plan = _plan(spark, "bm25_doc_retrieval")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("Exchange SinglePartition") == 1  # the 1-row stats agg


def test_repeated_spans_shuffle_digests_only(spark):
    # window hashing is map-only; the two exchanges (count-distinct
    # pre-agg + final group) key on the md5 digest column, never text
    plan = _plan(spark, "repeated_ngram_spans")
    assert plan.count("Exchange hashpartitioning") == 2
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)", plan):
        assert "span_hash" in m.group(1), m.group(1)
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_containment_broadcasts_sizes(spark):
    # posting self-join + pair group shuffle on shingle/pair keys; the two
    # doc-size lookups broadcast (tiny), never SMJ; no all-pairs anywhere
    plan = _plan(spark, "containment_dup_pairs")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_r7_bounded_stat_queries_single_corpus_exchange(spark):
    """The r7 histogram/moment statistics must touch the corpus with at
    most ONE hash exchange — their whole design is that everything after
    the first keyed aggregate is domain-bounded. Shuffle creep here
    (e.g. a lost map-side combine or an ntile sneaking in) is the
    100 TB regression this pins."""
    for name in (
        "value_purchase_auc",
        "median_dkw_band",
        "ols_revenue_model",
        "k_anonymity_audit",
        "revenue_hhi_concentration",
    ):
        plan = _plan(spark, name)
        n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
        assert n_ex <= 2, f"{name}: {n_ex} hash exchanges"
        assert "CartesianProduct" not in plan, name


def test_simhash_pairs_single_band_join(spark):
    """Banded near-dup pairs: fingerprints are map-only (no exchange
    below the band join), ONE equi-join on (band, value) generates the
    candidates, and nothing sorts the corpus. Since r12 the bucket cap
    adds a window count per join side on the SAME (bi, bv) key the join
    shuffles on — co-partitioned, so the budget is exactly the two join-
    side exchanges plus the final distinct: 3, never more."""
    plan = _plan(spark, "simhash_dup_pairs")
    assert "CartesianProduct" not in plan
    n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_ex <= 3, f"simhash pairs plan grew to {n_ex} exchanges"
    # the cap window must ride the join's own partitioning: every
    # exchange is on (bi, bv) or the final distinct key, nothing else
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    for k in keys:
        assert k.startswith(("bi#", "id_a#")), f"unexpected exchange key {k}"
    assert "rangepartitioning" not in plan.lower()


def test_js_divergence_pair_join_rides_the_lineage_cut(spark):
    """The JS pair join references the probability grid twice; the
    lineage cut must keep the replicated subtree OUT of the plan (the
    r7 fix: 16 exchanges -> 1 above the cut)."""
    plan = _plan(spark, "js_source_divergence")
    n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_ex <= 2, f"js_source_divergence re-derives the grid: {n_ex}"


def test_truncated_recall_broadcasts_probes_never_shuffles_corpus(spark):
    """Both brute-force arms broadcast the 5-query probe side; the
    corpus must not hash-shuffle for the scans (only the tiny recall
    fold may exchange)."""
    plan = _plan(spark, "truncated_dim_recall")
    assert len(re.findall(r"BroadcastExchange", plan)) >= 2
    assert "CartesianProduct" not in plan


def test_ql_scoring_scan_never_shuffles(spark):
    # the BM25 shape: one single-partition stats row broadcast onto a
    # codegen scoring scan, TakeOrderedAndProject top-k, zero hash
    # exchanges anywhere (operators/retrieval.ql_dirichlet_topk)
    plan = _plan(spark, "ql_dirichlet_retrieval")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("Exchange SinglePartition") == 1


def test_winnowing_is_map_only(spark):
    # tokens -> grams -> hashes -> window minima -> distinct are all
    # per-row HOF projections: no KEYED exchange at any scale (the one
    # RoundRobin repartition is ensure_parallelism's small-input guard,
    # which no-ops on inputs with enough splits)
    plan = _plan(spark, "winnowing_fingerprints")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan


def test_waterfill_windows_run_on_pool_frame_only(spark):
    # the corpus is touched by ONE map-side-combined (lang, source)
    # token-count aggregate; every window after runs on the pool frame
    plan = _plan(spark, "token_budget_waterfill")
    n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_ex == 1, f"waterfill corpus should shuffle once, got {n_ex}"
    assert "CartesianProduct" not in plan


def test_markov_square_joins_only_the_count_matrix(spark):
    # the pair join and row-sum joins run on the <=|event_type|^2 count
    # matrix with broadcast row sums — events are shuffled once for the
    # per-user lag window and once for the (a, b) count
    plan = _plan(spark, "markov_two_step_reach")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_temporal_decay_single_exchange(spark):
    # map-side arithmetic + ONE combined aggregate keyed by event type —
    # the recency weighting must never add a join or second shuffle
    plan = _plan(spark, "temporal_decay_weights")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_bootstrap_fanout_stays_mapside(spark):
    # the B-replicate explode happens BEFORE the only row-count-scale
    # shuffle (groupBy b): no SMJ, no cartesian, and the explode feeds a
    # partial (map-side-combined) aggregate
    plan = _plan(spark, "bootstrap_ci_mean")
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "Generate explode" in plan
    assert "partial_sum" in plan or "partial" in plan


def test_ks_and_mmd_have_no_sort_merge_join(spark):
    for name in ["ks_test_doc_lengths", "embedding_mean_shift_mmd"]:
        plan = _plan(spark, name)
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_ndcg_eval_is_single_pass(spark):
    # multi-query eval must NOT re-derive the corpus per query/branch:
    # one stats scan + one main scan, one exchange (all windows share the
    # query_id partitioning). The first cut planned 33 FileScans.
    plan = _plan(spark, "ndcg_retrieval_eval")
    assert plan.count("FileScan parquet") == 2, plan.count("FileScan parquet")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("BroadcastExchange") == 1


def test_bigram_entropy_two_scans(spark):
    # N is a no-explode scan aggregate; marginals are a WINDOW over the
    # (w1,w2) type counts, co-partitioned on w1 — Catalyst must never
    # re-derive the explode subtree per branch (first cut: 5 scans)
    plan = _plan(spark, "bigram_conditional_entropy")
    assert plan.count("FileScan parquet") == 2
    assert "SortMergeJoin" not in plan


def test_value_drift_psi_pins_broadcast_on_cell_table(spark):
    """r10 sf1 sweep found the ONE scale plan flip in the registry: the
    bounded (|types|·10-row) PSI cell table lost its broadcast at sf1
    because post-checkpoint size estimates grow with data. The fix is an
    explicit broadcast hint on the null-producing side; pin that the
    densify join plans as a broadcast join with no sort-merge anywhere."""
    plan = _plan(spark, "value_drift_psi")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    # and the hint is structural, not an AQE size accident: it survives
    # into the optimized logical plan
    df = QUERIES["value_drift_psi"](spark, SF)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "rightHint=(strategy=broadcast)" in logical, logical[:1500]


def test_map_funcs_suite_parses_json_once(spark):
    """r10 sf1 sweep's one super-linear query: the inlined from_json was
    re-evaluated per consuming expression (five parses per row). Pin the
    fix: the physical plan carries exactly ONE from_json."""
    plan = _plan(spark, "map_funcs_suite")
    assert plan.count("from_json") == 1, plan.count("from_json")
