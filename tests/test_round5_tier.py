"""Property tests for the late-round-5 tier: transition matrix, Pareto
frontier, MAD outliers, training-shard plan, PMI collocations, and the
degree-ordered kNN triangle census.

Oracle parity (both SFs) runs in test_oracle_parity automatically; these
tests pin the properties a hash compare can't express — plan shapes,
partition invariance of the deterministic orderings, and independent
Python recomputation of the nontrivial math (exact median/MAD, skyline
dominance, brute-force triangle count).
"""

from __future__ import annotations

import itertools
import statistics

from pyspark.sql import functions as F

from py_datalake_move_files_spark.queries import QUERIES


def test_transition_shares_sum_to_at_most_one(spark, sf_small):
    rows = QUERIES["event_transition_matrix"](spark, sf_small).collect()
    by_from: dict[str, list] = {}
    for r in rows:
        by_from.setdefault(r.from_type, []).append(r)
    for cells in by_from.values():
        total_ppm = sum(c.share_ppm for c in cells)
        # floor division loses < 1 ppm per cell
        assert 1_000_000 - len(cells) <= total_ppm <= 1_000_000
        n = sum(c.n_transitions for c in cells)
        for c in cells:
            assert c.share_ppm == c.n_transitions * 1_000_000 // n


def test_pareto_frontier_rows_are_mutually_nondominated(spark, sf_small):
    rows = QUERIES["pareto_quality_frontier"](spark, sf_small).collect()
    assert rows, "frontier can never be empty on a nonempty corpus"
    pts = [(r.n_chars, r.n_distinct_tokens) for r in rows]
    for (x1, y1), (x2, y2) in itertools.permutations(pts, 2):
        dominates = x1 >= x2 and y1 >= y2 and (x1 > x2 or y1 > y2)
        assert not dominates, f"({x1},{y1}) dominates ({x2},{y2})"


def test_pareto_frontier_dominates_every_document(spark, sf_small):
    docs = QUERIES["pareto_quality_frontier"](spark, sf_small)
    frontier = [(r.n_chars, r.n_distinct_tokens) for r in docs.collect()]
    from py_datalake_move_files_spark.catalog import load_table

    scored = (
        load_table(spark, sf_small, "documents")
        .select(
            "n_chars",
            F.size(F.array_distinct(F.split("text", " "))).alias("y"),
        )
        .collect()
    )
    for row in scored:
        covered = any(
            fx >= row.n_chars and fy >= row.y for fx, fy in frontier
        )
        assert covered, f"({row.n_chars},{row.y}) escapes the frontier"


def test_mad_outliers_match_python_median_mad(spark, sf_small):
    """Independent recomputation: the histogram-rank device must equal the
    textbook median/MAD over the raw values."""
    from py_datalake_move_files_spark.catalog import load_table

    got = {
        r.event_type: r
        for r in QUERIES["mad_outlier_events"](spark, sf_small).collect()
    }
    raw = (
        load_table(spark, sf_small, "events")
        .select("event_type", F.round(F.col("value") * 100).cast("long").alias("c"))
        .collect()
    )
    by_type: dict[str, list[int]] = {}
    for r in raw:
        by_type.setdefault(r.event_type, []).append(r.c)
    for etype, cents in by_type.items():
        med = statistics.median(cents)
        mad = statistics.median(abs(c - med) for c in cents)
        row = got[etype]
        assert row.n_events == len(cents)
        assert row.median_cents_x2 == round(2 * med)
        assert row.mad_cents_x4 == round(4 * mad)
        expect_out = sum(1 for c in cents if abs(c - med) > 3 * mad)
        assert row.n_outliers == expect_out


def test_training_shard_plan_is_partition_invariant(spark, sf_small):
    """The shard checksums certify a full permutation — they must not move
    under a hostile input partitioning."""
    from py_datalake_move_files_spark.catalog import load_table

    base = {
        r.shard: (r.n_docs, r.total_chars, r.order_checksum)
        for r in QUERIES["training_shard_plan"](spark, sf_small).collect()
    }
    assert set(base) == set(range(16))
    # recompute from a deliberately reshuffled source via the same operators
    docs = load_table(spark, sf_small, "documents").repartition(13)
    from py_datalake_move_files_spark.operators.dedup import hex_value_sql
    from pyspark.sql import Window

    hv = hex_value_sql("md5(CAST(doc_id AS STRING))", 2)
    keyed = docs.select(
        "doc_id",
        "n_chars",
        F.expr(f"({hv}) % 16").alias("shard"),
        F.expr("md5(CAST(doc_id AS STRING))").alias("okey"),
    )
    w = Window.partitionBy("shard").orderBy("okey", "doc_id")
    again = {
        r.shard: (r.n_docs, r.total_chars, r.order_checksum)
        for r in keyed.withColumn("p", F.row_number().over(w))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.col("p") * (F.col("doc_id") % 997)).alias("order_checksum"),
        )
        .collect()
    }
    assert base == again


def test_pmi_buckets_match_python_recomputation(spark, sf_small):
    from py_datalake_move_files_spark.catalog import load_table

    texts = [
        r.text for r in load_table(spark, sf_small, "documents").collect()
    ]
    uni: dict[str, int] = {}
    bg: dict[str, int] = {}
    total = 0
    for t in texts:
        toks = t.split(" ")
        total += len(toks)
        for w in toks:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(toks, toks[1:]):
            key = f"{a} {b}"
            bg[key] = bg.get(key, 0) + 1
    rows = QUERIES["pmi_collocations"](spark, sf_small).collect()
    assert len(rows) == 30
    log2b = lambda x: x.bit_length() - 1  # noqa: E731
    for r in rows:
        a, b = r.bigram.split(" ")
        assert r.n_pair == bg[r.bigram]
        expect = (
            log2b(bg[r.bigram]) + log2b(total) - log2b(uni[a]) - log2b(uni[b])
        )
        assert r.pmi_log2_bucket == expect


def test_triangle_count_matches_bruteforce(spark, sf_small):
    """The degree-ordered 3-join must count exactly the set-combinatorics
    triangles of the undirected kNN graph."""
    from py_datalake_move_files_spark.queries_knn import _knn_edges

    edges = _knn_edges(spark, sf_small).collect()
    und = {
        (min(e.query_id, e.neighbor_id), max(e.query_id, e.neighbor_id))
        for e in edges
    }
    adj: dict[int, set[int]] = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    tri = 0
    for u, v in und:
        tri += len(adj[u] & adj[v] - {u, v})
    tri //= 3  # each triangle counted once per edge
    wedges = sum(len(s) * (len(s) - 1) // 2 for s in adj.values())
    row = QUERIES["knn_triangle_count"](spark, sf_small).collect()[0]
    assert row.n_edges == len(und)
    assert row.n_nodes == len(adj)
    assert row.n_wedges == wedges
    assert row.n_triangles == tri
    assert row.closure_ppm == 3 * tri * 1_000_000 // wedges


def test_triangle_join_has_no_cartesian_and_no_corpus_broadcast(spark, sf_small):
    plan = QUERIES["knn_triangle_count"](spark, sf_small)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_pareto_window_runs_over_aggregate_not_corpus(spark, sf_small):
    """The unpartitioned running-max window must sit ABOVE the per-x
    aggregate in the plan (window over thousands of aggregate rows, never
    over the document scan)."""
    plan = (
        QUERIES["pareto_quality_frontier"](spark, sf_small)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    win = plan.find("Window")
    agg = plan.find("Aggregate")
    assert win != -1 and agg != -1
    # optimized plans print top-down: the Window node must appear above
    # (before) the per-x Aggregate that feeds it
    assert win < agg


def test_rrf_fusion_combines_both_arms_exactly(spark, sf_small):
    """RRF output must contain exactly the union of the two arms' doc ids,
    with the ppm score recomputable from the two rank columns."""
    rows = QUERIES["hybrid_rrf_retrieval"](spark, sf_small).collect()
    ids = [r.doc_id for r in rows]
    assert len(ids) == len(set(ids))
    for r in rows:
        assert r.lex_rank is not None or r.sem_rank is not None
        expect = 0
        if r.lex_rank is not None:
            expect += 1_000_000 // (60 + r.lex_rank)
        if r.sem_rank is not None:
            expect += 1_000_000 // (60 + r.sem_rank)
        assert r.rrf_ppm == expect
    fused = sorted(rows, key=lambda r: (-r.rrf_ppm, r.doc_id))
    assert [r.fused_rank for r in fused] == list(range(1, len(rows) + 1))


def test_percentile_ranks_are_monotone_in_score(spark, sf_small):
    rows = QUERIES["quality_percentile_ranks"](spark, sf_small).collect()
    n = len(rows)
    by_score = sorted(rows, key=lambda r: r.n_tokens)
    for a, b in zip(by_score, by_score[1:]):
        assert a.pct_ppm <= b.pct_ppm
        if a.n_tokens == b.n_tokens:
            assert a.pct_ppm == b.pct_ppm
    # strict-below definition: the ppm equals the recount
    below: dict[int, int] = {}
    for r in rows:
        below[r.n_tokens] = below.get(r.n_tokens, 0) + 1
    for r in rows:
        cnt = sum(v for k, v in below.items() if k < r.n_tokens)
        assert r.pct_ppm == cnt * 1_000_000 // n


def test_percentile_plan_broadcasts_histogram_not_corpus(spark, sf_small):
    plan = (
        QUERIES["quality_percentile_ranks"](spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cms_join_size_never_underestimates(spark, sf_small):
    """Inner-product estimates only gain from collisions — cms_est >= exact
    on any data; equality when no two keys collide in the best row."""
    row = QUERIES["cms_join_size_estimate"](spark, sf_small).collect()[0]
    assert row.cms_est >= row.exact_pairs
    assert row.overestimate == row.cms_est - row.exact_pairs
    # exact self-join size cross-check against a real join
    from py_datalake_move_files_spark.catalog import load_table

    ev = load_table(spark, sf_small, "events").select("user_id")
    joined = ev.alias("a").join(ev.alias("b"), "user_id").count()
    assert row.exact_pairs == joined


def test_psi_terms_are_nonnegative_and_self_split_is_zero(spark, sf_small):
    """(p-q) and ln(p/q) always share a sign, so PSI >= 0; and PSI of a
    distribution against itself must be ~0 (here: tiny, from the halves
    being different samples, bounded by a loose cap)."""
    rows = QUERIES["value_drift_psi"](spark, sf_small).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.psi >= 0.0
        assert r.n_ref + r.n_cur > 0
        # synthetic halves are iid draws from one distribution: PSI should
        # read "stable" (< 0.25 even at the small SF's sample noise)
        assert r.psi < 0.25, f"{r.event_type} drifted: {r.psi}"


def test_novelty_complements_duplication(spark, sf_small):
    """Novelty recounted in plain Python, plus the structural invariants:
    the lowest doc id is 100% novel, and every shingle has exactly one
    first owner."""
    from py_datalake_move_files_spark.catalog import load_table

    rows = {
        r.doc_id: r
        for r in QUERIES["doc_novelty_scores"](spark, sf_small).collect()
    }
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text").collect()
    first: dict[str, int] = {}
    per_doc: dict[int, set] = {}
    for d in sorted(docs, key=lambda r: r.doc_id):
        toks = d.text.split(" ")
        sh = (
            {d.text}
            if len(toks) < 3
            else {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        )
        per_doc[d.doc_id] = sh
        for s in sh:
            first.setdefault(s, d.doc_id)
    min_id = min(per_doc)
    assert rows[min_id].novelty == 1.0
    for doc_id, sh in per_doc.items():
        r = rows[doc_id]
        assert r.n_shingles == len(sh)
        assert r.n_first == sum(1 for s in sh if first[s] == doc_id)


def test_session_pattern_matches_python_automaton(spark, sf_small):
    """The cascaded-running-max automaton must equal a plain-Python
    subsequence scan over each sessionized event stream."""
    from py_datalake_move_files_spark.catalog import load_table

    ev = sorted(
        load_table(spark, sf_small, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    sessions: dict[tuple, list[str]] = {}
    prev: dict[int, float] = {}
    sid: dict[int, int] = {}
    for r in ev:
        t = r.ts.timestamp()
        if r.user_id not in prev or t - prev[r.user_id] > 1800:
            sid[r.user_id] = sid.get(r.user_id, 0) + 1
        prev[r.user_id] = t
        sessions.setdefault((r.user_id, sid[r.user_id]), []).append(r.event_type)

    def matches(types, pattern):
        i = 0
        for t in types:
            if i < len(pattern) and t == pattern[i]:
                i += 1
        return i == len(pattern)

    n_v = sum(1 for s in sessions.values() if "view" in s)
    n_vc = sum(1 for s in sessions.values() if matches(s, ["view", "click"]))
    n_vcp = sum(
        1 for s in sessions.values() if matches(s, ["view", "click", "purchase"])
    )
    row = QUERIES["session_pattern_match"](spark, sf_small).collect()[0]
    assert row.n_sessions == len(sessions)
    assert row.n_with_view == n_v
    assert row.n_view_then_click == n_vc
    assert row.n_full_pattern == n_vcp


def test_kappa_matches_python_recomputation(spark, sf_small):
    from py_datalake_move_files_spark.catalog import load_table
    from py_datalake_move_files_spark.operators.text import lang_scores

    pred = {
        r.doc_id: (r.lang, r.pred_lang)
        for r in lang_scores(load_table(spark, sf_small, "documents"))
        .select("doc_id", "lang", "pred_lang")
        .collect()
    }
    n = len(pred)
    agree = sum(1 for a, p in pred.values() if a == p)
    rows: dict[str, int] = {}
    cols: dict[str, int] = {}
    for a, p in pred.values():
        rows[a] = rows.get(a, 0) + 1
        cols[p] = cols.get(p, 0) + 1
    rc = sum(rows.get(k, 0) * cols.get(k, 0) for k in set(rows) | set(cols))
    po = agree / n
    pe = rc / (n * n)
    got = QUERIES["lang_kappa_score"](spark, sf_small).collect()[0]
    assert got.n_docs == n and got.n_agree == agree
    assert got.po == round(po, 6)
    assert got.pe == round(pe, 6)
    assert got.kappa == round((po - pe) / (1 - pe), 6)


def test_transition_state_is_replay_idempotent(spark, sf_small, tmp_path):
    """The append-only max-register state must derive the SAME last-event
    row per user after a replayed append of an earlier batch's state rows
    (the CRDT-style property the operator's at-least-once story relies
    on)."""
    from pyspark.sql import Window
    from py_datalake_move_files_spark.catalog import load_table

    ev = load_table(spark, sf_small, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    cut = ev.selectExpr("percentile(event_id, 0.5) AS m").collect()[0].m
    b0 = ev.where(F.col("event_id") <= cut)
    w_last = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def last_rows(frame):
        return (
            frame.withColumn("__rn", F.row_number().over(w_last))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )

    state = str(tmp_path / "state")
    last_rows(b0).write.mode("append").parquet(state)
    last_rows(ev.where(F.col("event_id") > cut)).write.mode("append").parquet(
        state
    )
    def derived():
        return {
            (r.user_id, r.ts, r.event_id)
            for r in last_rows(spark.read.parquet(state)).collect()
        }
    before = derived()
    # replay batch 0's state append
    last_rows(b0).write.mode("append").parquet(state)
    assert derived() == before


def test_autocorrelation_matches_python_pearson(spark, sf_small):
    from py_datalake_move_files_spark.catalog import load_table

    ev = load_table(spark, sf_small, "events").select("ts").collect()
    from collections import Counter
    import datetime as dt
    import math

    hours = Counter(
        r.ts.replace(minute=0, second=0, microsecond=0) for r in ev
    )
    h0, h1 = min(hours), max(hours)
    series = []
    h = h0
    while h <= h1:
        series.append(hours.get(h, 0))
        h += dt.timedelta(hours=1)

    def pearson(xs, ys):
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        syy = sum(y * y for y in ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        return (n * sxy - sx * sy) / (
            math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
        )

    got = {
        r.lag: (r.n_pairs, r.autocorr)
        for r in QUERIES["hourly_autocorrelation"](spark, sf_small).collect()
    }
    for k in (1, 24):
        xs, ys = series[k:], series[:-k]
        assert got[k][0] == len(xs)
        assert abs(got[k][1] - pearson(xs, ys)) < 1e-6


def test_range_partition_plan_is_balanced_and_complete(spark, sf_small):
    """All rows land in a bucket, bucket ids cover 0..15, and a 5% sample's
    boundaries keep every bucket within a loose balance envelope of the
    ideal share (the property a planner checks before trusting the
    sort plan)."""
    from py_datalake_move_files_spark.catalog import load_table

    rows = QUERIES["range_partition_plan"](spark, sf_small).collect()
    total = load_table(spark, sf_small, "orders").count()
    assert sum(r.n_orders for r in rows) == total
    assert {r.bucket for r in rows} == set(range(16))
    ideal = total / 16
    for r in rows:
        assert r.n_orders < 4 * ideal, (r.bucket, r.n_orders, ideal)


def test_embedding_norm_audit_matches_python(spark, sf_small):
    """Recount in Python, covering the MAD=0 degenerate case (the harness
    embeddings are exactly unit-normalized — the audit must report that
    faithfully, not crash on zero deviation)."""
    import math
    import statistics
    from py_datalake_move_files_spark.catalog import load_table

    vecs = [
        r.embedding
        for r in load_table(spark, sf_small, "embeddings").collect()
    ]
    norms = [
        round(math.sqrt(sum(float(x) * float(x) for x in v)) * 1_000_000)
        for v in vecs
    ]
    med = statistics.median(norms)
    mad = statistics.median(abs(c - med) for c in norms)
    out = sum(1 for c in norms if abs(c - med) > 3 * mad)
    row = QUERIES["embedding_norm_outliers"](spark, sf_small).collect()[0]
    assert row.n_vectors == len(norms)
    assert row.median_norm_micro_x2 == round(2 * med)
    assert row.mad_norm_micro_x4 == round(4 * mad)
    assert row.n_outliers == out


def _executed(spark, name, sf):
    return (
        QUERIES[name](spark, sf)._jdf.queryExecution().executedPlan().toString()
    )


def test_session_automaton_pays_one_user_exchange(spark, sf_small):
    """Arbitrary-length pattern, ONE data-sized exchange: every window of
    the automaton partitions by user_id alone, so the plan carries exactly
    one user-keyed hash exchange (plus the single-partition final
    summary)."""
    import re

    plan = _executed(spark, "session_pattern_match", sf_small)
    user_exch = re.findall(r"Exchange hashpartitioning\(user_id", plan)
    assert len(user_exch) == 1, plan.count("Exchange")


def test_shard_plan_shares_one_exchange_between_window_and_agg(spark, sf_small):
    """The position window and the per-shard aggregate reuse the same
    shard-keyed partitioning — exactly one hash exchange in the plan."""
    import re

    plan = _executed(spark, "training_shard_plan", sf_small)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_transition_matrix_single_data_sized_exchange(spark, sf_small):
    """Only the lead window's user_id exchange moves event-sized data; the
    other exchanges key the <=25-cell aggregate."""
    import re

    plan = _executed(spark, "event_transition_matrix", sf_small)
    assert len(re.findall(r"Exchange hashpartitioning\(user_id", plan)) == 1


def test_latency_quartiles_match_statistics_quantiles(spark, sf_small):
    """The fixed-point histogram quantiles must equal Python's
    inclusive-method (R-7) quantiles over the recomputed latencies."""
    import statistics
    from py_datalake_move_files_spark.catalog import load_table

    ev = load_table(spark, sf_small, "events").collect()
    tv: dict[int, object] = {}
    tp: dict[int, object] = {}
    for r in ev:
        if r.event_type == "view":
            if r.user_id not in tv or r.ts < tv[r.user_id]:
                tv[r.user_id] = r.ts
        elif r.event_type == "purchase":
            if r.user_id not in tp or r.ts < tp[r.user_id]:
                tp[r.user_id] = r.ts
    lats = [
        int(tp[u].timestamp() * 1000) - int(tv[u].timestamp() * 1000)
        for u in tv
        if u in tp and tp[u] >= tv[u]
    ]
    q = statistics.quantiles(lats, n=4, method="inclusive")
    row = QUERIES["conversion_latency_quartiles"](spark, sf_small).collect()[0]
    assert row.n_pairs == len(lats)
    assert row.p25_ms_x4 == round(4 * q[0])
    assert row.p50_ms_x4 == round(4 * q[1])
    assert row.p75_ms_x4 == round(4 * q[2])


def test_basket_lift_matches_python_recount(spark, sf_small):
    from itertools import combinations
    from py_datalake_move_files_spark.catalog import load_table

    li = load_table(spark, sf_small, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect()
    baskets: dict[int, set] = {}
    for r in li:
        baskets.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    pair_n: dict[tuple, int] = {}
    item_n: dict[int, int] = {}
    for items in baskets.values():
        for p in items:
            item_n[p] = item_n.get(p, 0) + 1
        for x, y in combinations(sorted(items), 2):
            pair_n[(x, y)] = pair_n.get((x, y), 0) + 1
    n_orders = len(baskets)
    rows = QUERIES["basket_pair_lift"](spark, sf_small).collect()
    assert len(rows) == 25
    for r in rows:
        assert r.n_pair == pair_n[(r.pa, r.pb)]
        assert r.support == round(r.n_pair / n_orders, 6)
        assert r.lift == round(
            r.n_pair * n_orders / (item_n[r.pa] * item_n[r.pb]), 6
        )
