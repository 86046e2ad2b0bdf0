"""Scale-strategy tests: bucketed co-located joins (no exchange), salted
skew joins (same results as plain), connected-components convergence."""

from __future__ import annotations

from pyspark.sql import functions as F

from py_datalake_move_files_spark.catalog import load_table
from py_datalake_move_files_spark.functions.skew import salted_join
from py_datalake_move_files_spark.operators.clusters import connected_components

SF = "/root/testdata/sf0.001"


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Pre-bucketing both sides on the join key makes the join exchange-free
    — the co-located-join strategy for repeated large-large joins at scale."""
    orders = load_table(spark, SF, "orders")
    lineitem = load_table(spark, SF, "lineitem")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").option(
        "path", str(tmp_path / "orders_b")
    ).mode("overwrite").saveAsTable("orders_b")
    lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").option(
        "path", str(tmp_path / "lineitem_b")
    ).mode("overwrite").saveAsTable("lineitem_b")

    joined = spark.table("lineitem_b").join(
        spark.table("orders_b"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan[:2000]
    # sanity: result matches the unbucketed join
    plain = lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    assert joined.count() == plain.count()
    spark.sql("DROP TABLE orders_b")
    spark.sql("DROP TABLE lineitem_b")


def test_salted_join_matches_plain_join(spark):
    ev = load_table(spark, SF, "events")  # user_id is the (potentially hot) key
    users = (
        ev.groupBy("user_id").count().select("user_id", F.col("count").alias("n"))
    )
    plain = ev.join(users, "user_id").agg(
        F.count(F.lit(1)).alias("c"), F.sum("n").alias("s")
    ).collect()[0]
    salted = salted_join(ev, users, key="user_id", salt_factor=4).agg(
        F.count(F.lit(1)).alias("c"), F.sum("n").alias("s")
    ).collect()[0]
    assert (plain.c, plain.s) == (salted.c, salted.s)


def test_lsh_candidate_cap_bounds_degenerate_corpus(spark):
    """VERDICT r01 #4: a corpus of byte-identical docs collapses into one
    band bucket → O(N²) candidates. max_bucket drops the degenerate bucket
    before the self-join, keeping candidates O(bucket²); normal near-dup
    buckets are untouched."""
    from py_datalake_move_files_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingled,
    )

    n_identical = 80
    rows = [(i, "the same exact document text repeated verbatim") for i in range(n_identical)]
    rows += [
        (1000, "a genuinely different small document about spark joins"),
        (1001, "a genuinely different small document about spark joins plus"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_signatures(shingled(docs, "doc_id"), "doc_id").localCheckpoint()

    uncapped = lsh_candidate_pairs(sigs, "doc_id").count()
    assert uncapped >= n_identical * (n_identical - 1) // 2  # quadratic blowup

    capped = lsh_candidate_pairs(sigs, "doc_id", max_bucket=10)
    got = capped.collect()
    assert (1000, 1001) in {(r.id_a, r.id_b) for r in got}  # real pair survives
    # every identical-doc pair is gone: bound is O(cap²), not O(N²)
    assert len(got) <= 10 * 10


def test_multi_table_lsh_recall_dominates_single_table(spark):
    """n_tables=2 unions candidates from independent plane families, so per-
    query neighbor sets are supersets of (at least as good as) each single
    table's — recall can only go up; scores for shared pairs are identical."""
    from py_datalake_move_files_spark.operators.similarity import lsh_bucketed_topk

    emb = load_table(spark, SF, "embeddings")
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    big_k = emb.count() + 1  # no top-k cut: compare raw candidate sets
    one = lsh_bucketed_topk(emb, queries, k=big_k, n_planes=4, dim=64).collect()
    two = lsh_bucketed_topk(
        emb, queries, k=big_k, n_planes=4, dim=64, n_tables=2
    ).collect()
    set_one = {(r.query_id, r.neighbor_id) for r in one}
    set_two = {(r.query_id, r.neighbor_id) for r in two}
    assert set_one <= set_two
    score_two = {(r.query_id, r.neighbor_id): r.cosine_sim for r in two}
    for r in one:
        assert score_two[(r.query_id, r.neighbor_id)] == r.cosine_sim


def test_connected_components_on_crafted_graph(spark):
    # chain 1-2-3-4 (diameter 3), pair 10-11
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    got = {r.node: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_pagerank_conserves_rank_mass(spark):
    from py_datalake_move_files_spark.operators.graph import (
        normalize_edges,
        pagerank,
    )

    edges = spark.createDataFrame(
        [(0, 1, 3.0), (1, 2, 1.0), (2, 0, 2.0), (0, 2, 1.0), (2, 1, 1.0)],
        ["src", "dst", "w"],
    )
    nodes = spark.createDataFrame([(0,), (1,), (2,)], ["nation"])
    norm = normalize_edges(edges)

    ranks = {r.nation: r.rank for r in pagerank(norm, nodes, iterations=6).collect()}
    assert set(ranks) == {0, 1, 2}
    assert abs(sum(ranks.values()) - 1.0) < 1e-6  # no dangling mass here


def test_inverted_jaccard_survives_universal_hot_shingle(spark):
    """A shingle present in EVERY doc makes the inverted index generate
    O(N²) posting pairs for that shingle, none of which clears the
    threshold; the real near-dup pair that shares far more than the
    universal tail must still come out, exactly once."""
    from py_datalake_move_files_spark.operators.dedup import jaccard_pairs

    rows = [(i, f"u{i}a u{i}b u{i}c u{i}d u{i}e common tail words") for i in range(60)]
    # one true near-dup pair (identical long text, universal tail included)
    rows += [
        (1000, "x1 x2 x3 x4 x5 x6 x7 x8 common tail words"),
        (1001, "x1 x2 x3 x4 x5 x6 x7 x8 common tail words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in jaccard_pairs(df, "doc_id", threshold=0.8).collect()
    }
    assert got == {(1000, 1001, 1.0)}
