"""kNN-graph operator (operators/similarity.knn_graph) and the
weighted-sampling query: structural plan pins + semantic invariants the
oracle comparison alone would not localize."""

from __future__ import annotations

from pyspark.sql import functions as F

from py_datalake_move_files_spark.catalog import load_table
from py_datalake_move_files_spark.queries import QUERIES

SF = "/root/testdata/sf0.01"


def test_knn_graph_plan_shape(spark):
    df = QUERIES["knn_graph_edges"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # candidate generation is bucketed: never all-pairs
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # assignment + probing are map stages over centroid literals: the only
    # exchanges are the candidate join on list_id (absorbed into a
    # broadcast at this tiny scale) and the per-query top-k window
    assert plan.count("Exchange hashpartitioning") <= 3


def test_knn_graph_edge_invariants(spark):
    rows = QUERIES["knn_graph_edges"](spark, SF).collect()
    assert rows, "graph must be non-empty"
    per_q: dict[int, list] = {}
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
        assert -1.000001 <= r["cosine_sim"] <= 1.000001
        per_q.setdefault(r["query_id"], []).append(r)
    from py_datalake_move_files_spark.queries_knn import KNN_K

    for q, es in per_q.items():
        ranks = sorted(e["rnk"] for e in es)
        assert ranks == list(range(1, len(es) + 1)), q
        assert len(es) <= KNN_K
        # rank order must follow (cosine desc, neighbor asc)
        es = sorted(es, key=lambda e: e["rnk"])
        keyed = [(-e["cosine_sim"], e["neighbor_id"]) for e in es]
        assert keyed == sorted(keyed), q


def test_label_agreement_consistent_with_edges(spark):
    edges = QUERIES["knn_graph_edges"](spark, SF)
    agree = {r["vec_id"]: r for r in QUERIES["knn_label_agreement"](spark, SF).collect()}
    n_edges = {
        r["query_id"]: r["n"]
        for r in edges.groupBy("query_id").agg(F.count("*").alias("n")).collect()
    }
    assert set(agree) == set(n_edges)
    for q, r in agree.items():
        assert r["n_neighbors"] == n_edges[q]
        assert 0 <= r["n_same"] <= r["n_neighbors"]
        assert abs(r["agreement"] - round(r["n_same"] / r["n_neighbors"], 6)) < 1e-9


def test_weighted_sample_plan_and_determinism(spark, tmp_path):
    df = QUERIES["weighted_sample_docs"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # global top-k by sampling key: per-partition heaps, never a full sort
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan
    a = [tuple(r) for r in df.collect()]
    # identical sample regardless of physical layout — the property that
    # separates hash-keyed sampling from rand(): rerun the query against
    # a 13-file rewrite of the same table (different file count, different
    # row-to-partition placement) and require the identical sample
    alt = tmp_path / "ws_alt"
    load_table(spark, SF, "documents").repartition(13).write.parquet(
        str(alt / "documents.parquet")
    )
    b = [tuple(r) for r in QUERIES["weighted_sample_docs"](spark, str(alt)).collect()]
    assert a == b and len(a) == 20


def test_weighted_sample_key_formula(spark):
    # spot-check the A-ES key against a driver-side recomputation:
    # key = round((ln(v+1) - ln(2^52)) / w, 12), v = first 13 md5 nibbles
    import hashlib
    import math

    rows = QUERIES["weighted_sample_docs"](spark, SF).collect()
    for r in rows[:5]:
        v = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:13], 16)
        want = round((math.log(v + 1) - math.log(float(1 << 52))) / r["n_chars"], 12)
        assert abs(r["sample_key"] - want) < 1e-12, r


def test_degree_assortativity_bounds_and_edges(spark):
    row = QUERIES["knn_degree_assortativity"](spark, SF).collect()[0]
    assert -1.0 <= row["assortativity"] <= 1.0
    tri = QUERIES["knn_triangle_count"](spark, SF).collect()[0]
    # the census family shares one graph: node/edge counts must agree
    assert row["n_nodes"] == tri["n_nodes"]
    assert row["n_edges"] == tri["n_edges"]


def test_local_clustering_consistent_with_global_census(spark):
    rows = QUERIES["knn_local_clustering"](spark, SF).collect()
    tri = QUERIES["knn_triangle_count"](spark, SF).collect()[0]
    # one row per node, zero-triangle nodes included
    assert len(rows) == tri["n_nodes"]
    # each triangle has exactly 3 corners
    assert sum(r["n_triangles"] for r in rows) == 3 * tri["n_triangles"]
    for r in rows:
        assert 0 <= r["lcc_ppm"] <= 1_000_000, r
        if r["degree"] < 2:
            assert r["lcc_ppm"] == 0 and r["n_triangles"] == 0
        else:
            # exact integer ppm formula
            want = (2 * r["n_triangles"] * 1_000_000) // (
                r["degree"] * (r["degree"] - 1)
            )
            assert r["lcc_ppm"] == want, r


def test_census_family_plans_stay_bucketed(spark):
    # assortativity's final scalar assembly crosses two SINGLE-ROW
    # aggregates (the same shape as the triangle census's wd × ne × tri),
    # which Spark plans as a broadcast nested-loop over one row — benign;
    # the pin is that no CORPUS-sized side ever goes loop-joined or
    # row-at-a-time Python
    for name in ("knn_degree_assortativity", "knn_local_clustering"):
        plan = (
            QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
    lcc_plan = (
        QUERIES["knn_local_clustering"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the per-node census has no single-row stage at all: even the benign
    # BNLJ shape must not appear in a per-node output plan
    assert "BroadcastNestedLoopJoin" not in lcc_plan


def test_mutual_pairs_are_symmetric_subset_of_edges(spark):
    """Every mutual pair must appear in BOTH directions of the kNN edge
    list, and mutuality is strictly a subset of one-directional edges."""
    from py_datalake_move_files_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    edges = {
        (r["query_id"], r["neighbor_id"])
        for r in QUERIES["knn_graph_edges"](spark, sf).collect()
    }
    pairs = QUERIES["knn_mutual_pairs"](spark, sf).collect()
    assert 0 < len(pairs) < len(edges)
    for r in pairs:
        assert r["id_a"] < r["id_b"]
        assert (r["id_a"], r["id_b"]) in edges
        assert (r["id_b"], r["id_a"]) in edges
