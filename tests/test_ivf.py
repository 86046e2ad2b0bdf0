"""IVF ANN tier: determinism, assignment correctness vs a local
recomputation, probe behavior, and the scale-critical plan shapes."""

from __future__ import annotations

import math

import pytest

from py_datalake_move_files_spark.catalog import load_table
from py_datalake_move_files_spark.operators.similarity import (
    ivf_assign,
    ivf_centroids,
    ivf_topk,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings")


def _cos(a, b):
    d = 0.0
    for x, y in zip(a, b):
        d = d + float(x) * float(y)
    na = 0.0
    for x in a:
        na = na + float(x) * float(x)
    nb = 0.0
    for y in b:
        nb = nb + float(y) * float(y)
    return round(d / (math.sqrt(na) * math.sqrt(nb)), 6)


def test_centroids_deterministic_and_sorted(emb):
    c1 = ivf_centroids(emb, n_lists=8)
    c2 = ivf_centroids(emb, n_lists=8)
    assert c1 == c2
    assert [cid for cid, _ in c1] == sorted(cid for cid, _ in c1)
    assert len(c1) == 8


def test_assignment_matches_local_argmax(emb):
    cents = ivf_centroids(emb, n_lists=8)
    sample = ivf_assign(emb, cents).where("vec_id < 50").collect()
    assert len(sample) == 50
    for row in sample:
        sims = [(-_cos(row["embedding"], cv), cid) for cid, cv in cents]
        expect = min(sims)[1]  # max sim, ties to lowest cid
        assert row["list_id"] == expect, row["vec_id"]


def test_topk_scores_are_exact_within_probed_lists(emb):
    cents = ivf_centroids(emb, n_lists=8)
    queries = emb.where("vec_id < 3").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    got = ivf_topk(emb, queries, k=5, centroids=cents).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    vecs = {r["vec_id"]: r["embedding"] for r in emb.where("vec_id < 3").collect()}
    for qid, rows in by_q.items():
        assert len(rows) <= 5
        # ranks are 1..n and scores non-increasing
        rows.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
        sims = [r["cosine_sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)
        # reported similarity is the true cosine, not an approximation
        corpus = {r["vec_id"]: r["embedding"] for r in emb.collect()}
        for r in rows:
            assert r["cosine_sim"] == pytest.approx(
                _cos(vecs[qid], corpus[r["neighbor_id"]]), abs=1e-6
            )


def test_ivf_assignment_is_shuffle_free(emb):
    cents = ivf_centroids(emb, n_lists=8)
    plan = (
        ivf_assign(emb, cents)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan


def test_ivf_search_never_shuffles_corpus(spark):
    from py_datalake_move_files_spark.queries import QUERIES

    plan = (
        QUERIES["ann_ivf_topk"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # probes broadcast; the only exchange is the per-query top-k window
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_kmeans_refine_improves_mean_cosine(emb):
    # Lloyd's monotonicity (up to quantization): mean cosine-to-centroid
    # after refinement must not degrade vs the raw md5-sample init
    from py_datalake_move_files_spark.operators.similarity import (
        kmeans_profile,
        kmeans_refine,
    )

    init = ivf_centroids(emb, n_lists=8)
    refined = kmeans_refine(emb, init, iters=2)

    def weighted_mean(cents):
        rows = kmeans_profile(emb, cents).collect()
        n = sum(r["n_vectors"] for r in rows)
        return sum(r["mean_cos"] * r["n_vectors"] for r in rows) / n

    assert weighted_mean(refined) > weighted_mean(init)


def test_kmeans_refine_deterministic_across_partitionings(emb):
    # fixed-point accumulation ⇒ identical centroids no matter how the
    # corpus is partitioned (the floating-sum trap this design avoids)
    from py_datalake_move_files_spark.operators.similarity import kmeans_refine

    init = ivf_centroids(emb, n_lists=4)
    a = kmeans_refine(emb, init, iters=1)
    b = kmeans_refine(emb.repartition(17), init, iters=1)
    assert a == b


def test_kmeans_profile_assignment_stage_is_shuffle_free(emb):
    # the per-round big job: assignment + k-row aggregate — the only
    # exchange is the aggregate's (map-side combined), never the corpus
    from py_datalake_move_files_spark.operators.similarity import (
        ivf_centroids as _ic,
        kmeans_profile,
    )

    df = kmeans_profile(emb, _ic(emb, n_lists=8))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan or "partial_sum" in plan


def test_ivf_assign_broadcast_path_matches_literal_path(emb, monkeypatch):
    """The two ivf_assign plans (centroid literals vs broadcast centroid
    table) must produce identical assignments — same rounded cosines, same
    (max sim, lowest cid) tie-break."""
    import py_datalake_move_files_spark.operators.similarity as SIM

    cents = ivf_centroids(emb, n_lists=8)
    lit = {r["vec_id"]: r["list_id"] for r in ivf_assign(emb, cents).collect()}
    monkeypatch.setattr(SIM, "IVF_LITERAL_MAX_K", 0)  # force the broadcast path
    bc = {r["vec_id"]: r["list_id"] for r in ivf_assign(emb, cents).collect()}
    assert lit == bc


def test_double_array_sql_is_bit_exact(spark):
    """The literal path's centroid vectors enter the plan as one string
    literal cast to ARRAY<DOUBLE> each; every double must come back
    bit-identical, subnormals, negative zero and exponent reprs included."""
    import struct

    from py_datalake_move_files_spark.operators.similarity import _double_array_sql

    vals = [
        0.1 + 0.2, 1 / 3, -0.0, 5e-324, 1e-05, -2.5e-310,
        1.7976931348623157e308, 123456.789, -0.06948484615384615,
    ]
    got = spark.sql(f"SELECT {_double_array_sql(vals)} AS a").collect()[0]["a"]
    assert [struct.pack("<d", v) for v in got] == [struct.pack("<d", v) for v in vals]


def test_ivf_assign_large_k_uses_broadcast_plan(emb):
    """k=256 must auto-select the broadcast-table path: a BroadcastExchange
    appears and there is NO per-centroid when-chain / greatest tree (the
    literal plan's expression count is what blows up at large k)."""
    cents = ivf_centroids(emb, n_lists=256)
    assert len(cents) == 256
    df = ivf_assign(emb, cents)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "greatest(" not in plan
    assert plan.count("CASE WHEN") < 64
    # and the assignment is still the exact local argmax
    sample = df.where("vec_id < 30").collect()
    assert len(sample) == 30
    for row in sample:
        sims = [(-_cos(row["embedding"], cv), cid) for cid, cv in cents]
        assert row["list_id"] == min(sims)[1], row["vec_id"]


def test_kmeans_refine_agrees_across_assignment_paths(emb):
    """Lloyd refinement is path-independent: refining through the broadcast
    assignment plan must yield bit-identical centroids (fixed-point sums
    make the aggregate order-free; the assignments themselves agree)."""
    import py_datalake_move_files_spark.operators.similarity as SIM
    from py_datalake_move_files_spark.operators.similarity import kmeans_refine

    init = ivf_centroids(emb, n_lists=4)
    a = kmeans_refine(emb, init, iters=1)
    orig = SIM.IVF_LITERAL_MAX_K
    try:
        SIM.IVF_LITERAL_MAX_K = 0  # force broadcast path inside refine
        b = kmeans_refine(emb, init, iters=1)
    finally:
        SIM.IVF_LITERAL_MAX_K = orig
    assert a == b


def test_trained_state_caches_invalidate_on_rewrite(spark, tmp_path):
    """ADVICE r4: centroid/codebook caches were keyed on the bare sf_dir —
    rewriting data under the same path silently served stale trained
    state. Snapshot keys (path+mtime+size) must retrain instead."""
    import os
    import time

    from py_datalake_move_files_spark.queries_ivf import _centroids
    from py_datalake_move_files_spark.queries_pq import _codebook

    sf = str(tmp_path)

    def write(seed):
        rows = [
            (i, [float((i * 7 + j + seed) % 13) + 0.5 for j in range(64)], 0)
            for i in range(40)
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int"
        )
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(sf, "embeddings.parquet"))

    write(seed=0)
    c1 = _centroids(spark, sf)
    cb1 = _codebook(spark, sf)
    time.sleep(0.01)  # ensure mtime_ns advances even on coarse filesystems
    write(seed=1)
    c2 = _centroids(spark, sf)
    cb2 = _codebook(spark, sf)
    assert c1 != c2, "stale centroid cache served after data rewrite"
    assert cb1 != cb2, "stale codebook cache served after data rewrite"


def test_semantic_dedup_cluster_cap_bounds_candidates(spark):
    """The SemDeDup degenerate-corpus guard: a corpus collapsing into one
    cluster must be boundable with the LSH cap device applied to the
    cluster key — pair candidates stay O(max_bucket^2), not O(N^2)."""
    from pyspark.sql import functions as F

    from py_datalake_move_files_spark.operators.similarity import (
        _cap_bucket_size,
        dot,
        norm,
    )

    n = 200
    base = [0.5] * 8
    rows = [(i, [v + (0.001 * (i % 3)) for v in base]) for i in range(n)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    one_cluster = df.withColumn("cluster_id", F.lit(0))

    cap = 20
    capped = _cap_bucket_size(one_cluster, ["cluster_id"], cap).withColumn(
        "nrm", norm("embedding")
    )
    a = capped.select(
        "cluster_id", F.col("vec_id").alias("ia"),
        F.col("embedding").alias("va"), F.col("nrm").alias("na"),
    )
    b = capped.select(
        "cluster_id", F.col("vec_id").alias("ib"),
        F.col("embedding").alias("vb"), F.col("nrm").alias("nb"),
    )
    pairs = a.join(b, "cluster_id").where(F.col("ia") < F.col("ib"))
    # the whole degenerate cluster is dropped by the cap (> max_bucket),
    # so candidates are zero here — and NEVER the quadratic 19900
    assert pairs.count() <= cap * (cap - 1) // 2


def test_cap_bucket_size_emits_drop_metrics(spark):
    """VERDICT r8 #3 (no-silent-caps): when _cap_bucket_size drops rows in
    a degenerate bucket, the dropped-row count must be observable — an
    Observation passed in reads rows_dropped / buckets_capped /
    max_bucket_n after the action, and the result rows are unchanged."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F  # noqa: F401

    from py_datalake_move_files_spark.operators.similarity import _cap_bucket_size

    # degenerate fixture: bucket 0 collapses 30 rows; ten singletons survive
    rows = [(i, 0 if i < 30 else i) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "bucket"])
    obs = Observation()
    capped = _cap_bucket_size(df, ["bucket"], 5, observation=obs)
    assert capped.count() == 10
    m = obs.get
    assert m["rows_dropped"] == 30
    assert m["buckets_capped"] == 1
    assert m["max_bucket_n"] == 30


def test_cap_bucket_size_metric_always_on_and_zero_when_clean(spark):
    """Without an Observation the metric still plans (auto-named
    CollectMetrics node — a production listener can read it), and a corpus
    with no oversized bucket reports zero drops, schema untouched."""
    from pyspark.sql import Observation

    from py_datalake_move_files_spark.operators.similarity import _cap_bucket_size

    df = spark.createDataFrame([(i, i % 7) for i in range(21)], ["vec_id", "bucket"])
    default = _cap_bucket_size(df, ["bucket"], 5)
    plan = default._jdf.queryExecution().analyzed().toString()
    assert "CollectMetrics" in plan and "bucket_cap:" in plan
    assert default.columns == ["vec_id", "bucket"]
    assert default.count() == 21

    obs = Observation()
    assert _cap_bucket_size(df, ["bucket"], 5, observation=obs).count() == 21
    assert obs.get["rows_dropped"] == 0
    assert obs.get["buckets_capped"] == 0


def _semdedup_fixture(spark, clusters):
    """An assignment frame: ``clusters`` maps cluster_id -> member count,
    every member the same vector, so every pair passes the threshold."""
    rows = [
        (cid * 1000 + i, [1.0] * 8, cid)
        for cid, n in clusters.items()
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, cluster_id long"
    )


def _counts(df):
    return {
        r["cluster_id"]: (r["n_vectors"], r["n_removed"], r["n_kept"])
        for r in df.collect()
    }


def test_semantic_dedup_query_pairing_is_capped(spark):
    """VERDICT r4 #3: the cap must be wired into semantic_dedup_summary's
    OWN pairing stage, not just exist as a device. Inject one mega-cluster
    (identical vectors — every pair passes the threshold) next to a small
    cluster: the mega-cluster is never paired (conservatively kept whole),
    the small one pairs normally, so per-cluster candidates stay
    <= cap·(cap-1)/2."""
    from py_datalake_move_files_spark.queries_ivf import _semdedup_scores

    cap = 10
    asg = _semdedup_fixture(spark, {0: 50, 1: 4})        # 50 > cap >= 4
    got = _counts(_semdedup_scores(asg, cap=cap))
    assert got[0] == (50, 0, 50)        # mega-cluster never paired
    assert got[1] == (4, 3, 1)          # small cluster pairs fully
    # and with a cap no cluster reaches the same fixture goes quadratic —
    # prove the bound is the cap's doing, not the data's
    uncapped = _counts(_semdedup_scores(asg, cap=54))
    assert uncapped == {0: (50, 49, 1), 1: (4, 3, 1)}


@pytest.mark.parametrize(
    "clusters, metrics",
    [({0: 50, 1: 4}, (50, 1, 50)), ({0: 50, 1: 12}, (62, 2, 50))],
    ids=["one-over-cap", "all-over-cap"],
)
def test_semantic_dedup_cap_metric_is_observed(spark, clusters, metrics):
    """No-silent-caps for the grouped SemDeDup shape, with AQE on: the
    ``bucket_cap:*`` metric (rows_dropped, buckets_capped, max_bucket_n)
    is in the query's observed metrics after ``collect()``, also when
    every cluster is over the cap. The grouped shape keeps one row per
    cluster, so the plan never collapses to an empty relation above the
    metric node."""
    from py_datalake_move_files_spark.queries_ivf import _semdedup_scores

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        df = _semdedup_scores(_semdedup_fixture(spark, clusters), cap=10)
        qe = df._jdf.queryExecution()
        got = _counts(df)
        observed = qe.observedMetrics()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert got == {
        cid: (n, 0, n) if n > 10 else (n, n - 1, 1) for cid, n in clusters.items()
    }
    names = observed.keys().mkString("\n").split("\n")
    (name,) = [k for k in names if k.startswith("bucket_cap:")]
    row = observed.get(name).get()
    assert (row.getLong(0), row.getLong(1), row.getLong(2)) == metrics


def test_semantic_dedup_summary_runs_one_exchange(spark, sf_small):
    """One scan, one assignment, one exchange: once the table and the
    k-means centroids have been read, building the query runs no Spark job,
    the executed plan holds exactly one Exchange (the cluster_id shuffle
    the cap window and the groupBy share), and the action runs at most two
    jobs. The scoring stage after that exchange runs on every task slot:
    AQE does not coalesce the small shuffle into one task."""
    from py_datalake_move_files_spark.queries import QUERIES

    q = QUERIES["semantic_dedup_summary"]
    q(spark, sf_small).collect()  # reads the schema, trains the centroids
    sc = spark.sparkContext
    jobs = {}
    try:
        for group in ("build", "action"):
            sc.setJobGroup(f"semdedup-{group}", group)
            if group == "build":
                df = q(spark, sf_small)
            else:
                df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    for group in ("build", "action"):
        jobs[group] = len(sc.statusTracker().getJobIdsForGroup(f"semdedup-{group}"))
    assert jobs["build"] == 0, jobs
    assert 1 <= jobs["action"] <= 2, jobs
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange ") == 1, plan
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(stage).numTasks
        for job in tracker.getJobIdsForGroup("semdedup-action")
        for stage in tracker.getJobInfo(job).stageIds
        if tracker.getStageInfo(stage) is not None
    ]
    assert sc.defaultParallelism > 1
    assert max(tasks) == sc.defaultParallelism, tasks
