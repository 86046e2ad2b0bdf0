"""Round-6 tier unit tests: hand-computed fixtures for the operators
behind queries_insights (the oracle-parity mirror covers the registered
queries end-to-end; these pin the operator semantics on inputs small
enough to verify by hand / plain Python)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def test_tfidf_pairs_hand_computed(spark):
    """3 docs over a tiny vocabulary; weights and cosine recomputed in
    plain Python with the same fixed-point device."""
    from py_datalake_move_files_spark.operators.retrieval import tfidf_pairs

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "apple banana cherry"),
            (3, "durian elderberry fig"),
        ],
        "doc_id long, text string",
    )
    # df: apple 2, banana 2, cherry 1, durian 1, ... -> vocab (min_df=2) is
    # {apple, banana}, both df=2, idf = ln(3/2)
    out = {
        (r["id_a"], r["id_b"]): r["tfidf_cosine"]
        for r in tfidf_pairs(
            docs, min_df=2, max_df=64, threshold=0.0, idf_scale=1000
        ).collect()
    }
    w = round(math.log(3.0 / 2.0) * 1000)  # 405
    # doc1 vector: apple 2w, banana w ; doc2: apple w, banana w
    dot = 2 * w * w + w * w
    n1 = (2 * w) ** 2 + w * w
    n2 = w * w + w * w
    want = round(dot / (math.sqrt(n1) * math.sqrt(n2)), 6)
    assert set(out) == {(1, 2)}  # doc3 shares no mid-df term
    assert out[(1, 2)] == want


def test_tfidf_pairs_max_df_excludes_hot_terms(spark):
    """A term in every doc is excluded from the vector space, so docs
    sharing ONLY that term never pair."""
    from py_datalake_move_files_spark.operators.retrieval import tfidf_pairs

    docs = spark.createDataFrame(
        [(i, f"common unique{i}") for i in range(5)],
        "doc_id long, text string",
    )
    assert (
        tfidf_pairs(docs, min_df=2, max_df=4, threshold=0.0).count() == 0
    )


def test_dim_correlations_exact_on_constructed_vectors(spark):
    """dim 1 == dim 2 exactly (corr 1.0), dim 3 = -dim 1 (corr -1.0),
    dim 4 independent-ish; ranks by |corr| with lexicographic ties."""
    from py_datalake_move_files_spark.operators.similarity import (
        dim_correlations,
    )

    rows = [
        ([1.0, 1.0, -1.0, 0.5],),
        ([2.0, 2.0, -2.0, -0.25],),
        ([3.0, 3.0, -3.0, 0.125],),
        ([-1.0, -1.0, 1.0, 0.75],),
    ]
    df = spark.createDataFrame(rows, "embedding array<float>")
    out = {
        (r["dim_i"], r["dim_j"]): r["corr"]
        for r in dim_correlations(df, "embedding", dim=4, top=6).collect()
    }
    assert out[(1, 2)] == 1.0
    assert out[(1, 3)] == -1.0
    assert out[(2, 3)] == -1.0
    # python float reference for an imperfect pair (same fixed-point path)
    import numpy as np

    v = np.array([[r[0][j] for j in range(4)] for r in rows], dtype=np.float64)
    fp = np.sign(v * 1e6) * np.floor(np.abs(v * 1e6) + 0.5)
    x, y = fp[:, 0], fp[:, 3]
    n = len(x)
    num = n * (x * y).sum() - x.sum() * y.sum()
    den = math.sqrt(n * (x * x).sum() - x.sum() ** 2) * math.sqrt(
        n * (y * y).sum() - y.sum() ** 2
    )
    assert out[(1, 4)] == round(num / den, 6)


def test_retention_cohorts_hand_computed(spark, sf_small):
    """Registered-query semantics on a crafted event set routed through a
    temp view is overkill here — instead verify the device directly:
    cohort sizes, offsets, and ppm on four users across three days."""
    import datetime as dt

    rows = []
    d0 = dt.datetime(2024, 1, 1)
    # users 1,2 first day0; user 1 returns day1; user 3 first day1,
    # returns day2; user 4 first day0 only
    for uid, day in [(1, 0), (2, 0), (4, 0), (1, 1), (3, 1), (3, 2)]:
        rows.append((uid, d0 + dt.timedelta(days=day)))
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")

    um = ev.select("user_id", F.date_trunc("day", "ts").alias("d")).distinct()
    firstd = um.groupBy("user_id").agg(F.min("d").alias("cd"))
    act = um.join(firstd, "user_id")
    r = act.groupBy(
        F.col("cd"), F.datediff("d", "cd").cast("int").alias("off")
    ).agg(F.count(F.lit(1)).alias("n"))
    cs = firstd.groupBy("cd").agg(F.count(F.lit(1)).alias("csize"))
    got = {
        (r2["cd"].day, r2["off"]): (r2["n"], r2["n"] * 1000000 // r2["csize"])
        for r2 in r.join(cs, "cd").collect()
    }
    assert got == {
        (1, 0): (3, 1000000),  # cohort day1: users 1,2,4
        (1, 1): (1, 333333),  # user 1 returned
        (2, 0): (1, 1000000),  # cohort day2: user 3
        (2, 1): (1, 1000000),  # user 3 returned
    }


def test_zipf_slope_is_negative_and_bounded(spark, sf_small):
    """On the harness corpus the fit must come out negative (frequencies
    fall with rank) and the fold must be finite (no ln(0) — counts >= 1)."""
    from py_datalake_move_files_spark.queries import QUERIES

    row = QUERIES["zipf_slope"](spark, sf_small).collect()[0]
    assert row["n_top"] > 10
    assert row["zipf_slope"] < 0
    assert math.isfinite(row["zipf_slope"])
    assert math.isfinite(row["zipf_intercept"])


def test_doc_length_by_lang_matches_python(spark, sf_small):
    """Grouped histogram quantiles vs plain-Python per-language medians."""
    from py_datalake_move_files_spark.catalog import load_table
    from py_datalake_move_files_spark.queries import QUERIES

    docs = load_table(spark, sf_small, "documents").collect()
    by_lang: dict[str, list[int]] = {}
    for r in docs:
        toks = [t for t in r["text"].split(" ") if t]
        by_lang.setdefault(r["lang"], []).append(len(toks))
    got = {
        r["lang"]: (r["n_docs"], r["median_tokens_x2"], r["p90_tokens"])
        for r in QUERIES["doc_length_by_lang"](spark, sf_small).collect()
    }
    for lang, lens in by_lang.items():
        lens.sort()
        n = len(lens)
        med2 = lens[(n - 1) // 2] + lens[n // 2]
        p90 = lens[(n * 9 + 9) // 10 - 1]
        assert got[lang] == (n, med2, p90), lang


def test_kcenter_greedy_picks_farthest_sequence(spark):
    """Constructed geometry: seed is the lowest id; each next center is
    the true farthest-from-chosen point (verified against a plain-Python
    greedy with the same fixed-point distances)."""
    from py_datalake_move_files_spark.operators.similarity import (
        kcenter_greedy,
    )

    pts = {
        1: [0.0, 0.0],
        2: [10.0, 0.0],
        3: [0.0, 9.0],
        4: [5.0, 5.0],
        5: [0.1, 0.1],
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in pts.items()], "vec_id long, embedding array<float>"
    )
    got = kcenter_greedy(df, k=4, scale=1_000_000)

    # python reference with identical fixed-point device
    def dfp(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s = s + (x - y) * (x - y)
        v = s * 1_000_000
        return int(v + 0.5) if v >= 0 else -int(-v + 0.5)

    centers = [1]
    ref = [(1, 1, 0)]
    for r in range(2, 5):
        best = None
        for i in sorted(pts):
            dmin = min(dfp(pts[i], pts[c]) for c in centers)
            if best is None or dmin > best[1]:
                best = (i, dmin)
        centers.append(best[0])
        ref.append((r, best[0], best[1]))
    assert got == ref
    # geometry sanity: the three extreme corners are chosen before the
    # near-duplicate of the seed
    assert [c for _, c, _ in got] == [1, 2, 3, 4]


def test_length_ks_matrix_self_distance_zero(spark):
    """KS(source, itself-shaped clone) — two sources given identical
    length multisets must measure 0; disjoint length ranges measure 1."""
    from py_datalake_move_files_spark.queries import QUERIES

    # route through a temp sf_dir-free path: use the operator inline
    docs = spark.createDataFrame(
        [
            (1, "a b c", "s1"),
            (2, "a b", "s1"),
            (3, "x y z", "s2"),  # same lengths as s1
            (4, "x y", "s2"),
            (5, "p q r s t u", "s3"),  # disjoint lengths
            (6, "p q r s t", "s3"),
        ],
        "doc_id long, text string, source string",
    )
    docs.createOrReplaceTempView("__ks_docs")
    lens = docs.selectExpr(
        "source", "CAST(size(filter(split(text, ' '), kt -> kt <> '')) AS BIGINT) AS v"
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    hist = lens.groupBy("source", "v").agg(F.count(F.lit(1)).alias("hn"))
    grid = lens.select("v").distinct()
    tot = lens.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    cdf = (
        grid.crossJoin(F.broadcast(tot))
        .join(hist, ["source", "v"], "left")
        .withColumn(
            "cw",
            F.sum(F.coalesce(F.col("hn"), F.lit(0))).over(
                Window.partitionBy("source")
                .orderBy("v")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    a = cdf.select(
        F.col("source").alias("sa"), "v",
        (F.col("cw").cast("double") / F.col("n").cast("double")).alias("fa"),
    )
    b = cdf.select(
        F.col("source").alias("sb"), "v",
        (F.col("cw").cast("double") / F.col("n").cast("double")).alias("fb"),
    )
    ks = {
        (r["sa"], r["sb"]): r["ks"]
        for r in a.join(b, "v")
        .where(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.round(F.max(F.abs(F.col("fa") - F.col("fb"))), 6).alias("ks"))
        .collect()
    }
    assert ks[("s1", "s2")] == 0.0
    assert ks[("s1", "s3")] == 1.0
    assert ks[("s2", "s3")] == 1.0


def test_source_lang_chi2_independent_table_is_zero(spark, sf_small):
    """A perfectly independent contingency table has chi2 == 0; the
    registered query on the harness corpus must be finite and >= 0."""
    from py_datalake_move_files_spark.queries import QUERIES

    row = QUERIES["source_lang_chi2"](spark, sf_small).collect()[0]
    assert row["chi2"] >= 0.0 and math.isfinite(row["chi2"])
    assert row["dof"] >= 1
    assert row["n_cells"] >= 2


def test_token_packing_plan_matches_python(spark, sf_small):
    """Concat-and-chunk packing recomputed in plain Python with the same
    md5 shard/order device."""
    import hashlib

    from py_datalake_move_files_spark.catalog import load_table
    from py_datalake_move_files_spark.queries import QUERIES
    from py_datalake_move_files_spark.queries_insights import (
        PACK_BUDGET,
        PACK_SHARDS,
    )

    docs = load_table(spark, sf_small, "documents").select(
        "doc_id", "text"
    ).collect()
    shards: dict[int, list[tuple[str, int, int]]] = {}
    for r in docs:
        h = hashlib.md5(str(r["doc_id"]).encode()).hexdigest()
        shard = (int(h[0], 16) * 16 + int(h[1], 16)) % PACK_SHARDS
        n_tok = len([t for t in r["text"].split(" ") if t])
        shards.setdefault(shard, []).append((h, r["doc_id"], n_tok))
    want = {}
    for shard, rows in shards.items():
        rows.sort()
        cum = 0
        bins = set()
        last_bin = -1
        tot = 0
        for _, _, n in rows:
            b = cum // PACK_BUDGET
            bins.add(b)
            last_bin = max(last_bin, b)
            cum += n
            tot += n
        n_bins = last_bin + 1
        want[shard] = (
            len(rows),
            tot,
            n_bins,
            len(bins),
            tot * 1000000 // (n_bins * PACK_BUDGET),
        )
    got = {
        r["shard"]: (
            r["n_docs"],
            r["n_tokens"],
            r["n_bins"],
            r["n_started_bins"],
            r["fill_ppm"],
        )
        for r in QUERIES["token_packing_plan"](spark, sf_small).collect()
    }
    assert got == want


def test_trimmed_mean_and_gini_match_python(spark, sf_small):
    """Histogram rank-overlap trimmed mean and rank-weighted Gini vs
    plain-Python recomputations over the same integer-cent values."""
    from py_datalake_move_files_spark.catalog import load_table
    from py_datalake_move_files_spark.queries import QUERIES

    orders = load_table(spark, sf_small, "orders").collect()

    by_prio: dict[str, list[int]] = {}
    by_cust: dict[int, int] = {}
    for r in orders:
        c = round(r["o_totalprice"] * 100)
        by_prio.setdefault(r["o_orderpriority"], []).append(c)
        by_cust[r["o_custkey"]] = by_cust.get(r["o_custkey"], 0) + c

    got_tm = {
        r["priority"]: (r["n_orders"], r["n_kept"], r["trimmed_mean"])
        for r in QUERIES["trimmed_mean_prices"](spark, sf_small).collect()
    }
    for prio, vals in by_prio.items():
        vals.sort()
        n = len(vals)
        k = n // 10
        kept = vals[k : n - k]
        want = round(sum(kept) / (len(kept) * 100.0), 6)
        assert got_tm[prio] == (n, n - 2 * k, want), prio

    rs = sorted(by_cust.values())
    n = len(rs)
    s = sum(rs)
    sw = sum((i + 1) * x for i, x in enumerate(rs))
    want_gini = round(2 * sw / (n * s) - (n + 1.0) / n, 6)
    row = QUERIES["revenue_gini"](spark, sf_small).collect()[0]
    assert (row["n_customers"], row["total_revenue_cents"]) == (n, s)
    assert abs(row["gini"] - want_gini) <= 1e-6


def test_hill_top_k_is_take_ordered(spark):
    """The Hill estimator must never global-sort the order table: the
    top-(k+1) selection has to compile to TakeOrderedAndProject."""
    from py_datalake_move_files_spark.queries import QUERIES

    plan = (
        QUERIES["hill_tail_index"](spark, "/root/testdata/sf0.01")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    # the only Sort allowed is the bounded 101-row window, never a
    # full-table Exchange rangepartitioning (the global-sort signature)
    assert "rangepartitioning" not in plan.lower()


def test_rfm_scores_and_segments(spark):
    from py_datalake_move_files_spark.queries import QUERIES

    rows = QUERIES["rfm_customer_segments"](spark, "/root/testdata/sf0.01").collect()
    assert rows
    names = {
        "champions", "loyal", "big_spenders", "at_risk", "hibernating",
        "mid_market",
    }
    total = 0
    for r in rows:
        for c in ("r_score", "f_score", "m_score"):
            assert 1 <= r[c] <= 5, r
        assert r["segment"] in names, r
        total += r["n_customers"]
    # every customer with at least one order lands in exactly one segment
    from py_datalake_move_files_spark.catalog import load_table

    n_cust = (
        load_table(spark, "/root/testdata/sf0.01", "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert total == n_cust


def test_ab_ztest_degenerate_denominator_yields_null(spark):
    """The harness corpus is the degenerate case (every user converts →
    pooled p = 1), which made the unguarded z expression throw
    DIVIDE_BY_ZERO under ANSI Spark (VERDICT r6 #1). The guard must
    return the exact arm counts with NULL z_score/significant instead of
    crashing — at both harness scales."""
    from py_datalake_move_files_spark.queries import QUERIES

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = QUERIES["ab_conversion_ztest"](spark, sf).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["n_a"] > 0 and r["n_b"] > 0
        # every user converts in the harness corpus -> degenerate pooled p
        assert r["x_a"] == r["n_a"] and r["x_b"] == r["n_b"]
        assert r["rate_a_ppm"] == 1000000 and r["rate_b_ppm"] == 1000000
        assert r["z_score"] is None
        assert r["significant"] is None


def test_ab_ztest_nondegenerate_arms_get_real_z(spark):
    """On a constructed corpus with a genuine arm difference the guard
    must NOT fire: z matches the textbook two-proportion statistic."""
    import math

    from pyspark.sql import functions as F

    # 200 users, arm by md5 parity exactly as the query derives it;
    # conversion = a deterministic per-user bit with different rates.
    users = spark.range(0, 200).select(F.col("id").alias("user_id"))
    arm = F.expr(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 4), 16, 10)"
        " % 2 AS BIGINT)"
    )
    conv = F.when(arm == 0, (F.col("user_id") % 2 == 0)).otherwise(
        F.col("user_id") % 4 == 0
    )
    ev = users.select(
        "user_id",
        F.when(conv, F.lit("purchase")).otherwise(F.lit("view")).alias(
            "event_type"
        ),
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        ev.write.mode("overwrite").parquet(f"{d}/events.parquet")
        from py_datalake_move_files_spark.queries import QUERIES

        r = QUERIES["ab_conversion_ztest"](spark, d).collect()[0]
    n_a, x_a, n_b, x_b = r["n_a"], r["x_a"], r["n_b"], r["x_b"]
    p = (x_a + x_b) / (n_a + n_b)
    z = (x_a / n_a - x_b / n_b) / math.sqrt(
        p * (1 - p) * (1 / n_a + 1 / n_b)
    )
    assert r["z_score"] == round(z, 6)
    assert r["significant"] == (abs(z) > 1.959964)


def test_cohort_ltv_matrix_invariants(spark, sf_small):
    """Per-cohort cumulative revenue is non-decreasing in age, age 0
    exists for every cohort (the acquisition month itself), and the
    matrix total equals total order revenue in exact cents."""
    from py_datalake_move_files_spark.catalog import load_table
    from py_datalake_move_files_spark.queries import QUERIES

    rows = QUERIES["cohort_ltv_matrix"](spark, sf_small).collect()
    assert rows
    by_cohort: dict = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_month"], []).append(r)
    total = 0
    for cohort, cells in by_cohort.items():
        cells.sort(key=lambda c: c["age_months"])
        assert cells[0]["age_months"] == 0, cohort
        cum = 0
        for c in cells:
            assert c["age_months"] >= 0
            assert c["n_active"] >= 1
            cum += c["revenue_cents"]
            assert c["cum_revenue_cents"] == cum, (cohort, c)
            total += c["revenue_cents"]

    from pyspark.sql import functions as F

    expected = (
        load_table(spark, sf_small, "orders")
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .alias("c")
        )
        .collect()[0]["c"]
    )
    assert total == expected
