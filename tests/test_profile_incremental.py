"""Operator-level tests for the profiling / incremental / layout tier
(queries_profiling.py carries the oracle-parity coverage; these pin the
operator edge cases and scale invariants)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from py_datalake_move_files_spark.operators.incremental import (
    merge_partials,
    partial_aggs,
)
from py_datalake_move_files_spark.operators.profile import (
    histogram_fixed_width,
    profile_table,
    winsorize,
)
from py_datalake_move_files_spark.operators.text import char_entropy, heavy_hitters
from py_datalake_move_files_spark.plans.layout import zorder_key, zorder_key_sql


# -------------------------------------------------------------- profile --


def test_profile_counts_nulls_and_distincts(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")], "id int, s string"
    )
    prof = {r["column"]: r for r in profile_table(df).collect()}
    assert prof["id"]["n_rows"] == 4
    assert prof["id"]["n_nulls"] == 1
    assert prof["id"]["n_distinct"] == 3
    assert prof["id"]["min_repr"] == "1"
    assert prof["id"]["max_repr"] == "3"
    assert prof["s"]["n_nulls"] == 1
    assert prof["s"]["n_distinct"] == 2


def test_profile_approx_mode_single_pass(spark):
    df = spark.range(1000).withColumn("v", F.col("id") % 10)
    prof = {r["column"]: r for r in profile_table(df, approx=True).collect()}
    # HLL at this cardinality is exact
    assert prof["v"]["n_distinct"] == 10
    assert prof["id"]["n_nulls"] == 0


def test_profile_numeric_min_is_numeric_not_lexicographic(spark):
    df = spark.createDataFrame([(9.0,), (100.0,)], "v double")
    prof = {r["column"]: r for r in profile_table(df).collect()}
    assert prof["v"]["min_repr"] == "9.0"
    assert prof["v"]["max_repr"] == "100.0"


# ------------------------------------------------------------ histogram --


def test_histogram_edges(spark):
    df = spark.createDataFrame([(float(v),) for v in range(101)], "v double")
    rows = {r["bucket"]: r for r in histogram_fixed_width(df, "v", n_buckets=10).collect()}
    assert rows[0]["lo"] == 0.0
    assert rows[9]["hi"] == 100.0  # max value lands in the LAST bucket
    assert sum(r["n"] for r in rows.values()) == 101
    # buckets are equal-width over [0, 100]: bucket 0 holds 0..9
    assert rows[0]["n"] == 10 and rows[0]["hi"] == 9.0


def test_winsorize_clamps_to_percentiles(spark):
    df = spark.createDataFrame([(float(v),) for v in range(1, 101)], "v double")
    w = winsorize(df, "v", p_lo=0.05, p_hi=0.95, keep_bounds=True)
    got = w.agg(
        F.min("value_w"), F.max("value_w"), F.any_value("p_lo"), F.any_value("p_hi")
    ).first()
    # exact interpolated p05/p95 of 1..100
    assert got[2] == pytest.approx(5.95)
    assert got[3] == pytest.approx(95.05)
    assert got[0] == pytest.approx(5.95) and got[1] == pytest.approx(95.05)


# ---------------------------------------------------------- incremental --


def test_merge_partials_equals_direct_agg(spark, sf_small):
    from py_datalake_move_files_spark.catalog import load_table

    orders = load_table(spark, sf_small, "orders").select(
        (F.col("o_custkey") % 7).alias("k"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
    )
    base = partial_aggs(orders.where(F.col("o_custkey") % 3 == 0), ["k"], ["v"])
    delta = partial_aggs(orders.where(F.col("o_custkey") % 3 != 0), ["k"], ["v"])
    merged = merge_partials(base, delta, ["k"], ["v"]).orderBy("k").collect()
    direct = partial_aggs(orders, ["k"], ["v"]).orderBy("k").collect()
    assert merged == direct


def test_merge_three_way_and_finalize(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 5.0), (1, None), (2, 15.0)], "k int, v double"
    )
    parts = [
        partial_aggs(df.where(F.col("k") == 1), ["k"], ["v"]),
        partial_aggs(df.where((F.col("k") == 2) & (F.col("v") < 10)), ["k"], ["v"]),
        partial_aggs(df.where((F.col("k") == 2) & (F.col("v") >= 10)), ["k"], ["v"]),
    ]
    merged = merge_partials(
        merge_partials(parts[0], parts[1], ["k"], ["v"]), parts[2], ["k"], ["v"]
    )
    out = {r["k"]: r for r in merged.collect()}
    assert out[1]["cnt_v"] == 2 and out[1]["sum_v"] == pytest.approx(30.0)
    assert out[2]["cnt_v"] == 2 and out[2]["sum_v"] == pytest.approx(20.0)
    assert out[2]["min_v"] == 5.0 and out[2]["max_v"] == 15.0


# --------------------------------------------------------------- zorder --


def test_zorder_key_interleaves_bits(spark):
    # d0=0b0011 (3), d1=0b0101 (5) with 4 bits: z bit 2i carries d0's bit i,
    # bit 2i+1 carries d1's bit i → z = 0b100111 = 39
    df = spark.createDataFrame([(3, 5)], "d0 long, d1 long")
    z = df.select(zorder_key(["d0", "d1"], bits=4).alias("z")).first()["z"]
    expected = sum(
        (((3 >> b) & 1) << (2 * b)) | (((5 >> b) & 1) << (2 * b + 1))
        for b in range(4)
    )
    assert z == expected == 39


def test_zorder_sql_matches_column_expr(spark):
    df = spark.range(500).select(
        (F.col("id") % 61).alias("d0"), ((F.col("id") * 7) % 53).alias("d1")
    )
    both = df.select(
        zorder_key(["d0", "d1"], bits=6).alias("z_col"),
        F.expr(zorder_key_sql(["d0", "d1"], bits=6)).alias("z_sql"),
    )
    assert both.where(F.col("z_col") != F.col("z_sql")).count() == 0


def test_zorder_chunks_bound_both_dimensions(spark):
    # after sorting by z, a contiguous chunk of key space spans a bounded
    # square in (d0, d1) — the data-skipping property
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("d0"), ((F.col("id") * 31) % 64).alias("d1")
    )
    z = df.withColumn("z", zorder_key(["d0", "d1"], bits=6))
    spans = (
        z.groupBy(F.floor(F.col("z") / 256).alias("chunk"))
        .agg(
            (F.max("d0") - F.min("d0")).alias("s0"),
            (F.max("d1") - F.min("d1")).alias("s1"),
        )
        .agg(F.max("s0"), F.max("s1"))
        .first()
    )
    # 256 = 2^8 z-values → each dim spans at most 2^4 = 16 values per chunk
    assert spans[0] <= 16 and spans[1] <= 16


# -------------------------------------------------------------- entropy --


def test_char_entropy_known_values(spark):
    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, "x"), (4, ""), (5, "abab")],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in char_entropy(df).collect()}
    assert got[1]["n_bigrams"] == 3 and got[1]["bigram_entropy"] == 0.0
    assert got[2]["n_bigrams"] == 1 and got[2]["bigram_entropy"] == 0.0
    assert got[3]["n_bigrams"] == 0 and got[4]["n_bigrams"] == 0
    # "abab" → [ab, ba, ab]: H = log2(3) - (2*log2(2) + 1*log2(1))/3
    import math

    expected = round(math.log2(3) - 2.0 / 3.0, 6)
    assert got[5]["bigram_entropy"] == pytest.approx(expected)
    assert got[5]["n_distinct_bigrams"] == 2


# -------------------------------------------------------- heavy hitters --


def test_heavy_hitters_exact_and_partitioning_independent(spark):
    # 3 hot items among noise; result must not depend on partition layout
    rows = (
        [("hot1",)] * 300 + [("hot2",)] * 200 + [("hot3",)] * 150
        + [(f"noise{i}",) for i in range(350)]
    )
    df = spark.createDataFrame(rows, "item string")
    expected = {("hot1", 300), ("hot2", 200), ("hot3", 150)}
    for parts in (1, 3, 13):
        got = {
            (r["item"], r["n"])
            for r in heavy_hitters(
                df.repartition(parts), "item", min_frac=0.1,
                candidates_per_partition=16,
            ).collect()
        }
        assert got == expected, f"partitions={parts}"


def test_heavy_hitters_frac_and_threshold_strict(spark):
    df = spark.createDataFrame([("a",)] * 10 + [("b",)] * 90, "item string")
    got = {r["item"]: r for r in heavy_hitters(
        df, "item", min_frac=0.1, candidates_per_partition=16
    ).collect()}
    # a has frac exactly 0.1 → strictly-greater threshold excludes it
    assert set(got) == {"b"}
    assert got["b"]["frac"] == pytest.approx(0.9)


def test_heavy_hitters_rejects_insufficient_candidates(spark):
    df = spark.createDataFrame([("a",)], "item string")
    with pytest.raises(ValueError, match="superset guarantee"):
        heavy_hitters(df, "item", min_frac=0.001, candidates_per_partition=10)


# ------------------------------------------------------- quality audit --


def test_data_quality_audit_detects_injected_violations(spark, tmp_path):
    # clean sf0.001 rows pass (all-zero report is verified by oracle
    # parity); this pins DETECTION: a deliberately dirty drop must surface
    # exact per-rule violation counts
    from py_datalake_move_files_spark.catalog import load_table
    from py_datalake_move_files_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    d = tmp_path / "dirty"
    d.mkdir()
    orders = load_table(spark, sf, "orders")
    dirty_orders = orders.unionAll(
        orders.limit(2).withColumn(  # 2 dup keys, orphan custkeys, bad price
            "o_custkey", F.lit(-999).cast("long")
        ).withColumn("o_totalprice", F.lit(-1.0).cast(dict(orders.dtypes)["o_totalprice"]))
    )
    dirty_orders.write.parquet(str(d / "orders.parquet"))
    load_table(spark, sf, "customer").write.parquet(str(d / "customer.parquet"))
    li = load_table(spark, sf, "lineitem").limit(50)
    dirty_li = li.unionAll(
        li.limit(3).withColumn("l_orderkey", F.lit(-1).cast("long"))
        .withColumn("l_quantity", F.lit(999).cast(dict(li.dtypes)["l_quantity"]))
        .withColumn("l_discount", F.lit(0.9).cast(dict(li.dtypes)["l_discount"]))
    )
    dirty_li.write.parquet(str(d / "lineitem.parquet"))
    ev = load_table(spark, sf, "events").limit(20)
    dirty_ev = ev.unionAll(
        ev.limit(4).withColumn("value", F.lit(-5.0)).withColumn(
            "props", F.lit("not json")
        )
    )
    dirty_ev.write.parquet(str(d / "events.parquet"))
    docs = load_table(spark, sf, "documents").limit(20)
    dirty_docs = docs.unionAll(docs.limit(5).withColumn("text", F.lit("")))
    dirty_docs.write.parquet(str(d / "documents.parquet"))

    rep = {
        r["rule"]: r for r in QUERIES["data_quality_audit"](spark, str(d)).collect()
    }
    assert rep["orders_orphan_custkey"]["n_violations"] == 2
    assert rep["orders_dup_orderkey"]["n_violations"] == 2
    assert rep["orders_nonpositive_totalprice"]["n_violations"] == 2
    assert rep["lineitem_orphan_orderkey"]["n_violations"] == 3
    assert rep["lineitem_quantity_out_of_range"]["n_violations"] == 3
    assert rep["lineitem_discount_out_of_range"]["n_violations"] == 3
    assert rep["events_negative_value"]["n_violations"] == 4
    assert rep["events_malformed_props"]["n_violations"] == 4
    assert rep["documents_empty_text"]["n_violations"] == 5
    assert rep["orders_orphan_custkey"]["n_checked"] == orders.count() + 2
    assert all(r["violation_rate"] is not None for r in rep.values())
