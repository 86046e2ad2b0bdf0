"""Salted as-of join: identical results to the unsalted path on a hot-key
workload, with the carry window partitioned by (key, time_bucket)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from py_datalake_move_files_spark.operators.asof import asof_join

BASE = datetime.datetime(2024, 1, 1)


def _hot_key_frames(spark):
    # one key carries 90% of both sides; a second key checks isolation;
    # a third key has left rows only (carry must stay null)
    lefts, rights = [], []
    for i in range(400):
        lefts.append((1, BASE + datetime.timedelta(minutes=i * 3 + 1)))
    for i in range(200):
        rights.append((1, BASE + datetime.timedelta(minutes=i * 6), f"r1-{i}"))
    for i in range(40):
        lefts.append((2, BASE + datetime.timedelta(minutes=i * 30 + 2)))
        rights.append((2, BASE + datetime.timedelta(minutes=i * 30), f"r2-{i}"))
    lefts.append((3, BASE + datetime.timedelta(hours=5)))
    left = spark.createDataFrame(lefts, "k long, lts timestamp")
    right = spark.createDataFrame(rights, "k long, rts timestamp, payload string")
    return left, right


def test_salted_matches_unsalted(spark):
    left, right = _hot_key_frames(spark)
    kw = dict(on="k", left_ts="lts", right_ts="rts", right_cols=["payload"])
    plain = asof_join(left, right, **kw)
    salted = asof_join(left, right, salt_buckets=8, **kw)
    key = lambda r: (r.k, r.lts, r.asof_payload)  # noqa: E731
    assert sorted(map(key, salted.collect())) == sorted(map(key, plain.collect()))


def test_salted_window_cohorts_are_bounded(spark):
    """The skew proof: per-(key, bucket) window cohorts must be a small
    fraction of the hot key's total rows — i.e. the hot key's sort really
    spreads over ~salt_buckets tasks instead of serializing into one.
    Recomputes the operator's own bucket assignment (global micros span /
    salt_buckets) over the union and bounds the largest cohort."""
    left, right = _hot_key_frames(spark)
    salt = 8
    union = left.select(
        F.col("k"), F.col("lts").alias("ts")
    ).unionByName(right.select(F.col("k"), F.col("rts").alias("ts")))
    lo, hi = union.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    span = max(1, (hi - lo) // salt + 1)
    cohorts = (
        union.withColumn("b", F.expr(f"(unix_micros(ts) - {lo}) div {span}"))
        .groupBy("k", "b")
        .count()
        .collect()
    )
    hot_total = sum(r["count"] for r in cohorts if r.k == 1)
    hot_max = max(r["count"] for r in cohorts if r.k == 1)
    hot_buckets = sum(1 for r in cohorts if r.k == 1)
    assert hot_total == 600
    assert hot_buckets >= salt // 2  # the hot key genuinely spreads out
    assert hot_max <= 2 * hot_total // salt  # no cohort re-concentrates


def test_salted_plan_partitions_by_key_and_bucket(spark):
    left, right = _hot_key_frames(spark)
    salted = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        right_cols=["payload"], salt_buckets=8,
    )
    plan = salted._jdf.queryExecution().executedPlan().toString()
    # the big window runs over (key, bucket) — the hot key is split
    assert "partitionspec=[__k" in plan.replace("#", "").lower() or (
        "__bucket" in plan and "Window" in plan
    )
    assert "__bucket" in plan
