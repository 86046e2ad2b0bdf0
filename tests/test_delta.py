"""Unit tests for operators/delta.py: snapshot diff + upsert preview,
including the self-diff case (both snapshots derived from one DataFrame)
and null-safe change classification."""

from __future__ import annotations

from pyspark.sql import functions as F

from py_datalake_move_files_spark.operators.delta import snapshot_diff, upsert_preview


def _frames(spark):
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, None, 40.0)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b", None), (3, "c", 31.0), (4, "x", 40.0), (5, "e", 50.0)],
        "k int, s string, v double",
    )
    return old, new


def test_snapshot_diff_classifies_all_cases(spark):
    old, new = _frames(spark)
    d = snapshot_diff(old, new, ["k"], ["s", "v"])
    got = {r["k"]: r["diff_status"] for r in d.collect()}
    assert got == {
        1: "removed",
        2: "unchanged",  # NULL v on both sides -> null-safe equal
        3: "changed",
        4: "changed",  # NULL s vs 'x' -> null-safe different
        5: "added",
    }
    row3 = {r["k"]: r for r in d.collect()}[3]
    assert row3["v_old"] == 30.0 and row3["v_new"] == 31.0


def test_snapshot_diff_self_derived_frames(spark):
    """Both snapshots built from the SAME source DataFrame must not trip
    Spark's ambiguous-self-join analysis."""
    base = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    old = base
    new = base.where(F.col("k") % 2 == 0).withColumn(
        "v", F.when(F.col("k") == 4, F.lit(999)).otherwise(F.col("v"))
    )
    d = snapshot_diff(old, new, ["k"], ["v"])
    got = {r["k"]: r["diff_status"] for r in d.collect()}
    assert got[1] == "removed" and got[4] == "changed" and got[0] == "unchanged"
    assert sum(1 for s in got.values() if s == "removed") == 5


def test_upsert_preview_new_wins_old_survives(spark):
    old, new = _frames(spark)
    merged = {r["k"]: (r["s"], r["v"]) for r in
              upsert_preview(old, new, ["k"], ["s", "v"]).collect()}
    assert merged[1] == ("a", 10.0)  # old-only survives
    assert merged[3] == ("c", 31.0)  # new wins
    assert merged[5] == ("e", 50.0)  # insert
    assert len(merged) == 5

