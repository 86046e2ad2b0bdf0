"""Count-min sketch tier (functions/sketches.py): linearity under union,
the never-underestimate guarantee, and the bounded single-exchange plan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from py_datalake_move_files_spark.catalog import load_table

SF = "/root/testdata/sf0.01"


# --- count-min sketch: linearity, guarantee, plan shape -------------------


def _cms_toks(spark):
    docs = load_table(spark, SF, "documents")
    return docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).where(F.col("token") != "")


def test_cms_is_linear_under_union(spark):
    """cells(A ∪ B) == elementwise sum of cells(A) and cells(B) — the
    mergeability that lets per-day cell tables answer any-window
    frequency queries without re-touching the token stream."""
    from py_datalake_move_files_spark.functions.sketches import cms_cells

    toks = _cms_toks(spark)
    half_a = toks.where(F.col("doc_id") % 2 == 0).select("token")
    half_b = toks.where(F.col("doc_id") % 2 == 1).select("token")
    whole = {
        (r["row_j"], r["bucket"]): r["n"]
        for r in cms_cells(toks.select("token"), "token", width=64).collect()
    }
    merged: dict = {}
    for half in (half_a, half_b):
        for r in cms_cells(half, "token", width=64).collect():
            k = (r["row_j"], r["bucket"])
            merged[k] = merged.get(k, 0) + r["n"]
    assert merged == whole


def test_cms_estimate_never_underestimates(spark):
    from py_datalake_move_files_spark.functions.sketches import (
        cms_cells,
        cms_estimate,
    )

    toks = _cms_toks(spark).select("token")
    cells = cms_cells(toks, "token", width=256)
    probes = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("true_n"))
        .orderBy(F.col("true_n").desc(), F.col("token").asc())
        .limit(20)
    )
    rows = cms_estimate(cells, probes, "token", width=256).collect()
    assert len(rows) == 20
    assert all(r["cms_est"] >= r["true_n"] for r in rows)


def test_cms_cells_single_exchange_and_bounded_output(spark):
    from py_datalake_move_files_spark.functions.sketches import cms_cells

    cells = cms_cells(_cms_toks(spark).select("token"), "token", depth=4, width=64)
    plan = cells._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    # partial aggregation must appear below the exchange (map-side combine)
    assert "partial_count" in plan or "HashAggregate" in plan
    assert cells.count() <= 4 * 64
