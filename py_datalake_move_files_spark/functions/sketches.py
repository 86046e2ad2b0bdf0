"""Mergeable count-min sketches: bounded frequency cells, summed at query
time.

A count-min sketch (CMS) turns an unbounded token stream into at most
``depth·width`` cells. Cells are LINEAR (the cells of A∪B are the
elementwise sum of A's and B's), so per-day cell tables answer any-window
frequency estimates later without re-shuffling raw tokens. The cells are
plain md5-bucket counts, so the tier is oracle-checked
(``cms_token_frequencies``, ``cms_join_size_estimate``).

No analogue in the reference (a 565-LoC file mover, app/main.py); part of
the engine's analytics mandate (BASELINE.json north star).
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cms_hash_sql(j_sql: str, item_sql: str, width: int) -> str:
    """Row-``j`` count-min bucket for a string item: first 8 md5 hex chars →
    BIGINT → mod width (the hex→int Spark/DuckDB parity pair). ``j_sql`` and
    ``item_sql`` are SQL string expressions."""
    return (
        f"CAST(conv(substring(md5(concat(CAST({j_sql} AS STRING), ':', "
        f"{item_sql})), 1, 8), 16, 10) AS BIGINT) % {width}"
    )


def cms_cells(
    items: DataFrame,
    item_col: str,
    *,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-min sketch as a DataFrame: ``(row_j, bucket, n)`` — at most
    ``depth·width`` cells regardless of item cardinality.

    The CMS is LINEAR (cells of A∪B = elementwise sum of cells of A and
    cells of B — pinned in tests/test_sketches.py): materialize per-day
    cell tables once, answer any-window frequency estimates later by
    summing a few thousand cell rows instead of re-shuffling the raw token
    stream.
    Point estimate = min over the ``depth`` row buckets; always ≥ the true
    count (hashing collisions only ADD).

    Plan shape: the items are exploded ×depth map-side, but partial
    aggregation collapses each partition to ≤ depth·width rows before the
    ONE shuffle — at 100 TB the exchange moves bounded sketch cells, never
    the token stream. Everything is md5-bucket column math (exact DuckDB
    twin via :func:`cms_hash_sql`)."""
    rows = items.select(
        F.col(item_col).cast("string").alias("__item"),
        F.explode(F.expr(f"sequence(0, {depth - 1})")).alias("row_j"),
    )
    return (
        rows.select(
            "row_j",
            F.expr(cms_hash_sql("row_j", "__item", width)).alias("bucket"),
        )
        .groupBy("row_j", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def cms_estimate(
    cells: DataFrame,
    probes: DataFrame,
    item_col: str,
    *,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-estimate frequencies for a (small) probe set against a CMS
    cell table: each probe joins its ``depth`` buckets and takes the min.
    The cell table is ≤ depth·width rows and broadcast; probe estimation
    never touches the original item stream."""
    pj = probes.withColumn(
        "row_j", F.explode(F.expr(f"sequence(0, {depth - 1})"))
    ).withColumn(
        "bucket",
        F.expr(cms_hash_sql("row_j", f"CAST({item_col} AS STRING)", width)),
    )
    keep = [c for c in probes.columns]
    return (
        pj.join(F.broadcast(cells), ["row_j", "bucket"])
        .groupBy(*keep)
        .agg(F.min("n").cast("long").alias("cms_est"))
    )

