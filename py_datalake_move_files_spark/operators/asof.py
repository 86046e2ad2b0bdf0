"""As-of and range joins — operators Spark lacks natively (SURVEY.md §2.3),
built as compositions of existing DataFrame ops.

as-of join: the classic union + sort + last-non-null-carry-forward plan —
ONE shuffle (hash on key) + ONE sort per side, no inequality join, no
per-key nested loop. This is how you do it at 100 TB: the naive
``l JOIN r ON l.k = r.k AND r.ts <= l.ts`` + row_number explodes on hot keys;
the union plan is linear in rows. One residual hot-key hazard remains: the
window partitions by the join key, so a single key carrying a large share of
BOTH sides serializes into one task's sort. The remedy at scale is
time-range salting — partition by (key, time_bucket) and carry the last
value of the previous bucket forward (a second tiny window over bucket
boundaries) — the same two-phase trick as sessionization; AQE cannot split
a window partition, so this must be done in the plan. Not needed at harness
scale (events keys are uniform); noted for 100 TB deployments.

range join: inequality join against a SMALL interval dimension — broadcast
nested-loop by construction (:func:`range_join`). For big-big interval joins
use :func:`interval_join_bucketed`: both sides keyed by coarse time bucket,
turning the inequality join into an equi join + residual — no nested loop at
any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from py_datalake_move_files_spark.functions.timeutil import ensure_timestamp


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    salt_buckets: int | None = None,
) -> DataFrame:
    """pandas ``merge_asof``-style backward join on Spark: each left row
    gets the latest right row with ``right_ts <= left_ts``. Right payload
    columns come back as ``asof_<name>`` plus ``asof_ts`` when requested;
    left rows with no match get nulls (left-outer semantics). One shuffle +
    one sort per side — no inequality join, no per-key nested loop.

    ``salt_buckets=N`` enables the hot-key remedy from the module header:
    the carry-forward window partitions by (key, time_bucket) — N slices of
    the observed time range — so one dominant key spreads over N tasks
    instead of serializing into one sort. Cross-bucket matches are restored
    by a second, per-(key, bucket)-sized window that carries each bucket's
    last right row into later buckets. Costs one extra tiny shuffle over
    the per-bucket summary (|keys|·N rows) and a 2-scalar min/max action
    to size the buckets; results are identical to the unsalted path. Use
    when one key holds a large share of BOTH sides.
    """
    left = ensure_timestamp(left, left_ts)
    right = ensure_timestamp(right, right_ts)
    rstruct_type = (
        "struct<"
        + ",".join(
            f"{c}:{right.schema[c].dataType.simpleString()}" for c in right_cols
        )
        + f",__rts:{right.schema[right_ts].dataType.simpleString()}>"
    )
    l_tag = left.select(
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
        F.lit(None).cast(rstruct_type).alias("__r"),
    )
    r_tag = right.select(
        F.col(on).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(l_tag.schema["__l"].dataType.simpleString()).alias("__l"),
        F.struct(
            *[F.col(c) for c in right_cols], F.col(right_ts).alias("__rts")
        ).alias("__r"),
    )
    # right rows sort BEFORE left rows at equal ts so a same-timestamp
    # right row is visible to the left row — inclusive bound.
    order = [F.col("__ts").asc(), F.col("__is_left").asc()]
    union = l_tag.unionByName(r_tag)
    if salt_buckets is None:
        w = (
            Window.partitionBy("__k")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        merged = union.withColumn(
            "__match", F.last("__r", ignorenulls=True).over(w)
        )
    else:
        # two-phase salted plan: windows partition by (key, time bucket);
        # cross-bucket carries come from a per-bucket summary ~|keys|·N rows
        bounds = union.agg(
            F.min(F.unix_micros("__ts")).alias("lo"),
            F.max(F.unix_micros("__ts")).alias("hi"),
        ).first()
        lo = bounds.lo or 0
        span = max(1, ((bounds.hi or 0) - lo) // salt_buckets + 1)
        union = union.withColumn(
            "__bucket", F.expr(f"(unix_micros(__ts) - {lo}) div {span}")
        )
        wb = (
            Window.partitionBy("__k", "__bucket")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        # within-bucket carry, exactly the unsalted semantics per slice
        salted = union.withColumn(
            "__match0", F.last("__r", ignorenulls=True).over(wb)
        )
        # each bucket's boundary value: the right row a NEXT bucket would
        # carry in (max_by ignores rows whose ordering key is null, so left
        # rows and right-less buckets contribute nothing)
        summary = union.groupBy("__k", "__bucket").agg(
            F.max_by(
                "__r", F.when(F.col("__is_left") == 0, F.col("__ts"))
            ).alias("__blast")
        )
        wprev = (
            Window.partitionBy("__k")
            .orderBy(F.col("__bucket").asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carry = summary.select(
            "__k",
            "__bucket",
            F.last("__blast", ignorenulls=True).over(wprev).alias("__carry"),
        )
        merged = salted.join(carry, ["__k", "__bucket"], "left").withColumn(
            "__match", F.coalesce(F.col("__match0"), F.col("__carry"))
        )
    return merged.where(F.col("__is_left") == 1).select(
        F.col("__l.*"),
        *[F.col("__match")[c].alias(f"asof_{c}") for c in right_cols],
    )


def range_join(
    facts: DataFrame,
    intervals: DataFrame,
    *,
    point_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Inner-join fact rows to intervals containing them:
    ``start <= point < end``. ``intervals`` is broadcast (small dim) — the
    100 TB path for calendar/bucket dims."""
    iv = F.broadcast(intervals)
    cond = (facts[point_col] >= iv[start_col]) & (facts[point_col] < iv[end_col])
    return facts.join(iv, cond)


def interval_join_bucketed(
    facts: DataFrame,
    intervals: DataFrame,
    *,
    point_col: str,
    start_col: str,
    end_col: str,
    keys: list[str] | None = None,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Big-big inner interval join: ``start <= point < end`` where
    NEITHER side fits in a broadcast (the :func:`range_join` small-dim
    assumption).

    Mechanism: each interval is exploded to every coarse time bucket it
    overlaps; each fact maps to its single bucket; the join is then an
    EQUI join on (keys…, bucket) with the interval condition as a residual
    filter — a hash/sort-merge join at any scale, never a nested loop. A
    matching (fact, interval) pair meets in exactly one bucket (the fact's),
    so no dedup is needed. Shuffle volume: facts once, intervals once times
    their mean bucket span — pick ``bucket_seconds`` ≈ the typical interval
    length so the explode factor stays ~1-2.

    Intervals with ``end <= start`` are dropped (empty by definition — and
    Spark's ``sequence`` would otherwise generate a DESCENDING bucket range).
    """
    keys = list(keys or [])
    micros = int(bucket_seconds) * 1_000_000
    facts = ensure_timestamp(facts, point_col)
    intervals = ensure_timestamp(intervals, start_col, end_col)
    fb = facts.withColumn(
        "__bucket", F.expr(f"unix_micros({point_col}) div {micros}")
    )
    iv = (
        intervals.where(F.col(end_col) > F.col(start_col))
        .withColumn(
            "__bucket",
            F.explode(
                F.sequence(
                    F.expr(f"unix_micros({start_col}) div {micros}"),
                    F.expr(
                        f"unix_micros({end_col} - INTERVAL 1 MICROSECOND) div {micros}"
                    ),
                )
            ),
        )
    )
    joined = fb.join(iv, keys + ["__bucket"]).where(
        (F.col(point_col) >= F.col(start_col)) & (F.col(point_col) < F.col(end_col))
    )
    return joined.drop("__bucket")
