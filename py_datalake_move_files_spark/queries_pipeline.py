"""Pipeline-planning + lake-operations tier (round 8).

Ten queries whose DEVICES the existing families don't cover, each the
kind of planning/auditing pass a 100 TB training-data lake runs daily:

- ``cumulative_distinct_users`` — running COUNT(DISTINCT) rewritten as
  FIRST-TOUCH aggregation: a distinct-over-expanding-window is
  unbounded state at scale, but "count users whose first event is ≤ d"
  is two keyed aggregates + a calendar-bounded running sum. The
  canonical scalable rewrite of the canonical unscalable window.
- ``event_order_violations`` — out-of-order-ingest audit: fraction of
  events per user whose timestamp precedes the running max of earlier
  ingested events (ingest order = event_id). The data-quality gate in
  front of any incremental-ingest watermark choice.
- ``partition_compaction_plan`` — small-partition compaction planning:
  consecutive event-days are binned by a running-row-count prefix sum
  into ~target-row output partitions (the maintenance pass that keeps
  a date-partitioned lake from drowning in small files).
- ``token_budget_waterfill`` — exact water-filling allocation of a
  token budget across (lang, source) pools: sort pools by capacity,
  prefix-sum, closed-form level k* — the fair-share mixture allocator,
  all-integer (window math, no iteration, no floats).
- ``jackknife_mean_quality`` — leave-one-SOURCE-out jackknife of the
  corpus mean document length: per-source influence and pseudo-values
  from ONE pair of integer aggregates (delete-a-group jackknife is
  closed-form — no resampling pass).
- ``markov_two_step_reach`` — two-step transition probabilities of the
  user event chain: P²(a,c) = Σ_b P(a,b)·P(b,c) over the
  |event_type|²-bounded transition matrix; per-b terms are quantized
  to integer micro-units before the order-free sum.
- ``elasticity_by_segment`` — per-market-segment log-log price
  elasticity (ln qty ~ ln price) in closed form from exact integer
  moment sums (the per-group generalization of ``ols_revenue_model``'s
  device; ln terms quantized to micro-units, moments in decimal(38,0)).
- ``simplified_silhouette`` — per-label clustering quality over the
  embeddings: distance to own vs nearest-other label centroid
  ((b−a)/max(a,b), Kaufman's simplified silhouette — linear in N,
  unlike the quadratic full silhouette). Centroids via the fixed-point
  integer device; one broadcast of k rows onto a map-only scan.
- ``ql_dirichlet_retrieval`` — query-likelihood retrieval with
  Dirichlet smoothing (Zhai & Lafferty 2001), the language-model
  complement of ``bm25_doc_retrieval``; same zero-corpus-shuffle shape
  (operators/retrieval.ql_dirichlet_topk).
- ``winnowing_fingerprints`` — MOSS-style winnowing (Schleimer,
  Wilkerson & Aiken 2003): per-document window-minima over rolling
  k-gram hashes select position-robust fingerprints, map-only HOFs
  (zero shuffles at any scale).

Cross-engine exactness uses the established devices: integer counts or
DIV ppm, micro-unit quantization before order-free sums, decimal(38,0)
moment accumulation, double chains shared TEXTUALLY between engines,
round-6 before any cross-engine ranking.

Reference parity note: the reference (a 565-LoC Azure file mover,
app/app.py + app/main.py) has none of this tier; these extend the
LLM-pipeline mandate (SURVEY.md §2 "beyond the reference").
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from py_datalake_move_files_spark.functions.scaling import ensure_parallelism
from py_datalake_move_files_spark.operators.retrieval import (
    ql_dirichlet_topk,
    ql_score_sql,
)
from py_datalake_move_files_spark.oracle_frags import dd_cosine
from py_datalake_move_files_spark.queries import register, _t

# --------------------------------------------------------------------------
# cumulative distinct users — the first-touch rewrite
# --------------------------------------------------------------------------

_CUM_USERS_ORACLE = """
WITH f AS (
  SELECT user_id, min(date_trunc('day', ts)) AS d0 FROM events
  GROUP BY user_id
),
nu AS (SELECT d0 AS d, CAST(count(*) AS BIGINT) AS new_users FROM f GROUP BY d0),
grid AS (SELECT DISTINCT date_trunc('day', ts) AS d FROM events)
SELECT CAST(g.d AS DATE) AS day,
  CAST(coalesce(nu.new_users, 0) AS BIGINT) AS new_users,
  CAST(sum(coalesce(nu.new_users, 0)) OVER (ORDER BY g.d
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS cum_users
FROM grid g LEFT JOIN nu ON nu.d = g.d
"""


@register("cumulative_distinct_users", _CUM_USERS_ORACLE)
def q_cumulative_distinct_users(spark, sf_dir):
    """Running count of distinct users ever seen, per day.

    The naive formulation — COUNT(DISTINCT user_id) OVER (ORDER BY day
    ROWS UNBOUNDED PRECEDING) — buffers the FULL user set per window
    frame and cannot distribute. The rewrite: a user contributes to the
    running count exactly once, on their FIRST day — so aggregate
    min(day) per user (map-side-combinable), count first-touches per
    day, and run one prefix sum over the CALENDAR-bounded daily frame.
    Two shuffles on bounded keys at any corpus size; the window sees
    |days| rows, never |users|."""
    ev = _t(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("d0")
    )
    nu = f.groupBy(F.col("d0").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    grid = ev.select(F.date_trunc("day", F.col("ts")).alias("d")).distinct()
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        grid.join(nu, "d", "left")
        .select("d", F.coalesce("new_users", F.lit(0)).alias("nu"))
        .select(
            F.col("d").cast("date").alias("day"),
            F.col("nu").cast("long").alias("new_users"),
            F.sum("nu").over(w).cast("long").alias("cum_users"),
        )
    )


# --------------------------------------------------------------------------
# out-of-order ingest audit
# --------------------------------------------------------------------------

_ORDER_VIOLATIONS_ORACLE = """
WITH s AS (
  SELECT user_id, ts,
    max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      AS prev_max
  FROM events
),
v AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
    CAST(sum(CASE WHEN prev_max IS NOT NULL AND ts < prev_max
             THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
  FROM s GROUP BY user_id
)
SELECT user_id, n_events, n_violations,
  CAST(n_violations * 1000000 // n_events AS BIGINT) AS violation_ppm
FROM v
"""


@register("event_order_violations", _ORDER_VIOLATIONS_ORACLE)
def q_event_order_violations(spark, sf_dir):
    """Out-of-order-ingest audit per user: how often does an event's
    timestamp precede the running max of PREVIOUSLY-INGESTED events
    (ingest order = the monotone event_id)? This distribution is what
    justifies (or indicts) an incremental-ingest watermark delay —
    violations beyond the chosen watermark are exactly the rows such an
    ingest would drop.

    Scale: one window partitioned by user (hash-shuffle on the natural
    key, frames are per-user event counts) + one keyed count aggregate;
    the violation rate is integer ppm (DIV) — no float anywhere."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s = ev.select(
        "user_id", "ts", F.max("ts").over(w).alias("prev_max")
    )
    v = s.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            F.when(
                F.col("prev_max").isNotNull()
                & (F.col("ts") < F.col("prev_max")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_violations"),
    )
    return v.select(
        "user_id",
        "n_events",
        "n_violations",
        F.expr("CAST(n_violations * 1000000 DIV n_events AS BIGINT)").alias(
            "violation_ppm"
        ),
    )


# --------------------------------------------------------------------------
# small-partition compaction planning
# --------------------------------------------------------------------------

_COMPACT_TARGET = 4096  # rows per output partition — same literal both engines

_COMPACTION_ORACLE = f"""
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY date_trunc('day', ts)
),
b AS (
  SELECT d, cnt,
    CAST(coalesce(sum(cnt) OVER (ORDER BY d
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         // {_COMPACT_TARGET} AS BIGINT) AS bin_id
  FROM daily
)
SELECT bin_id, CAST(count(*) AS BIGINT) AS n_days,
  CAST(min(d) AS DATE) AS day_first, CAST(max(d) AS DATE) AS day_last,
  CAST(sum(cnt) AS BIGINT) AS n_rows
FROM b GROUP BY bin_id
"""


@register("partition_compaction_plan", _COMPACTION_ORACLE)
def q_partition_compaction_plan(spark, sf_dir):
    """Compaction plan for a date-partitioned event lake: group
    CONSECUTIVE days into bins of ~{target} rows (bin = prefix-sum of
    prior days' counts DIV target, so a day never splits and bins stay
    contiguous — rewriting them preserves date-range pruning).

    The maintenance pass every date-partitioned lake needs: low-traffic
    days produce file-per-day dust; this plan feeds the movecopy sink
    (plans/movecopy) exactly like the manifest archive plan does.
    All-integer; the window runs over the CALENDAR-bounded daily frame."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    b = daily.select(
        "d",
        "cnt",
        F.expr(
            f"CAST(coalesce(sum(cnt) OVER (ORDER BY d"
            f" ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
            f" DIV {_COMPACT_TARGET} AS BIGINT)"
        ).alias("bin_id"),
    )
    return b.groupBy("bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.min("d").cast("date").alias("day_first"),
        F.max("d").cast("date").alias("day_last"),
        F.sum("cnt").cast("long").alias("n_rows"),
    )


# --------------------------------------------------------------------------
# water-filling token-budget allocation
# --------------------------------------------------------------------------

_WATERFILL_ORACLE = """
WITH g AS (
  -- unattributed docs (NULL lang/source/text) form no budget pool and
  -- are excluded in both arms (degenerate-lake rule)
  SELECT lang, source,
    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS cap
  FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL AND text IS NOT NULL
  GROUP BY lang, source
),
o AS (
  SELECT lang, source, cap,
    CAST(row_number() OVER (ORDER BY cap, lang, source) AS BIGINT) AS k,
    CAST(sum(cap) OVER (ORDER BY cap, lang, source
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pk,
    CAST(count(*) OVER () AS BIGINT) AS gn,
    CAST(sum(cap) OVER () // 2 AS BIGINT) AS b
  FROM g
),
ks AS (
  SELECT *,
    max(CASE WHEN pk + (gn - k) * cap <= b THEN k ELSE 0 END) OVER ()
      AS kstar,
    max(CASE WHEN pk + (gn - k) * cap <= b THEN pk ELSE 0 END) OVER ()
      AS pkstar
  FROM o
),
lv AS (
  SELECT *, CASE WHEN kstar >= gn THEN cap
    ELSE (b - pkstar) // (gn - kstar) END AS lvl
  FROM ks
)
SELECT lang, source, cap AS cap_tokens,
  CAST(least(cap, lvl) AS BIGINT) AS alloc_tokens,
  cap <= lvl AS fully_funded
FROM lv
"""


@register("token_budget_waterfill", _WATERFILL_ORACLE)
def q_token_budget_waterfill(spark, sf_dir):
    """Water-filling allocation of a token budget (half the corpus)
    across (lang, source) pools: every pool gets min(capacity, level t)
    where t is the unique level that exactly exhausts the budget — the
    max-min-fair mixture allocator (small pools keep everything, big
    pools are clipped to a common level).

    Closed form, no iteration: sort pools by capacity, prefix-sum; a cut
    at level c_k is feasible iff P_k + (g−k)·c_k ≤ B, feasibility is
    prefix-closed on the sorted order, so k* and the level drop out of
    two window maxima and one integer division. The window frame is
    |lang×source| pools — metadata-sized at any corpus scale; the corpus
    itself is touched by one map-side-combined token-count aggregate."""
    docs = _t(spark, sf_dir, "documents")
    # unattributed docs excluded in both arms (see oracle comment)
    g = (
        docs.where(
            F.col("lang").isNotNull()
            & F.col("source").isNotNull()
            & F.col("text").isNotNull()
        )
        .groupBy("lang", "source")
        .agg(
            F.sum(F.size(F.split(F.col("text"), " ")).cast("long"))
            .cast("long")
            .alias("cap")
        )
    )
    wo = Window.orderBy("cap", "lang", "source")
    wall = Window.partitionBy()
    o = g.select(
        "lang",
        "source",
        "cap",
        F.row_number().over(wo).cast("long").alias("k"),
        F.sum("cap").over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("pk"),
        F.count(F.lit(1)).over(wall).cast("long").alias("gn"),
        F.expr("sum(cap) OVER () DIV 2").cast("long").alias("b"),
    )
    ks = o.select(
        "*",
        F.max(
            F.expr("CASE WHEN pk + (gn - k) * cap <= b THEN k ELSE 0 END")
        )
        .over(wall)
        .alias("kstar"),
        F.max(
            F.expr("CASE WHEN pk + (gn - k) * cap <= b THEN pk ELSE 0 END")
        )
        .over(wall)
        .alias("pkstar"),
    )
    lv = ks.withColumn(
        "lvl",
        F.expr(
            "CASE WHEN kstar >= gn THEN cap"
            " ELSE (b - pkstar) DIV (gn - kstar) END"
        ),
    )
    return lv.select(
        "lang",
        "source",
        F.col("cap").alias("cap_tokens"),
        F.least("cap", "lvl").cast("long").alias("alloc_tokens"),
        (F.col("cap") <= F.col("lvl")).alias("fully_funded"),
    )


# --------------------------------------------------------------------------
# delete-a-group jackknife of the corpus mean
# --------------------------------------------------------------------------

_JK_EXPRS = """
  CASE WHEN nn = n THEN NULL
    ELSE round(CAST(tt - t AS DOUBLE) / CAST(nn - n AS DOUBLE), 6) END
    AS loo_mean,
  CASE WHEN nn = n THEN NULL
    ELSE round(CAST(gg AS DOUBLE) * (CAST(tt AS DOUBLE) / CAST(nn AS DOUBLE))
      - (CAST(gg AS DOUBLE) - 1.0)
      * (CAST(tt - t AS DOUBLE) / CAST(nn - n AS DOUBLE)), 6) END
    AS pseudo_value,
  CASE WHEN nn = n THEN NULL
    ELSE CAST(round(1000000 * (CAST(tt AS DOUBLE) / CAST(nn AS DOUBLE)
      - CAST(tt - t AS DOUBLE) / CAST(nn - n AS DOUBLE))) AS BIGINT) END
    AS influence_micro
"""

_JACKKNIFE_ORACLE = f"""
WITH s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(n_chars) AS BIGINT) AS t
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(t) AS BIGINT) AS tt,
    CAST(count(*) AS BIGINT) AS gg
  FROM s
)
SELECT source, n AS n_docs,
  round(CAST(tt AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS mean_all,
  {_JK_EXPRS}
FROM s CROSS JOIN tot
"""


@register("jackknife_mean_quality", _JACKKNIFE_ORACLE)
def q_jackknife_mean_quality(spark, sf_dir):
    """Delete-a-group jackknife of the corpus mean document length, by
    source: each source's leave-it-out mean, pseudo-value, and influence
    on the corpus mean (in micro-chars) — the standard "which source is
    dragging the average" robustness audit, and the building block of
    grouped-jackknife standard errors.

    Closed form from TWO integer aggregates: per-source (n, Σlen) and
    their totals — no resampling pass exists. All doubles derive from
    exact integer sums through a textually-shared chain, NULL-guarded
    for the single-source degenerate case (the ks_source_screen_bh
    convention)."""
    docs = _t(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("t"),
    )
    tot = s.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("t").cast("long").alias("tt"),
        F.count(F.lit(1)).cast("long").alias("gg"),
    )
    return s.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "n AS n_docs",
        "round(CAST(tt AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS mean_all",
        "CASE WHEN nn = n THEN NULL"
        " ELSE round(CAST(tt - t AS DOUBLE) / CAST(nn - n AS DOUBLE), 6) END"
        " AS loo_mean",
        "CASE WHEN nn = n THEN NULL"
        " ELSE round(CAST(gg AS DOUBLE)"
        " * (CAST(tt AS DOUBLE) / CAST(nn AS DOUBLE))"
        " - (CAST(gg AS DOUBLE) - 1.0)"
        " * (CAST(tt - t AS DOUBLE) / CAST(nn - n AS DOUBLE)), 6) END"
        " AS pseudo_value",
        "CASE WHEN nn = n THEN NULL"
        " ELSE CAST(round(1000000 * (CAST(tt AS DOUBLE) / CAST(nn AS DOUBLE)"
        " - CAST(tt - t AS DOUBLE) / CAST(nn - n AS DOUBLE))) AS BIGINT) END"
        " AS influence_micro",
    )


# --------------------------------------------------------------------------
# two-step Markov reachability over the event-type chain
# --------------------------------------------------------------------------

_MARKOV2_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS prev
  FROM events
),
c AS (
  SELECT prev AS a, event_type AS b, CAST(count(*) AS BIGINT) AS cab
  FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type
),
r AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ra FROM c GROUP BY a)
SELECT x.a AS src, y.b AS dst,
  CAST(sum(x.cab * y.cab) AS BIGINT) AS n_paths,
  CAST(sum(CAST(round(1000000.0 * (CAST(x.cab * y.cab AS DOUBLE)
       / CAST(rx.ra * ry.ra AS DOUBLE))) AS BIGINT)) AS BIGINT) AS p2_micro
FROM c x JOIN c y ON x.b = y.a
JOIN r rx ON rx.a = x.a JOIN r ry ON ry.a = y.a
GROUP BY x.a, y.b
"""


@register("markov_two_step_reach", _MARKOV2_ORACLE)
def q_markov_two_step_reach(spark, sf_dir):
    """Two-step transition structure of the user event chain:
    P²(a,c) = Σ_b P(a→b)·P(b→c), reported in integer micro-units, plus
    the raw two-step path count. `event_transition_matrix` gives one
    step; this is the matrix SQUARE — "where do users land two clicks
    from here" — computed on the |event_type|²-bounded count matrix,
    never on the event log.

    Exactness: per-b terms round to micro BEFORE the order-free integer
    sum (the MI device), so no float fold order exists. Scale: one
    per-user window + one keyed count; everything after is joins over
    ≤|event_type|² rows — driver-trivial at any corpus size."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev"),
    ).where(F.col("prev").isNotNull())
    c = seq.groupBy(
        F.col("prev").alias("a"), F.col("event_type").alias("b")
    ).agg(F.count(F.lit(1)).cast("long").alias("cab"))
    r = c.groupBy("a").agg(F.sum("cab").cast("long").alias("ra"))
    x = c.select(
        F.col("a").alias("xa"), F.col("b").alias("xb"),
        F.col("cab").alias("xcab"),
    )
    y = c.select(
        F.col("a").alias("ya"), F.col("b").alias("yb"),
        F.col("cab").alias("ycab"),
    )
    j = (
        x.join(y, F.col("xb") == F.col("ya"))
        .join(
            F.broadcast(r.select(F.col("a").alias("rxa"), F.col("ra").alias("rxra"))),
            F.col("xa") == F.col("rxa"),
        )
        .join(
            F.broadcast(r.select(F.col("a").alias("rya"), F.col("ra").alias("ryra"))),
            F.col("ya") == F.col("rya"),
        )
    )
    return j.groupBy(
        F.col("xa").alias("src"), F.col("yb").alias("dst")
    ).agg(
        F.sum(F.expr("xcab * ycab")).cast("long").alias("n_paths"),
        F.sum(
            F.expr(
                "CAST(round(1000000.0 * (CAST(xcab * ycab AS DOUBLE)"
                " / CAST(rxra * ryra AS DOUBLE))) AS BIGINT)"
            )
        )
        .cast("long")
        .alias("p2_micro"),
    )


# --------------------------------------------------------------------------
# log-log price elasticity per market segment
# --------------------------------------------------------------------------

_ELASTICITY_ORACLE = """
WITH t AS (
  SELECT c.c_mktsegment AS segment,
    CAST(round(1000000 * ln(CAST(round(l.l_extendedprice * 100) AS DOUBLE)))
      AS BIGINT) AS xm,
    CAST(round(1000000 * ln(CAST(l.l_quantity AS DOUBLE))) AS BIGINT) AS ym
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
),
m AS (
  SELECT segment, CAST(count(*) AS DOUBLE) AS nn,
    CAST(sum(xm) AS DOUBLE) AS sx, CAST(sum(ym) AS DOUBLE) AS sy,
    CAST(sum(xm * xm) AS DOUBLE) AS sxx,
    CAST(sum(xm * ym) AS DOUBLE) AS sxy
  FROM t GROUP BY segment
)
SELECT segment, CAST(nn AS BIGINT) AS n_items,
  CASE WHEN nn * sxx - sx * sx = 0 THEN NULL
    ELSE round((nn * sxy - sx * sy) / (nn * sxx - sx * sx), 6) END
    AS elasticity,
  CASE WHEN nn * sxx - sx * sx = 0 THEN NULL
    ELSE round(((sy / nn) - ((nn * sxy - sx * sy) / (nn * sxx - sx * sx))
      * (sx / nn)) / 1000000.0, 6) END AS intercept_ln_qty
FROM m
"""


@register("elasticity_by_segment", _ELASTICITY_ORACLE)
def q_elasticity_by_segment(spark, sf_dir):
    """Log-log price elasticity of quantity per market segment —
    ln(qty) ~ b0 + e·ln(price_cents) — solved per group in closed form
    (the grouped sibling of ``ols_revenue_model``). Elasticity is
    scale-free: quantizing both logs to micro-units multiplies x and y
    by the SAME factor, which cancels in the slope (the intercept is
    de-scaled once at the end).

    Exactness: per-row ln terms round to integer micro-units, the five
    sufficient moments accumulate as decimal(38,0) (Σxm² ≈ 2e14/row —
    exact far past 100 TB), each cast to double once, and the closed
    form is a textually-shared scalar chain. Scale: two broadcast-able
    dimension joins + ONE map-side-combined aggregate per segment."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cu = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    t = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.expr(
                "CAST(round(1000000"
                " * ln(CAST(round(l_extendedprice * 100) AS DOUBLE)))"
                " AS BIGINT)"
            ).alias("xm"),
            F.expr(
                "CAST(round(1000000 * ln(CAST(l_quantity AS DOUBLE)))"
                " AS BIGINT)"
            ).alias("ym"),
        )
    )
    dec = lambda e: F.expr(e).cast("decimal(38,0)")  # noqa: E731
    m = t.groupBy("segment").agg(
        F.count(F.lit(1)).cast("double").alias("nn"),
        F.sum(dec("xm")).cast("double").alias("sx"),
        F.sum(dec("ym")).cast("double").alias("sy"),
        F.sum(dec("xm * xm")).cast("double").alias("sxx"),
        F.sum(dec("xm * ym")).cast("double").alias("sxy"),
    )
    return m.selectExpr(
        "segment",
        "CAST(nn AS BIGINT) AS n_items",
        "CASE WHEN nn * sxx - sx * sx = 0 THEN NULL"
        " ELSE round((nn * sxy - sx * sy) / (nn * sxx - sx * sx), 6) END"
        " AS elasticity",
        "CASE WHEN nn * sxx - sx * sx = 0 THEN NULL"
        " ELSE round(((sy / nn) - ((nn * sxy - sx * sy)"
        " / (nn * sxx - sx * sx)) * (sx / nn)) / 1000000.0, 6) END"
        " AS intercept_ln_qty",
    )


# --------------------------------------------------------------------------
# simplified silhouette per label
# --------------------------------------------------------------------------

_SIL_SCALE = 1_000_000

_SILHOUETTE_ORACLE = f"""
WITH x AS (
  SELECT label, i,
    CAST(round(CAST(embedding[i] AS DOUBLE) * {_SIL_SCALE}) AS BIGINT) AS q
  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
),
s AS (
  SELECT label, i, CAST(sum(q) AS BIGINT) AS sq,
    CAST(count(*) AS BIGINT) AS n
  FROM x GROUP BY label, i
),
c AS (
  SELECT label AS clabel,
    list(CAST(sq AS DOUBLE) / (n * {_SIL_SCALE}.0) ORDER BY i) AS cv
  FROM s GROUP BY label, n
),
p AS (
  SELECT e.vec_id, e.label, c.clabel,
    {dd_cosine('e.embedding', 'c.cv')} AS cos
  FROM embeddings e CROSS JOIN c
),
ab AS (
  SELECT vec_id, label,
    max(CASE WHEN clabel = label THEN cos END) AS own_cos,
    max(CASE WHEN clabel <> label THEN cos END) AS other_cos
  FROM p GROUP BY vec_id, label
),
sil AS (
  SELECT vec_id, label,
    CASE WHEN greatest(1.0 - own_cos, 1.0 - other_cos) = 0 THEN NULL
      ELSE CAST(round({_SIL_SCALE} * (((1.0 - other_cos) - (1.0 - own_cos))
        / greatest(1.0 - own_cos, 1.0 - other_cos))) AS BIGINT) END
      AS s_micro
  FROM ab
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
  round(CAST(sum(s_micro) AS DOUBLE) / (count(*) * {_SIL_SCALE}.0), 6)
    AS mean_silhouette,
  CAST(sum(CASE WHEN s_micro < 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_negative
FROM sil GROUP BY label
"""


@register("simplified_silhouette", _SILHOUETTE_ORACLE)
def q_simplified_silhouette(spark, sf_dir):
    """Simplified silhouette per label over the embeddings: for each
    vector, cosine distance to its OWN label centroid (a) vs the nearest
    OTHER centroid (b); s = (b−a)/max(a,b); report per-label mean and
    the count of negatives (vectors closer to a foreign class — the
    mislabel/entanglement signal). Kaufman's simplified variant is
    LINEAR in N (point-to-centroid), unlike the quadratic point-to-point
    silhouette — the only version that exists at 100 TB.

    Devices: centroids from fixed-point integer sums (the
    label_centroid_similarity device); k centroid rows broadcast onto a
    map-only scoring scan (norms precomputed per row, never per pair);
    per-point s quantized to micro BEFORE the per-label integer mean."""
    from py_datalake_move_files_spark.operators.similarity import dot, norm

    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "label", F.posexplode("embedding").alias("i", "v")
    ).select(
        "label",
        "i",
        F.round(F.col("v").cast("double") * _SIL_SCALE).cast("long").alias("q"),
    )
    s = x.groupBy("label", "i").agg(
        F.sum("q").cast("long").alias("sq"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    c = (
        s.groupBy("label", "n")
        .agg(F.array_sort(F.collect_list(F.struct("i", "sq"))).alias("__ord"))
        .select(
            F.col("label").alias("clabel"),
            F.expr(
                f"transform(__ord, ce -> CAST(ce.sq AS DOUBLE)"
                f" / (n * {_SIL_SCALE}.0))"
            ).alias("cv"),
        )
        .withColumn("cnorm", norm("cv"))
    )
    pts = emb.withColumn("enorm", norm("embedding"))
    p = pts.crossJoin(F.broadcast(c)).select(
        "vec_id",
        "label",
        "clabel",
        F.round(
            dot("embedding", "cv") / (F.col("enorm") * F.col("cnorm")), 6
        ).alias("cos"),
    )
    ab = p.groupBy("vec_id", "label").agg(
        F.max(F.expr("CASE WHEN clabel = label THEN cos END")).alias(
            "own_cos"
        ),
        F.max(F.expr("CASE WHEN clabel <> label THEN cos END")).alias(
            "other_cos"
        ),
    )
    sil = ab.select(
        "label",
        F.expr(
            f"CASE WHEN greatest(1.0 - own_cos, 1.0 - other_cos) = 0"
            f" THEN NULL"
            f" ELSE CAST(round({_SIL_SCALE} * (((1.0 - other_cos)"
            f" - (1.0 - own_cos))"
            f" / greatest(1.0 - own_cos, 1.0 - other_cos))) AS BIGINT) END"
        ).alias("s_micro"),
    )
    return sil.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.round(
            F.sum("s_micro").cast("double")
            / (F.count(F.lit(1)) * F.lit(float(_SIL_SCALE))),
            6,
        ).alias("mean_silhouette"),
        F.sum(F.expr("CASE WHEN s_micro < 0 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_negative"),
    )


# --------------------------------------------------------------------------
# query-likelihood retrieval (Dirichlet smoothing)
# --------------------------------------------------------------------------

QL_TERMS = ("spark", "merge", "vector")
QL_TOPK = 10

_QL_STATS_DD = ", ".join(
    f"CAST(sum(len(list_filter(string_split(text, ' '), qlt{i} ->"
    f" qlt{i} = '{t}'))) AS BIGINT) AS cf{i}"
    for i, t in enumerate(QL_TERMS)
)

_QL_TF_DD = ", ".join(
    f"CAST(len(list_filter(string_split(text, ' '), qld{i} ->"
    f" qld{i} = '{t}')) AS BIGINT) AS tf{i}"
    for i, t in enumerate(QL_TERMS)
)

_QL_ORACLE = f"""
WITH stats AS (
  SELECT CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS coll_tokens,
    {_QL_STATS_DD}
  FROM documents
),
perdoc AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
    {_QL_TF_DD}
  FROM documents
),
scored AS (
  SELECT d.doc_id, {ql_score_sql(len(QL_TERMS))} AS score
  FROM perdoc d CROSS JOIN stats
),
r AS (
  SELECT doc_id, score,
    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
  FROM scored
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, score, CAST(rn AS INT) AS rnk
FROM r WHERE rn <= {QL_TOPK}
"""


@register("ql_dirichlet_retrieval", _QL_ORACLE)
def q_ql_dirichlet_retrieval(spark, sf_dir):
    """Query-likelihood top-k retrieval with Dirichlet smoothing (Zhai &
    Lafferty 2001) for the same fixed query as ``bm25_doc_retrieval`` —
    the language-model ranking function; RRF-fusing the two is the
    classic lexical hybrid.

    Same 100 TB shape as BM25: ONE single-row stats aggregate (total
    collection tokens + per-term collection frequency) broadcast onto a
    map-only scoring scan; TakeOrderedAndProject top-k; the corpus never
    shuffles. Scores are a textually-shared ln chain rounded to 6 dp
    BEFORE ranking (operators/retrieval.ql_score_sql)."""
    return ql_dirichlet_topk(
        _t(spark, sf_dir, "documents"), QL_TERMS, k=QL_TOPK
    )


# --------------------------------------------------------------------------
# MOSS winnowing fingerprints
# --------------------------------------------------------------------------

_WIN_K = 3  # tokens per k-gram
_WIN_W = 4  # k-grams per winnowing window

_WINNOW_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
),
g AS (
  SELECT doc_id,
    CASE WHEN len(toks) < {_WIN_K} THEN [text]
      ELSE list_transform(range(1, len(toks) - {_WIN_K - 2}),
        i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) END
      AS grams
  FROM t
),
h AS (
  SELECT doc_id,
    list_transform(grams,
      wg -> ('0x' || substr(md5(wg), 1, 12))::BIGINT) AS gh
  FROM g
),
w AS (
  SELECT doc_id, gh,
    CASE WHEN len(gh) <= {_WIN_W} THEN [list_min(gh)]
      ELSE list_transform(range(1, len(gh) - {_WIN_W - 2}),
        i -> list_min(gh[i:i + {_WIN_W - 1}])) END AS sel
  FROM h
),
f AS (SELECT doc_id, gh, list_distinct(sel) AS fps FROM w)
SELECT doc_id, CAST(len(gh) AS BIGINT) AS n_grams,
  CAST(len(fps) AS BIGINT) AS n_fps,
  CAST(list_aggregate(fps, 'sum') AS BIGINT) AS fp_checksum,
  CAST(list_min(fps) AS BIGINT) AS min_fp
FROM f
"""


@register("winnowing_fingerprints", _WINNOW_ORACLE)
def q_winnowing_fingerprints(spark, sf_dir):
    """MOSS winnowing (Schleimer, Wilkerson & Aiken 2003): hash every
    {k}-token gram, slide a {w}-gram window, keep each window's MINIMUM
    hash — the selected fingerprints are guaranteed to include at least
    one hash from every {w}-gram span, so any sufficiently long shared
    passage between two documents shares a fingerprint REGARDLESS of
    position. The position-robust complement of `doc_fingerprint`'s
    single rolling hash; fingerprint equi-joins are how MOSS finds
    plagiarized spans.

    Shape: pure per-row HOF pipeline — tokens → grams → 48-bit md5-hex
    hashes → window minima → distinct — ZERO shuffles at any scale.
    Shared arrays materialize as real columns first (the round-2 HOF
    CSE gotcha); small docs are CASE-guarded INSIDE each column
    expression so no descending `sequence` is ever materialized.
    Outputs are order-free per-doc aggregates (count, integer sum, min),
    so the engines' differing distinct-order cannot desynchronize."""
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    t = docs.select("doc_id", "text", F.split("text", " ").alias("__toks"))
    g = t.select(
        "doc_id",
        F.expr(
            f"CASE WHEN size(__toks) < {_WIN_K} THEN array(text)"
            f" ELSE transform(sequence(0, size(__toks) - {_WIN_K}),"
            f" i -> concat_ws(' ', __toks[i], __toks[i + 1], __toks[i + 2]))"
            f" END"
        ).alias("__grams"),
    )
    h = g.select(
        "doc_id",
        F.expr(
            "transform(__grams, wg ->"
            " CAST(conv(substring(md5(wg), 1, 12), 16, 10) AS BIGINT))"
        ).alias("__gh"),
    )
    w = h.select(
        "doc_id",
        "__gh",
        F.expr(
            f"CASE WHEN size(__gh) <= {_WIN_W} THEN array(array_min(__gh))"
            f" ELSE transform(sequence(0, size(__gh) - {_WIN_W}),"
            f" i -> array_min(slice(__gh, i + 1, {_WIN_W}))) END"
        ).alias("__sel"),
    )
    f = w.select(
        "doc_id", "__gh", F.array_distinct("__sel").alias("__fps")
    )
    return f.select(
        "doc_id",
        F.size("__gh").cast("long").alias("n_grams"),
        F.size("__fps").cast("long").alias("n_fps"),
        F.expr(
            "aggregate(__fps, CAST(0 AS BIGINT), (acc, fp) -> acc + fp)"
        )
        .cast("long")
        .alias("fp_checksum"),
        F.array_min("__fps").cast("long").alias("min_fp"),
    )


# --------------------------------------------------------------------------
# MMR diverse re-ranking over the BM25 candidates
# --------------------------------------------------------------------------

MMR_LAMBDA = 0.7
MMR_K = 10
MMR_CANDIDATES = 20
_MMR_TERMS = ("spark", "merge", "vector")  # the BM25/QL fixed query


#: the greedy objective — ONE text: Spark F.expr and the DuckDB chain use
#: it verbatim, so the double arithmetic cannot diverge
_MMR_OBJECTIVE = (
    f"round({MMR_LAMBDA} * rel - {round(1 - MMR_LAMBDA, 10)}"
    " * (ms / 1000000.0), 6)"
)


def _mmr_chain_sql(k: int) -> str:
    """The UNROLLED greedy MMR chain for the DUCKDB oracle (DuckDB
    materializes multiply-referenced CTEs, so the chain stays linear;
    Spark INLINES CTEs at analysis, which makes this same text grow
    3^k subtrees and OOM the driver — the Spark side therefore runs the
    identical greedy as a k-step DataFrame loop with per-step lineage
    cuts instead, sharing ``_MMR_OBJECTIVE`` textually).
    Expects two tables in scope: ``cand(doc_id, rel)`` (top-C candidates,
    rel = round-6 BM25) and ``sim(a, b, j_ppm)`` (every ordered candidate
    pair's token-Jaccard in integer ppm). Step i picks the argmax of
    λ·rel − (1−λ)·max-sim-to-selected with a doc_id tie-break."""
    # every sel{i} is MATERIALIZED (the knn_hop_histogram oracle device):
    # each step references the previous selection THREE times (IN, NOT IN,
    # UNION ALL), so without materialization DuckDB inlines the chain into
    # a 3^k-subtree expression that re-opens the parquet per leaf
    parts = [
        "WITH pick1 AS (SELECT doc_id, rel AS mmr_score FROM cand"
        " ORDER BY rel DESC, doc_id LIMIT 1),",
        "sel1 AS MATERIALIZED (SELECT doc_id, mmr_score, 1 AS rnk FROM pick1)",
    ]
    for i in range(2, k + 1):
        prev = f"sel{i - 1}"
        parts.append(
            f", scored{i} AS ("
            f" SELECT c.doc_id, c.rel, max(s.j_ppm) AS ms"
            f" FROM cand c JOIN sim s ON s.a = c.doc_id"
            f" AND s.b IN (SELECT doc_id FROM {prev})"
            f" WHERE c.doc_id NOT IN (SELECT doc_id FROM {prev})"
            f" GROUP BY c.doc_id, c.rel)"
            f", pick{i} AS (SELECT doc_id,"
            f" {_MMR_OBJECTIVE} AS mmr_score"
            f" FROM scored{i} ORDER BY mmr_score DESC, doc_id LIMIT 1)"
            f", sel{i} AS MATERIALIZED (SELECT * FROM sel{i - 1} UNION ALL"
            f" SELECT doc_id, mmr_score, {i} AS rnk FROM pick{i})"
        )
    parts.append(
        f" SELECT CAST(doc_id AS BIGINT) AS doc_id, mmr_score,"
        f" CAST(rnk AS INT) AS rnk FROM sel{k}"
    )
    return "\n".join(parts)


def _bm25_cand_oracle(limit: int = MMR_CANDIDATES) -> str:
    """DuckDB top-C BM25 candidates — regenerated locally from the leaf
    operators/retrieval fragments (entry modules must not import each
    other's preludes; tests/test_imports.py pins the rule)."""
    from py_datalake_move_files_spark.operators.retrieval import bm25_score_sql

    stats = ", ".join(
        f"CAST(sum(CASE WHEN list_contains(string_split(text, ' '), '{t}')"
        f" THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i, t in enumerate(_MMR_TERMS)
    )
    tf = ", ".join(
        f"CAST(len(list_filter(string_split(text, ' '), mmt{i} ->"
        f" mmt{i} = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(_MMR_TERMS)
    )
    return f"""
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
      / CAST(count(*) AS DOUBLE) AS avgdl,
    {stats}
  FROM documents
),
perdoc AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl, {tf}
  FROM documents
),
cand AS MATERIALIZED (
  SELECT doc_id, {bm25_score_sql(len(_MMR_TERMS))} AS rel
  FROM perdoc CROSS JOIN stats
  ORDER BY rel DESC, doc_id LIMIT {limit}
),
toks AS MATERIALIZED (
  SELECT d.doc_id, list_distinct(string_split(d.text, ' ')) AS ts
  FROM documents d JOIN cand c ON d.doc_id = c.doc_id
),
sim AS MATERIALIZED (
  SELECT a.doc_id AS a, b.doc_id AS b,
    CAST(len(list_intersect(a.ts, b.ts)) * 1000000
      // len(list_distinct(list_concat(a.ts, b.ts))) AS BIGINT) AS j_ppm
  FROM toks a JOIN toks b ON a.doc_id <> b.doc_id
)
"""


_MMR_ORACLE = (
    "WITH "
    + _bm25_cand_oracle().strip()
    + ",\n"
    + _mmr_chain_sql(MMR_K).removeprefix("WITH ")
)


@register("mmr_rerank_retrieval", _MMR_ORACLE)
def q_mmr_rerank_retrieval(spark, sf_dir):
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    greedily select k={k} of the top-{c} BM25 candidates maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-selected — the
    diversity-aware final stage of a retrieval pipeline (near-duplicate
    hits waste context-window slots; MMR spends them on NEW information).

    Exactness: relevance is the round-6 BM25 chain; pair similarity is
    integer token-Jaccard ppm; each greedy step's objective is the ONE
    shared double expression ``_MMR_OBJECTIVE`` with a doc_id tie-break.
    The oracle runs the greedy as an unrolled CTE chain; Spark runs the
    IDENTICAL greedy as a k-step loop over the ≤C-row frames with a
    lineage cut per step (Spark inlines CTEs at analysis, so the chained
    text grows 3^k subtrees there — the loop is the same algorithm with
    a linear plan).

    100 TB shape: the corpus is touched twice (one zero-shuffle BM25
    scoring scan → TakeOrderedAndProject top-C; one broadcast semi join
    to fetch C candidate token sets); everything after — the C² sim
    pairs and k argmax steps — runs on ≤C-row frames, constant work at
    any corpus size."""
    from py_datalake_move_files_spark.operators.retrieval import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    cand = bm25_topk(docs, _MMR_TERMS, k=MMR_CANDIDATES).select(
        "doc_id", F.col("score").alias("rel")
    )
    toks = (
        docs.join(F.broadcast(cand.select("doc_id")), "doc_id")
        .select(
            "doc_id",
            F.array_distinct(F.split("text", " ")).alias("ts"),
        )
    )
    ta = toks.select(F.col("doc_id").alias("a"), F.col("ts").alias("tsa"))
    tb = toks.select(F.col("doc_id").alias("b"), F.col("ts").alias("tsb"))
    sim = (
        ta.crossJoin(F.broadcast(tb))
        .where(F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            F.expr(
                "CAST(size(array_intersect(tsa, tsb)) * 1000000"
                " DIV size(array_distinct(concat(tsa, tsb))) AS BIGINT)"
            ).alias("j_ppm"),
        )
        .localCheckpoint(eager=True)  # C² tiny rows; cut so each greedy
        # step reuses them instead of re-deriving the BM25 scan per step
    )
    cand = cand.localCheckpoint(eager=True)
    sel = (
        cand.orderBy(F.col("rel").desc(), F.col("doc_id"))
        .limit(1)
        .select(
            "doc_id",
            F.col("rel").alias("mmr_score"),
            F.lit(1).alias("rnk"),
        )
        .localCheckpoint(eager=True)
    )
    for i in range(2, MMR_K + 1):
        picked = sel.select("doc_id")
        scored = (
            cand.join(picked, "doc_id", "left_anti")
            .join(
                sim.join(
                    F.broadcast(picked.withColumnRenamed("doc_id", "b")), "b"
                )
                .groupBy(F.col("a").alias("doc_id"))
                .agg(F.max("j_ppm").alias("ms")),
                "doc_id",
            )
        )
        pick = (
            scored.select(
                "doc_id", F.expr(_MMR_OBJECTIVE).alias("mmr_score")
            )
            .orderBy(F.col("mmr_score").desc(), F.col("doc_id"))
            .limit(1)
            .select("doc_id", "mmr_score", F.lit(i).alias("rnk"))
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=True)
    return sel.select(
        F.col("doc_id").cast("long"),
        "mmr_score",
        F.col("rnk").cast("int"),
    )


# --------------------------------------------------------------------------
# rendezvous (highest-random-weight) sharding
# --------------------------------------------------------------------------

N_SHARDS = 8

_HRW_ORACLE = f"""
WITH h AS (
  SELECT doc_id,
    list_transform(range(0, {N_SHARDS}),
      s -> md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)))
      AS hs
  FROM documents
)
SELECT doc_id,
  CAST(list_position(hs, list_max(hs)) - 1 AS INT) AS shard
FROM h
"""


@register("consistent_hash_shards", _HRW_ORACLE)
def q_consistent_hash_shards(spark, sf_dir):
    """Rendezvous / highest-random-weight sharding (Thaler & Ravishankar
    1996): every document goes to the shard with the LARGEST
    md5(doc_id:shard) weight. The minimal-disruption property — removing
    a shard moves ONLY that shard's documents (each survivor keeps its
    argmax), unlike mod-N where ~(N−1)/N of ALL keys move — is what a
    growing shard fleet needs, and is pinned by a drop-one test.

    Pure per-row column math (one N_SHARDS-element HOF per row), zero
    shuffles at any scale; md5 hex strings compare identically
    (lexicographic ASCII) in both engines, ties impossible."""
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    return docs.withColumn(
        "__hrw",
        F.expr(
            f"transform(sequence(0, {N_SHARDS - 1}), s ->"
            " md5(concat(CAST(doc_id AS STRING), ':',"
            " CAST(s AS STRING))))"
        ),
    ).select(
        "doc_id",
        F.expr(
            "CAST(array_position(__hrw, array_max(__hrw)) - 1 AS INT)"
        ).alias("shard"),
    )


# --------------------------------------------------------------------------
# cross-source quantile normalization
# --------------------------------------------------------------------------

_QNORM_ORACLE = """
WITH sh AS (
  SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY source, n_chars
),
scum AS (
  SELECT source, v, c,
    CAST(sum(c) OVER (PARTITION BY source ORDER BY v
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS BIGINT)
      AS below,
    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS ns
  FROM sh
),
ranked AS (
  SELECT d.doc_id, d.source, d.n_chars,
    s.below + CAST(row_number() OVER (PARTITION BY d.source, d.n_chars
         ORDER BY d.doc_id) AS BIGINT) AS rn,
    s.ns,
    CAST((SELECT count(*) FROM documents) AS BIGINT) AS nn
  FROM documents d JOIN scum s ON d.source = s.source AND d.n_chars = s.v
),
hist AS (
  SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS c FROM documents
  GROUP BY n_chars
),
cum AS (
  SELECT v, c, CAST(sum(c) OVER (ORDER BY v
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc
  FROM hist
),
tgt AS (
  SELECT doc_id, source, n_chars,
    (rn * nn + ns - 1) // ns AS idx
  FROM ranked
)
SELECT t.doc_id, t.source, t.n_chars,
  CAST(c.v AS BIGINT) AS norm_chars
FROM tgt t JOIN cum c ON c.cc - c.c < t.idx AND t.idx <= c.cc
"""


@register("quantile_normalize_lengths", _QNORM_ORACLE)
def q_quantile_normalize_lengths(spark, sf_dir):
    """Cross-source quantile normalization of document lengths — map each
    document's WITHIN-SOURCE rank onto the POOLED length distribution at
    the same relative rank (nearest-rank, ceil((rn·N)/ns) in pure
    integers). The batch-effect corrector: after it, every source has the
    same length distribution, so a length-based quality gate cannot
    systematically starve one source.

    Scale devices: the within-source rank is NOT one
    row_number-per-source window (one reducer per source = giant-
    partition skew when a source owns half the corpus) — it decomposes
    into a per-(source, length) COUNT histogram (map-side combined),
    a per-source cumulative over the DOMAIN-BOUNDED length frame, and a
    row_number only WITHIN each (source, length) tie group (fine-grained
    keys). The pooled distribution is likewise a domain-bounded
    cumulative histogram, and the rank→value lookup is a broadcast range
    join of each doc's target index into that tiny histogram — no
    corpus-sized sort or single-reducer window anywhere."""
    docs = _t(spark, sf_dir, "documents")
    sh = docs.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wsv = Window.partitionBy("source").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    scum = sh.select(
        "source",
        "v",
        (F.sum("c").over(wsv) - F.col("c")).cast("long").alias("below"),
        F.sum("c").over(Window.partitionBy("source")).cast("long").alias("ns"),
    )
    nn = docs.agg(F.count(F.lit(1)).cast("long").alias("nn"))
    wtie = Window.partitionBy("source", "n_chars").orderBy("doc_id")
    ranked = (
        docs.join(
            F.broadcast(scum),
            (docs.source == scum.source) & (docs.n_chars == scum.v),
        )
        .drop(scum.source)
        .crossJoin(F.broadcast(nn))
        .select(
            "doc_id",
            "source",
            "n_chars",
            (F.col("below") + F.row_number().over(wtie).cast("long")).alias(
                "rn"
            ),
            "ns",
            "nn",
        )
    )
    hist = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cum = hist.select(
        "v",
        "c",
        F.sum("c")
        .over(
            Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("long")
        .alias("cc"),
    )
    tgt = ranked.select(
        "doc_id",
        "source",
        "n_chars",
        F.expr("(rn * nn + ns - 1) DIV ns").alias("idx"),
    )
    return tgt.join(
        F.broadcast(cum),
        (F.col("cc") - F.col("c") < F.col("idx"))
        & (F.col("idx") <= F.col("cc")),
    ).select(
        "doc_id",
        "source",
        "n_chars",
        F.col("v").cast("long").alias("norm_chars"),
    )


# --------------------------------------------------------------------------
# pseudo-relevance-feedback query expansion (RM1-lite)
# --------------------------------------------------------------------------

PRF_FEEDBACK_DOCS = 5
PRF_TOPK = 10

_PRF_ORACLE = (
    "WITH "
    + _bm25_cand_oracle(PRF_FEEDBACK_DOCS).strip()
    + f""",
tok AS (
  SELECT d.doc_id, len(string_split(d.text, ' ')) AS dl,
    unnest(string_split(d.text, ' ')) AS token
  FROM documents d JOIN cand c ON d.doc_id = c.doc_id
),
tfd AS (
  SELECT token, doc_id, CAST(any_value(dl) AS BIGINT) AS dl,
    CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE token <> '' GROUP BY token, doc_id
),
w AS (
  SELECT token,
    CAST(sum(CAST(round(1000000.0 * (CAST(tf AS DOUBLE)
         / CAST(dl AS DOUBLE))) AS BIGINT)) AS BIGINT) AS weight_micro
  FROM tfd
  WHERE token NOT IN ('{"', '".join(_MMR_TERMS)}')
  GROUP BY token
),
r AS (
  SELECT token, weight_micro,
    row_number() OVER (ORDER BY weight_micro DESC, token) AS rn
  FROM w
)
SELECT token, weight_micro, CAST(rn AS INT) AS rnk
FROM r WHERE rn <= {PRF_TOPK}
"""
)


@register("prf_query_expansion", _PRF_ORACLE)
def q_prf_query_expansion(spark, sf_dir):
    """Pseudo-relevance-feedback query expansion (RM1-lite, Lavrenko &
    Croft 2001): take the BM25 top-{n} documents for the fixed query,
    weight every term by Σ tf/dl over those feedback docs, and return the
    top-{k} NEW terms (original query terms excluded) — the classic
    automatic query-expansion stage between first-pass retrieval and
    re-ranking.

    Exactness: per-(term, doc) tf/dl quantizes to integer micro-units
    BEFORE the order-free per-term sum; ranking breaks ties on the term.
    Scale: one zero-shuffle BM25 scan → TakeOrderedAndProject top-{n};
    everything after runs on the ≤{n}-doc token multiset (thousands of
    rows), so the expansion stage is constant work at any corpus size."""
    from py_datalake_move_files_spark.operators.retrieval import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    cand = bm25_topk(docs, _MMR_TERMS, k=PRF_FEEDBACK_DOCS).select("doc_id")
    fb = docs.join(F.broadcast(cand), "doc_id").select(
        "doc_id", F.split("text", " ").alias("__toks")
    )
    tok = fb.select(
        "doc_id",
        F.size("__toks").cast("long").alias("dl"),
        F.explode("__toks").alias("token"),
    ).where(F.col("token") != "")
    tfd = tok.groupBy("token", "doc_id").agg(
        F.max("dl").cast("long").alias("dl"),
        F.count(F.lit(1)).cast("long").alias("tf"),
    )
    terms_list = ", ".join(f"'{t}'" for t in _MMR_TERMS)
    w = (
        tfd.where(F.expr(f"token NOT IN ({terms_list})"))
        .groupBy("token")
        .agg(
            F.sum(
                F.expr(
                    "CAST(round(1000000.0 * (CAST(tf AS DOUBLE)"
                    " / CAST(dl AS DOUBLE))) AS BIGINT)"
                )
            )
            .cast("long")
            .alias("weight_micro")
        )
    )
    wr = Window.orderBy(F.col("weight_micro").desc(), F.col("token"))
    top = w.orderBy(F.col("weight_micro").desc(), F.col("token")).limit(
        PRF_TOPK
    )
    return top.withColumn("rnk", F.row_number().over(wr).cast("int")).select(
        "token", "weight_micro", "rnk"
    )


# --------------------------------------------------------------------------
# seasonal-naive forecast backtest
# --------------------------------------------------------------------------

_SNAIVE_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY date_trunc('day', ts)
),
scored AS (
  SELECT a.d, a.cnt AS actual, b.cnt AS predicted,
    abs(a.cnt - b.cnt) AS ae
  FROM daily a JOIN daily b ON a.d = b.d + INTERVAL 7 DAY
)
SELECT
  CAST(((datediff('day', DATE '2024-01-01', d) % 7) + 7) % 7 AS INT)
    AS dow_idx,
  CAST(count(*) AS BIGINT) AS n_days,
  CAST(sum(actual) AS BIGINT) AS total_actual,
  CAST(sum(ae) AS BIGINT) AS total_abs_err,
  CAST(sum(ae) * 1000000 // sum(actual) AS BIGINT) AS wape_ppm
FROM scored GROUP BY 1
"""


@register("seasonal_naive_backtest", _SNAIVE_ORACLE)
def q_seasonal_naive_backtest(spark, sf_dir):
    """Backtest of the seasonal-naive forecaster (predict today = same
    weekday last week) over the daily event counts, reporting per-weekday
    WAPE in integer ppm — the baseline every capacity-planning forecast
    must beat, and the honest denominator-weighted error (plain MAPE
    explodes on near-zero days).

    All-integer: daily counts, a self equi-join on d = d−7 (the
    calendar-bounded daily frame joins itself — never events), absolute
    integer errors, WAPE via integer DIV. The weekday index derives from
    an epoch-anchored day difference mod 7, identical in both engines
    (dayofweek() conventions differ: Spark 1=Sunday, DuckDB 0=Sunday)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    a = daily.select(F.col("d"), F.col("cnt").alias("actual"))
    b = daily.select(
        F.expr("d + INTERVAL 7 DAY").alias("d"),
        F.col("cnt").alias("predicted"),
    )
    scored = a.join(b, "d").select(
        "d",
        "actual",
        "predicted",
        F.abs(F.col("actual") - F.col("predicted")).alias("ae"),
    )
    return scored.groupBy(
        F.expr(
            "CAST(((datediff(d, DATE '2024-01-01') % 7) + 7) % 7 AS INT)"
        ).alias("dow_idx")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("actual").cast("long").alias("total_actual"),
        F.sum("ae").cast("long").alias("total_abs_err"),
        F.expr(
            "CAST(sum(ae) * 1000000 DIV sum(actual) AS BIGINT)"
        ).alias("wape_ppm"),
    )


# --------------------------------------------------------------------------
# Flesch reading-ease readability scores
# --------------------------------------------------------------------------

#: one shared double chain — identical text in both engines
_FLESCH_EXPR = (
    "round(206.835 - 1.015 * (CAST(n_words AS DOUBLE)"
    " / CAST(n_sentences AS DOUBLE))"
    " - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 4)"
)

_READABILITY_ORACLE = f"""
WITH m AS (
  SELECT doc_id,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
    CAST(greatest(1, length(text) - length(replace(text, '.', '')))
      AS BIGINT) AS n_sentences,
    CAST(greatest(1, len(regexp_extract_all(text, '[aeiouyAEIOUY]+')))
      AS BIGINT) AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
  {_FLESCH_EXPR} AS flesch
FROM m
"""


@register("readability_scores", _READABILITY_ORACLE)
def q_readability_scores(spark, sf_dir):
    """Flesch reading-ease per document (Flesch 1948 — the standard
    readability screen in corpus curation: very low scores flag
    boilerplate/legalese, impossibly high scores flag token soup).
    Syllables are approximated by VOWEL-GROUP counts (the standard
    dictionary-free heuristic; spaces break groups, so one whole-text
    regexp count equals the per-word sum), sentences by period count.

    Pure per-row column math — integers (word/sentence/syllable counts,
    greatest-1 guarded) into ONE shared double chain rounded to 4 dp;
    zero shuffles at any scale."""
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    m = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
        F.expr(
            "CAST(greatest(1, length(text)"
            " - length(replace(text, '.', ''))) AS BIGINT)"
        ).alias("n_sentences"),
        F.expr(
            "CAST(greatest(1, size(regexp_extract_all(text,"
            " '[aeiouyAEIOUY]+', 0))) AS BIGINT)"
        ).alias("n_syllables"),
    )
    return m.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.expr(_FLESCH_EXPR).alias("flesch"),
    )


# --------------------------------------------------------------------------
# Wilson score intervals for group proportions
# --------------------------------------------------------------------------

_WILSON_Z = 1.96  # 95% — same literal in both engines

_WILSON_CHAIN = f"""
  round((p + {_WILSON_Z} * {_WILSON_Z} / (2.0 * n)
    - {_WILSON_Z} * sqrt(p * (1.0 - p) / n
      + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
    / (1.0 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS wilson_lo,
  round((p + {_WILSON_Z} * {_WILSON_Z} / (2.0 * n)
    + {_WILSON_Z} * sqrt(p * (1.0 - p) / n
      + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
    / (1.0 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS wilson_hi
"""

_WILSON_ORACLE = f"""
WITH c AS (
  SELECT o_orderpriority,
    CAST(count(*) AS BIGINT) AS n_orders,
    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_filled
  FROM orders GROUP BY o_orderpriority
),
p AS (
  SELECT o_orderpriority, n_orders, n_filled,
    CAST(n_orders AS DOUBLE) AS n,
    CAST(n_filled AS DOUBLE) / CAST(n_orders AS DOUBLE) AS p
  FROM c
)
SELECT o_orderpriority, n_orders, n_filled,
  round(p, 6) AS p_hat,
  {_WILSON_CHAIN}
FROM p
"""


@register("ctr_wilson_bounds", _WILSON_ORACLE)
def q_ctr_wilson_bounds(spark, sf_dir):
    """Wilson score 95% interval for each order-priority class's
    fill rate (Wilson 1927) — the proportion interval that behaves at
    small n and extreme p where the naive normal interval fails (never
    escapes [0, 1], never collapses to a point at p̂ ∈ {{0, 1}}). The
    ranking-by-lower-bound pattern is the standard fix for sorting
    groups by a rate when group sizes differ wildly.

    Exactness: (k, n) are exact integer aggregates; the interval is ONE
    shared double chain (`_WILSON_CHAIN`, identical text both engines)
    rounded to 6 dp. One map-side-combined aggregate — the frame after
    it is |priority classes| rows."""
    o = _t(spark, sf_dir, "orders")
    c = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.expr("CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_filled"),
    )
    p = c.select(
        "o_orderpriority",
        "n_orders",
        "n_filled",
        F.expr("CAST(n_orders AS DOUBLE)").alias("n"),
        F.expr(
            "CAST(n_filled AS DOUBLE) / CAST(n_orders AS DOUBLE)"
        ).alias("p"),
    )
    return p.selectExpr(
        "o_orderpriority",
        "n_orders",
        "n_filled",
        "round(p, 6) AS p_hat",
        *[
            e.strip().rstrip(",")
            for e in _WILSON_CHAIN.strip().split(",\n")
        ],
    )
