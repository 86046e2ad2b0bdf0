"""Product-analytics query tier: funnel conversion, cohort retention,
TF-IDF term scoring, deterministic per-group sampling, and snapshot diff.

These are the OLAP workloads a user of the reference's lake (events +
documents tables) runs daily; each is expressed as one declarative Spark
plan whose shuffle count equals the number of inherent grouping
granularities, with a DuckDB oracle that mirrors the arithmetic exactly
(timestamps truncated identically, doubles rounded after identical
operation order, ties broken on full deterministic keys).

Scale notes per query are in the docstrings; nothing here collects, and
every join is either keyed (shuffle both sides once) or broadcast (the
one-row totals in TF-IDF).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from py_datalake_move_files_spark.operators.delta import snapshot_diff
from py_datalake_move_files_spark.queries import _t, register

# --------------------------------------------------------------------------
# funnel conversion: view -> click -> purchase, ordered per user
# --------------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH per_user AS (
  SELECT user_id,
    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT
  count(*) AS n_users,
  count(t_view) AS stage_view,
  count(CASE WHEN t_click >= t_view THEN 1 END) AS stage_click,
  count(CASE WHEN t_click >= t_view AND t_purchase >= t_click THEN 1 END)
    AS stage_purchase
FROM per_user
"""


@register("funnel_conversion", _FUNNEL_ORACLE)
def q_funnel_conversion(spark, sf_dir):
    """Ordered funnel: users who viewed, then clicked at-or-after their first
    view, then purchased at-or-after that click.  One shuffle (user_id
    grouping) + a partial-aggregated global rollup; conditional minima are
    map-side combined, so at 100 TB the plan moves one row per user."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    clicked = F.col("t_click") >= F.col("t_view")
    purchased = clicked & (F.col("t_purchase") >= F.col("t_click"))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count(F.col("t_view")).alias("stage_view"),
        F.count(F.when(clicked, 1)).alias("stage_click"),
        F.count(F.when(purchased, 1)).alias("stage_purchase"),
    )


# --------------------------------------------------------------------------
# cohort retention: signup-week cohorts x weeks-since-cohort active users
# --------------------------------------------------------------------------

_COHORT_ORACLE = """
WITH firsts AS (
  SELECT user_id, ts,
         min(ts) OVER (PARTITION BY user_id) AS first_ts
  FROM events
)
SELECT
  CAST(date_trunc('week', first_ts) AS DATE) AS cohort_week,
  CAST(floor(date_diff('day', date_trunc('week', first_ts),
                       date_trunc('week', ts)) / 7) AS BIGINT) AS week_offset,
  count(DISTINCT user_id) AS active_users
FROM firsts
GROUP BY 1, 2
"""


@register("cohort_retention", _COHORT_ORACLE)
def q_cohort_retention(spark, sf_dir):
    """Classic retention triangle: users grouped by the Monday-truncated week
    of their first event, counted distinctly in each later week.  Two
    exchanges, both inherent: the per-user window min and the
    (cohort, offset) distinct aggregate.  Week truncation is Monday-anchored
    in both Spark and DuckDB, so cohort labels match bit-for-bit."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    firsts = ev.withColumn("first_ts", F.min("ts").over(w))
    return (
        firsts.select(
            F.date_trunc("week", "first_ts").cast("date").alias("cohort_week"),
            F.floor(
                F.datediff(
                    F.date_trunc("week", "ts"), F.date_trunc("week", "first_ts")
                )
                / 7
            ).alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


# --------------------------------------------------------------------------
# TF-IDF: top terms across the corpus, fully deterministic ordering
# --------------------------------------------------------------------------

_TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term <> '' GROUP BY doc_id, term
),
df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER
    (ORDER BY tfidf DESC, doc_id, term) AS rk
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf, rk FROM ranked WHERE rk <= 100
"""


@register("tfidf_top_terms", _TFIDF_ORACLE)
def q_tfidf_top_terms(spark, sf_dir):
    """Corpus-wide TF-IDF with the global top-100 (term, doc) pairs under a
    fully deterministic ordering (score desc, doc_id, term).  Three keyed
    exchanges — (doc,term) tf, term df, and the join back on term — which is
    the minimum for the two granularities; corpus size N is a broadcast
    one-row aggregate.  The final top-k is ``orderBy(...).limit(100)`` —
    Spark plans that as TakeOrderedAndProject (each task keeps a 100-row
    heap, the driver merges), so the full (doc, term) score stream is never
    sorted on one partition; only the <=100 survivors pass through the
    rank-assigning window (plan pinned in tests/test_plans.py)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    top = scored.orderBy(F.desc("tfidf"), "doc_id", "term").limit(100)
    w = Window.orderBy(F.desc("tfidf"), "doc_id", "term")
    return (
        top.withColumn("rk", F.row_number().over(w))
        .select("doc_id", "term", "tf", "df", "tfidf", "rk")
    )


# --------------------------------------------------------------------------
# deterministic per-group sample: exactly k docs per source, hash-ranked
# --------------------------------------------------------------------------

_GROUP_SAMPLE_ORACLE = """
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
SELECT doc_id, source, rk FROM ranked WHERE rk <= 10
"""


@register("deterministic_group_sample", _GROUP_SAMPLE_ORACLE)
def q_deterministic_group_sample(spark, sf_dir):
    """Exactly-k-per-group sampling, reproducible across runs and cluster
    sizes: rank documents within each source by the md5 of their id and keep
    the first 10.  Unlike ``sample()`` this is partition-layout-independent
    (the hash is a pure function of the row), which is what a training-data
    pipeline needs for auditable subset selection.  One exchange on source;
    the rank-filter pushes the window's top-k down per partition."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
    )


# --------------------------------------------------------------------------
# snapshot diff: CDC between two deterministic versions of orders
# --------------------------------------------------------------------------

# The "new" snapshot is derived deterministically from orders so the diff is
# oracle-checkable: 1/16 of keys removed, 1/16 repriced (+10%), and a
# disjoint synthetic key range added.
# repricing runs in the DECIMAL domain then casts to double: double-domain
# round(x * 1.1, 2) diverges between engines on half-cent ties (Spark
# rounds the shortest decimal repr, DuckDB the binary double) — invisible
# to the counts-only diff query but fatal to scd2's value-level hashing
_NEW_SNAP_SQL = """
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 16 = 1
              THEN CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1, 2)
                        AS DOUBLE)
              ELSE o_totalprice END
           AS o_totalprice
  FROM orders WHERE o_orderkey % 16 <> 0
  UNION ALL
  SELECT o_orderkey + 4000000000, 'N',
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
  FROM orders WHERE o_orderkey % 16 = 2
"""

_SNAPSHOT_DIFF_ORACLE = f"""
WITH new_snap AS ({_NEW_SNAP_SQL}),
old_snap AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
diff AS (
  SELECT
    CASE WHEN o.o_orderkey IS NULL THEN 'added'
         WHEN n.o_orderkey IS NULL THEN 'removed'
         WHEN o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
          AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
           THEN 'unchanged'
         ELSE 'changed' END AS diff_status
  FROM old_snap o FULL OUTER JOIN new_snap n USING (o_orderkey)
)
SELECT diff_status, count(*) AS n FROM diff GROUP BY diff_status
"""


@register("snapshot_diff_counts", _SNAPSHOT_DIFF_ORACLE)
def q_snapshot_diff_counts(spark, sf_dir):
    """Key-based snapshot diff (the CDC primitive): full-outer join the old
    and new versions of orders on the key, classify every key as
    added / removed / changed / unchanged via null-safe comparison, and
    tally.  One key-partitioned join shuffle + one tiny aggregate; at 100 TB
    both snapshots hash-partition by the same key so no data is replicated.
    Operator: ``operators/delta.snapshot_diff``."""
    old, new = _order_snapshots(spark, sf_dir)
    d = snapshot_diff(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )
    return d.groupBy("diff_status").agg(F.count(F.lit(1)).alias("n"))


def _order_snapshots(spark, sf_dir):
    """The deterministic (old, new) orders snapshot pair behind the CDC
    queries: 1/16 of keys removed, 1/16 repriced (+10%), a disjoint
    synthetic key range added (mirrors ``_NEW_SNAP_SQL``)."""
    orders = _t(spark, sf_dir, "orders")
    old = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    # decimal-domain repricing (see _NEW_SNAP_SQL comment): exact in both
    # engines, no half-cent tie divergence
    repriced = F.round(
        F.col("o_totalprice").cast("decimal(18,2)") * F.lit("1.1").cast("decimal(3,1)"),
        2,
    ).cast("double")
    kept = orders.where(F.col("o_orderkey") % 16 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 16 == 1, repriced)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    added = orders.where(F.col("o_orderkey") % 16 == 2).select(
        (F.col("o_orderkey") + 4000000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("o_totalprice"),
    )
    return old, kept.unionByName(added)


_SCD2_ORACLE = f"""
WITH new_snap AS ({_NEW_SNAP_SQL}),
old_snap AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
hist AS (
  SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice,
         DATE '2024-01-01' AS valid_from,
         CASE WHEN n.o_orderkey IS NULL
                OR NOT (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                        AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
              THEN DATE '2024-06-01' END AS valid_to
  FROM old_snap o LEFT JOIN new_snap n ON o.o_orderkey = n.o_orderkey
  UNION ALL
  SELECT n.o_orderkey, n.o_orderstatus, n.o_totalprice,
         DATE '2024-06-01', NULL
  FROM new_snap n LEFT JOIN old_snap o ON n.o_orderkey = o.o_orderkey
  WHERE o.o_orderkey IS NULL
     OR NOT (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
             AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
)
SELECT o_orderkey, o_orderstatus, o_totalprice, valid_from, valid_to,
       valid_to IS NULL AS is_current
FROM hist
"""


@register("scd2_order_history", _SCD2_ORACLE)
def q_scd2_order_history(spark, sf_dir):
    """Type-2 SCD history build over the deterministic snapshot pair: every
    old row (closed at the new snapshot date iff removed/changed) plus one
    open row per added/changed key. One full-outer key join; the up-to-two
    history rows per key come from a map-side array_compact + explode, so
    the whole history rewrite is a single shuffle at any scale. Operator:
    ``operators/delta.scd2_apply``."""
    from py_datalake_move_files_spark.operators.delta import scd2_apply

    old, new = _order_snapshots(spark, sf_dir)
    return scd2_apply(
        old,
        new,
        ["o_orderkey"],
        ["o_orderstatus", "o_totalprice"],
        old_from="2024-01-01",
        new_from="2024-06-01",
    )


# --------------------------------------------------------------------------
# EWMA smoothing over per-user event streams
# --------------------------------------------------------------------------

_EWMA_ORACLE = """
WITH fr AS (
  SELECT event_id, user_id, value,
    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS vals
  FROM events
),
wt AS (
  -- NULL values drop from the frame (Spark's collect_list skips NULLs;
  -- DuckDB's list() keeps them) — the EWMA smooths over OBSERVED values
  SELECT event_id, user_id, value,
    list_transform(list_filter(vals, lv -> lv IS NOT NULL),
      (x, i) -> x * power(0.5, CAST(len(list_filter(vals, lw -> lw IS NOT NULL)) - i AS DOUBLE))) AS w
  FROM fr
)
SELECT event_id, user_id, value,
  -- empty observed frame (an all-NULL stripe) -> NULL, never div-0
  CASE WHEN len(w) = 0 THEN NULL
    ELSE round(list_reduce(w, (a, x) -> a + x)
        / (2.0 - power(0.5, CAST(len(w) - 1 AS DOUBLE))), 6)
  END AS ewma
FROM wt
"""


@register("ewma_user_values", _EWMA_ORACLE)
def q_ewma_user_values(spark, sf_dir):
    """Exponentially-weighted moving average (lambda = 1/2) of each user's
    event values over a ROWS 8-deep frame — the time-series smoother behind
    rate monitoring and anomaly baselines.

    The decay factor is fixed at 1/2 so every weight is a dyadic 2^-j:
    exactly representable, and ``pow(0.5, j)`` is exact in any faithful
    libm — which is what gives a windowed EWMA a bit-for-bit cross-engine
    oracle (arbitrary lambda would hit non-portable libm rounding; same
    rule as lang_temperature_resample's alpha). The weighted sum is an
    explicit left fold (Spark ``aggregate`` ≡ DuckDB ``list_reduce``), so
    IEEE op order is pinned.

    100 TB shape: ONE exchange on user_id; the frame list is bounded (8
    doubles), so window state is O(frame), and the per-row fold is
    map-side arithmetic. The closed-form normalizer 2 - 2^(1-m) avoids a
    second fold."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-7, 0)
    )
    df = ev.select(
        "event_id",
        "user_id",
        "value",
        F.collect_list("value").over(w).alias("__vals"),
    ).withColumn(
        "__w",
        F.expr(
            "transform(__vals, (ew_v, ew_i) -> "
            "ew_v * power(0.5D, CAST(size(__vals) - 1 - ew_i AS DOUBLE)))"
        ),
    )
    return df.select(
        "event_id",
        "user_id",
        "value",
        # empty observed frame (all-NULL stripe) -> NULL, never an ANSI
        # div-0 (collect_list already skips NULL values)
        F.when(
            F.expr("size(__w) > 0"),
            F.round(
                F.expr("aggregate(__w, 0D, (ew_a, ew_x) -> ew_a + ew_x)")
                / F.expr("2.0D - power(0.5D, CAST(size(__w) - 1 AS DOUBLE))"),
                6,
            ),
        ).alias("ewma"),
    )


# --------------------------------------------------------------------------
# CDC apply: the post-MERGE table (upsert semantics over the snapshot pair)
# --------------------------------------------------------------------------

_UPSERT_ORACLE = f"""
WITH new_snap AS ({_NEW_SNAP_SQL}),
old_snap AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
)
SELECT
  coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
  CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_orderstatus
       ELSE o.o_orderstatus END AS o_orderstatus,
  CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_totalprice
       ELSE o.o_totalprice END AS o_totalprice
FROM old_snap o FULL OUTER JOIN new_snap n ON o.o_orderkey = n.o_orderkey
"""


@register("cdc_upsert_apply", _UPSERT_ORACLE)
def q_cdc_upsert_apply(spark, sf_dir):
    """MERGE INTO emulation (the Delta/Iceberg upsert, engine-level): new
    snapshot rows win per key, unmatched old rows survive — the full
    post-merge table from ONE full-outer key join
    (``operators/delta.upsert_preview``). At 100 TB
    both sides hash-partition on the merge key — the same single-shuffle
    shape as snapshot_diff/scd2, which share this join."""
    from py_datalake_move_files_spark.operators.delta import upsert_preview

    old, new = _order_snapshots(spark, sf_dir)
    return upsert_preview(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )


# --------------------------------------------------------------------------
# event-type transition matrix (first-order Markov behavior model)
# --------------------------------------------------------------------------

_TRANSITION_ORACLE = """
WITH nxt AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
),
cells AS (
  SELECT from_type, to_type, count(*) AS n_transitions
  FROM nxt WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n_transitions,
  CAST(n_transitions * 1000000 //
       sum(n_transitions) OVER (PARTITION BY from_type) AS BIGINT)
    AS share_ppm
FROM cells
"""


@register("event_transition_matrix", _TRANSITION_ORACLE)
def q_event_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over per-user event streams:
    for each (from_type, to_type) pair, how many transitions occurred and
    what per-million share of the from-type's outgoing edges it holds —
    the behavioral model behind next-event prediction, funnel design, and
    bot detection (a scripted client's matrix is near-degenerate).

    Plan: ONE exchange on ``user_id`` for the ``lead`` window (ties broken
    on the full deterministic (ts, event_id) key so the successor is
    engine-independent), then a map-side-combined aggregate onto at most
    |types|^2 = 25 cells; the share window runs over those 25 rows, not
    the event stream. Shares are integer parts-per-million (floor
    division) so no float ratio ever reaches the hash compare. At 100 TB
    the only data-sized move is the per-user window — the same exchange
    every sessionization query already pays."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    cells = nxt.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    row_total = F.sum("n_transitions").over(Window.partitionBy("from_type"))
    return cells.withColumn("__row_total", row_total).select(
        "from_type",
        "to_type",
        "n_transitions",
        F.expr("(n_transitions * 1000000) div __row_total").alias("share_ppm"),
    )


# --------------------------------------------------------------------------
# 2-D Pareto (skyline) frontier: documents not dominated on (size, lexical
# diversity) — aggregate-then-window so the global scan never single-threads
# --------------------------------------------------------------------------

_PARETO_ORACLE = """
WITH scored AS (
  SELECT doc_id, n_chars,
         CAST(len(list_distinct(string_split(text, ' '))) AS INT)
           AS n_distinct_tokens
  FROM documents
),
per_x AS (
  SELECT n_chars, max(n_distinct_tokens) AS y_max
  FROM scored GROUP BY n_chars
),
frontier AS (
  SELECT n_chars, y_max FROM (
    SELECT n_chars, y_max,
      max(y_max) OVER (ORDER BY n_chars DESC
        RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_gt
    FROM per_x
  ) WHERE m_gt IS NULL OR y_max > m_gt
)
SELECT s.doc_id, s.n_chars, s.n_distinct_tokens
FROM scored s JOIN frontier f
  ON s.n_chars = f.n_chars AND s.n_distinct_tokens = f.y_max
"""


@register("pareto_quality_frontier", _PARETO_ORACLE)
def q_pareto_quality_frontier(spark, sf_dir):
    """Skyline / Pareto-frontier query: the documents no other document
    strictly dominates on (n_chars, distinct-token count) — the
    multi-criteria shortlist shape (curation wants "longest AND most
    lexically diverse" exemplars without collapsing the two into one
    weighted score).

    The naive skyline is a quadratic dominance anti-join. This plan uses
    the classic sort-scan reduction, made distributed by aggregating
    FIRST: (1) map-only scoring, (2) one exchange to ``max(y)`` per
    distinct x — a row can only be on the frontier if it holds its x's
    max y, (3) the running-max window ``ORDER BY x DESC RANGE 1
    PRECEDING`` runs over the per-x AGGREGATE (bounded by |distinct
    n_chars|, thousands, not corpus rows — the unpartitioned window never
    sees data-sized input), (4) frontier points broadcast back to tag the
    winning documents. Strict dominance: a point survives iff its y beats
    every y at strictly greater x (the RANGE frame excludes its own x) and
    it holds the max y at its own x."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "n_chars",
        F.size(F.array_distinct(F.split(F.col("text"), " "))).alias(
            "n_distinct_tokens"
        ),
    )
    per_x = scored.groupBy("n_chars").agg(
        F.max("n_distinct_tokens").alias("y_max")
    )
    w = (
        Window.orderBy(F.col("n_chars").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    frontier = (
        per_x.withColumn("m_gt", F.max("y_max").over(w))
        .where(F.col("m_gt").isNull() | (F.col("y_max") > F.col("m_gt")))
        .select(
            F.col("n_chars").alias("f_x"), F.col("y_max").alias("f_y")
        )
    )
    return scored.join(
        F.broadcast(frontier),
        (F.col("n_chars") == F.col("f_x"))
        & (F.col("n_distinct_tokens") == F.col("f_y")),
    ).select("doc_id", "n_chars", "n_distinct_tokens")


# --------------------------------------------------------------------------
# robust outlier detection: median/MAD via integer-cent histograms
# --------------------------------------------------------------------------

def _mad_oracle() -> str:
    return """
WITH cents AS (
  -- NULL values are not measurements: excluded in both arms (they would
  -- otherwise land on opposite ends of the engines' null ordering inside
  -- the cumulative median window)
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events
  WHERE value IS NOT NULL
),
hist AS (
  SELECT event_type, c, count(*) AS n FROM cents GROUP BY event_type, c
),
cum AS (
  SELECT event_type, c, n,
    sum(n) OVER (PARTITION BY event_type ORDER BY c
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
    sum(n) OVER (PARTITION BY event_type) AS tot
  FROM hist
),
med AS (
  SELECT event_type, tot AS n_events,
    min(CASE WHEN cw >= (tot + 1) // 2 THEN c END)
      + min(CASE WHEN cw >= (tot + 2) // 2 THEN c END) AS med2
  FROM cum GROUP BY event_type, tot
),
dev AS (
  SELECT h.event_type, abs(2 * h.c - m.med2) AS d2, sum(h.n) AS n
  FROM hist h JOIN med m USING (event_type)
  GROUP BY h.event_type, abs(2 * h.c - m.med2)
),
dcum AS (
  SELECT event_type, d2, n,
    sum(n) OVER (PARTITION BY event_type ORDER BY d2
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
    sum(n) OVER (PARTITION BY event_type) AS tot
  FROM dev
),
mad AS (
  SELECT event_type,
    min(CASE WHEN cw >= (tot + 1) // 2 THEN d2 END)
      + min(CASE WHEN cw >= (tot + 2) // 2 THEN d2 END) AS mad4
  FROM dcum GROUP BY event_type
),
outliers AS (
  SELECT d.event_type, sum(CASE WHEN 2 * d.d2 > 3 * a.mad4 THEN d.n ELSE 0 END)
    AS n_outliers
  FROM dev d JOIN mad a USING (event_type)
  GROUP BY d.event_type
)
SELECT m.event_type, CAST(m.n_events AS BIGINT) AS n_events, m.med2 AS median_cents_x2,
  a.mad4 AS mad_cents_x4, CAST(o.n_outliers AS BIGINT) AS n_outliers,
  CAST(o.n_outliers * 1000000 // m.n_events AS BIGINT) AS outlier_ppm
FROM med m JOIN mad a USING (event_type) JOIN outliers o USING (event_type)
"""


@register("mad_outlier_events", _mad_oracle())
def q_mad_outlier_events(spark, sf_dir):
    """Robust (median/MAD) outlier rates per event type — the
    monitoring-grade anomaly screen (mean/stddev z-scores move with the
    outliers they hunt; the median and the median-absolute-deviation
    don't).

    Exact medians at 100 TB without buffering values: quantize to integer
    cents, build a map-side-combined ``(type, cents) -> count`` HISTOGRAM
    (one exchange; cell count is bounded by the value domain, not the row
    count), and read both middle ranks off the cumulative window — the
    textbook exact-median-from-histogram reduction. The deviation pass
    reuses the SAME histogram joined to the per-type median (5 rows,
    broadcast), so raw events are scanned once and shuffled once ever.
    All arithmetic stays integral: ``med2`` is twice the median, ``mad4``
    four times the MAD, and the outlier test ``|v-med| > 3*MAD`` is the
    integer comparison ``2*|2c-med2| > 3*mad4`` — bit-exact on any engine,
    no percentile-interpolation drift.

    The histogram is ``localCheckpoint``-ed (lazy): three downstream
    branches (median, deviation histogram, outlier count) reference it,
    and without the lineage cut each reference re-scans the raw events
    (measured: 17 exchanges vs 7); the deviation histogram is cut for the
    same reason (two consumers)."""
    ev = _t(spark, sf_dir, "events")
    # NULL values excluded in both arms (see oracle comment)
    cents = ev.where(F.col("value").isNotNull()).select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    hist = (
        cents.groupBy("event_type", "c")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )

    def _median_x2(h, val_col, out):
        wcum = (
            Window.partitionBy("event_type")
            .orderBy(val_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wtot = Window.partitionBy("event_type")
        c = h.withColumn("cw", F.sum("n").over(wcum)).withColumn(
            "tot", F.sum("n").over(wtot)
        )
        lo = F.min(
            F.when(F.expr("cw >= (tot + 1) div 2"), F.col(val_col))
        )
        hi = F.min(
            F.when(F.expr("cw >= (tot + 2) div 2"), F.col(val_col))
        )
        return c.groupBy("event_type", "tot").agg((lo + hi).alias(out))

    med = _median_x2(hist, "c", "med2").withColumnRenamed("tot", "n_events")
    dev = (
        hist.join(F.broadcast(med.select("event_type", "med2")), "event_type")
        .select(
            "event_type",
            F.abs(2 * F.col("c") - F.col("med2")).alias("d2"),
            "n",
        )
        .groupBy("event_type", "d2")
        .agg(F.sum("n").alias("n"))
        .localCheckpoint(eager=False)
    )
    mad = _median_x2(dev, "d2", "mad4").select("event_type", "mad4")
    outliers = (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(2 * F.col("d2") > 3 * F.col("mad4"), F.col("n")).otherwise(0))
            .alias("n_outliers")
        )
    )
    return (
        med.join(mad, "event_type")
        .join(outliers, "event_type")
        .select(
            "event_type",
            F.col("n_events").cast("long"),
            F.col("med2").alias("median_cents_x2"),
            F.col("mad4").alias("mad_cents_x4"),
            F.col("n_outliers").cast("long"),
            F.expr("(n_outliers * 1000000) div n_events").alias("outlier_ppm"),
        )
    )


# --------------------------------------------------------------------------
# session-scoped ordered pattern match (MATCH_RECOGNIZE-lite)
# --------------------------------------------------------------------------

_PATTERN_ORACLE = """
WITH x AS (
  SELECT user_id, ts, event_id, event_type, epoch_ms(ts) AS ms,
    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS prev_ms
  FROM events
), f AS (
  SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000
                 THEN 1 ELSE 0 END AS nf
  FROM x
), s AS (
  SELECT user_id, ts, event_id, event_type,
    sum(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS sid
  FROM f
), m1 AS (
  SELECT *,
    CASE WHEN event_type = 'click' AND max(CASE WHEN event_type = 'view'
        THEN sid END) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) = sid
      THEN 1 ELSE 0 END AS c_after_v
  FROM s
), m2 AS (
  SELECT *,
    CASE WHEN event_type = 'purchase' AND max(CASE WHEN c_after_v = 1
        THEN sid END) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) = sid
      THEN 1 ELSE 0 END AS p_after_vc
  FROM m1
), per_session AS (
  SELECT user_id, sid,
    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_v,
    max(c_after_v) AS has_vc,
    max(p_after_vc) AS has_vcp
  FROM m2 GROUP BY user_id, sid
)
SELECT CAST(count(*) AS BIGINT) AS n_sessions,
  CAST(sum(has_v) AS BIGINT) AS n_with_view,
  CAST(sum(has_vc) AS BIGINT) AS n_view_then_click,
  CAST(sum(has_vcp) AS BIGINT) AS n_full_pattern,
  CAST(sum(has_vcp) * 1000000 // count(*) AS BIGINT) AS match_ppm
FROM per_session
"""


@register("session_pattern_match", _PATTERN_ORACLE)
def q_session_pattern_match(spark, sf_dir):
    """Ordered-pattern matching inside sessions — MATCH_RECOGNIZE's
    ``PATTERN (view -> click -> purchase)`` (strict subsequence, any gaps)
    expressed declaratively, since Spark SQL lacks MATCH_RECOGNIZE: how
    many 30-min-inactivity sessions contain a view, later a click, later
    a purchase. Unlike the global funnel (funnel_conversion, which
    compares first-event timestamps), this is a true per-session
    subsequence automaton.

    The automaton is a cascade of RUNNING MAXIMA: stage k's flag is "my
    event type matches AND stage k-1 fired strictly earlier in MY
    session", encoded as ``max(CASE WHEN stage_{k-1} THEN sid END) OVER
    (user ORDER BY ts, id ROWS ... 1 PRECEDING) = sid`` — the session id
    is nondecreasing per user, so the max carries exactly the latest
    session with a prior match. Every window (sessionize lag, running
    sid, both pattern stages) partitions by ``user_id`` alone, so the
    whole automaton — arbitrary pattern length — costs ONE exchange on
    user, the same exchange sessionization already pays; only the
    per-session aggregate re-keys, map-side combined. Counts and ppm stay
    integral."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    ms = F.unix_millis("ts")
    x = ev.select("user_id", "ts", "event_id", "event_type", ms.alias("ms"))
    f = x.withColumn("prev_ms", F.lag("ms").over(w)).withColumn(
        "nf",
        F.when(
            F.col("prev_ms").isNull()
            | (F.col("ms") - F.col("prev_ms") > 1800000),
            1,
        ).otherwise(0),
    )
    s = f.withColumn("sid", F.sum("nf").over(wrun))
    m1 = s.withColumn(
        "c_after_v",
        F.when(
            (F.col("event_type") == "click")
            & (
                F.max(
                    F.when(F.col("event_type") == "view", F.col("sid"))
                ).over(wprev)
                == F.col("sid")
            ),
            1,
        ).otherwise(0),
    )
    m2 = m1.withColumn(
        "p_after_vc",
        F.when(
            (F.col("event_type") == "purchase")
            & (
                F.max(F.when(F.col("c_after_v") == 1, F.col("sid"))).over(
                    wprev
                )
                == F.col("sid")
            ),
            1,
        ).otherwise(0),
    )
    per_session = m2.groupBy("user_id", "sid").agg(
        F.max(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("has_v"),
        F.max("c_after_v").alias("has_vc"),
        F.max("p_after_vc").alias("has_vcp"),
    )
    return per_session.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("has_v").cast("long").alias("n_with_view"),
        F.sum("has_vc").cast("long").alias("n_view_then_click"),
        F.sum("has_vcp").cast("long").alias("n_full_pattern"),
        F.expr(
            "CAST(sum(has_vcp) * 1000000 div count(*) AS BIGINT)"
        ).alias("match_ppm"),
    )


# --------------------------------------------------------------------------
# time-series autocorrelation of the hourly event-count series
# --------------------------------------------------------------------------

_ACF_ORACLE = """
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM events
),
spine AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM bounds
),
hourly AS (
  SELECT date_trunc('hour', ts) AS hour, count(*) AS n FROM events GROUP BY 1
),
dense AS (
  SELECT s.hour, CAST(coalesce(h.n, 0) AS BIGINT) AS cnt
  FROM spine s LEFT JOIN hourly h USING (hour)
),
lagged AS (
  SELECT cnt,
    lag(cnt, 1) OVER (ORDER BY hour) AS l1,
    lag(cnt, 24) OVER (ORDER BY hour) AS l24
  FROM dense
),
pairs AS (
  SELECT 1 AS lag, cnt AS x, l1 AS y FROM lagged WHERE l1 IS NOT NULL
  UNION ALL
  SELECT 24 AS lag, cnt AS x, l24 AS y FROM lagged WHERE l24 IS NOT NULL
),
s AS (
  SELECT lag, count(*) AS n,
    sum(x) AS sx, sum(y) AS sy,
    sum(CAST(x AS DECIMAL(19,0)) * x) AS sxx,
    sum(CAST(y AS DECIMAL(19,0)) * y) AS syy,
    sum(CAST(x AS DECIMAL(19,0)) * y) AS sxy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
           * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
    AS autocorr
FROM s
"""


@register("hourly_autocorrelation", _ACF_ORACLE)
def q_hourly_autocorrelation(spark, sf_dir):
    """Lag-1 and lag-24 autocorrelation of the hourly event-count series —
    the seasonality probe (a strong lag-24 says "daily cycle", which
    decides windowing and anomaly baselines downstream). The hour spine
    is densified (gap hours count 0, same generator device as
    date_gap_fill) because autocorrelation over a gappy series silently
    misaligns lags.

    Exactness: the series is integer COUNTS, so every Pearson component
    (n, Σx, Σy, Σx², Σy², Σxy) is an exact sum — the squared-term sums
    run in DECIMAL(38,0) (the doc_length_moments device, identical text
    both engines: a 100 TB event table at ~10¹³ events over ~10⁴ hours
    puts Σx² near 10²¹, past int64 — r10 overflow audit) and the one
    double division happens at the end in the same op order both
    engines. The lag windows order the AGGREGATE series (thousands of
    hour rows, the Pareto-query posture), never raw events; both lags
    ride one window pass."""
    ev = _t(spark, sf_dir, "events")
    h = ev.select(F.date_trunc("hour", "ts").alias("hour"))
    bounds = h.agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    spine = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("hour")
    )
    hourly = h.groupBy("hour").agg(F.count(F.lit(1)).alias("n"))
    dense = spine.join(hourly, "hour", "left").select(
        "hour", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("cnt")
    )
    w = Window.orderBy("hour")
    lagged = dense.select(
        "cnt",
        F.lag("cnt", 1).over(w).alias("l1"),
        F.lag("cnt", 24).over(w).alias("l24"),
    )
    pairs = lagged.where(F.col("l1").isNotNull()).select(
        F.lit(1).alias("lag"), F.col("cnt").alias("x"), F.col("l1").alias("y")
    ).unionAll(
        lagged.where(F.col("l24").isNotNull()).select(
            F.lit(24).alias("lag"),
            F.col("cnt").alias("x"),
            F.col("l24").alias("y"),
        )
    )
    n = F.count(F.lit(1))
    sx = F.sum("x")
    sy = F.sum("y")
    # squared-count sums in DECIMAL(38,0): Σx² over a 100 TB event table
    # exceeds int64 (r10 overflow audit); identical text as the oracle
    sxx = F.expr("sum(CAST(x AS DECIMAL(19,0)) * x)")
    syy = F.expr("sum(CAST(y AS DECIMAL(19,0)) * y)")
    sxy = F.expr("sum(CAST(x AS DECIMAL(19,0)) * y)")
    return pairs.groupBy(F.col("lag").cast("int").alias("lag")).agg(
        n.cast("long").alias("n_pairs"),
        F.round(
            (n.cast("double") * sxy - sx.cast("double") * sy)
            / (
                F.sqrt(n.cast("double") * sxx - sx.cast("double") * sx)
                * F.sqrt(n.cast("double") * syy - sy.cast("double") * sy)
            ),
            6,
        ).alias("autocorr"),
    )


# --------------------------------------------------------------------------
# conversion-latency quartiles — exact R-7 quantiles from integer histograms
# --------------------------------------------------------------------------

def _quartile_sql(k: int) -> tuple[str, str]:
    """(lo_rank, frac4) SQL for the k-th quartile under R-7 interpolation:
    position = (n-1)*k/4 → rank pos4 div 4 (0-based) with a quarter-unit
    remainder, exact integers both engines."""
    return (
        f"(((tot - 1) * {k}) div 4 + 1)",
        f"(((tot - 1) * {k}) % 4)",
    )


def _latency_oracle() -> str:
    pieces = []
    for k in (1, 2, 3):
        lo, fr = _quartile_sql(k)
        lo = lo.replace(" div ", " // ")
        # every term is an aggregate (per-row ``tot``/``cw`` only appear
        # INSIDE min()/max()), so the projection is aggregate-valid in
        # both engines
        vlo = f"min(CASE WHEN cw >= {lo} THEN c END)"
        vhi = f"min(CASE WHEN cw >= {lo} + 1 THEN c END)"
        f4 = f"max({fr})"
        pieces.append(
            f"CAST(CASE WHEN {f4} = 0 THEN 4 * {vlo} "
            f"ELSE 4 * {vlo} + {f4} * ({vhi} - {vlo}) END AS BIGINT) "
            f"AS p{k * 25}_ms_x4"
        )
    sel = ", ".join(pieces)
    return f"""
WITH per_user AS (
  SELECT user_id,
    min(CASE WHEN event_type = 'view' THEN ts END) AS tv,
    min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
  FROM events GROUP BY user_id
),
lat AS (
  SELECT CAST(epoch_ms(tp) - epoch_ms(tv) AS BIGINT) AS c
  FROM per_user WHERE tv IS NOT NULL AND tp >= tv
),
hist AS (SELECT c, count(*) AS n FROM lat GROUP BY c),
cum AS (
  SELECT c, n,
    sum(n) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS cw,
    sum(n) OVER () AS tot
  FROM hist
)
SELECT CAST(max(tot) AS BIGINT) AS n_pairs, {sel} FROM cum
"""


@register("conversion_latency_quartiles", _latency_oracle())
def q_conversion_latency_quartiles(spark, sf_dir):
    """Exact p25/p50/p75 of the view→purchase latency (first view to
    first at-or-after purchase, per user) — the funnel-health metric a
    product team watches, computed WITHOUT value-buffering percentile
    aggregates: the histogram-rank median device generalized to
    interpolated R-7 quantiles. ``(n-1)·q`` has an exact quarter-unit
    remainder at quartile points, so each quantile is ``4·v(lo) +
    frac4·(v(lo+1) − v(lo))`` in INTEGERS (×4 fixed point) read off the
    cumulative histogram — identical to what ``percentile()`` /
    ``quantile_cont()`` interpolate, minus their per-group value buffers
    and cross-engine float risk. Latencies are exact epoch-millisecond
    integers; one exchange builds the per-user mins, one the bounded
    histogram.

    Domain note (VERDICT r5 #3 sibling): the single-partition cumulative
    window runs over DISTINCT latency values, which — unlike a money
    domain — is not intrinsically bounded (epoch-ms deltas). At a scale
    where distinct latencies approach row count, coarsen the histogram
    key first (e.g. ``c DIV 1000`` for second resolution, or bucket to a
    fixed grid) before the cumulative pass; quartiles then interpolate
    on the coarsened grid with a documented ±grid/2 error bound."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("tv"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "tp"
        ),
    )
    lat = per_user.where(
        F.col("tv").isNotNull() & (F.col("tp") >= F.col("tv"))
    ).select(
        (F.unix_millis("tp") - F.unix_millis("tv")).alias("c")
    )
    hist = lat.groupBy("c").agg(F.count(F.lit(1)).alias("n"))
    wcum = Window.orderBy("c").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wtot = Window.partitionBy()
    cum = hist.withColumn("cw", F.sum("n").over(wcum)).withColumn(
        "tot", F.sum("n").over(wtot)
    )
    aggs = [F.max("tot").cast("long").alias("n_pairs")]
    for k in (1, 2, 3):
        lo, fr = _quartile_sql(k)
        vlo = f"min(CASE WHEN cw >= {lo} THEN c END)"
        vhi = f"min(CASE WHEN cw >= {lo} + 1 THEN c END)"
        f4 = f"max({fr})"
        aggs.append(
            F.expr(
                f"CAST(CASE WHEN {f4} = 0 THEN 4 * {vlo} "
                f"ELSE 4 * {vlo} + {f4} * ({vhi} - {vlo}) END AS BIGINT)"
            ).alias(f"p{k * 25}_ms_x4")
        )
    return cum.agg(*aggs)


# --------------------------------------------------------------------------
# market-basket co-occurrence: support + lift for part pairs within orders
# --------------------------------------------------------------------------

_BASKET_MIN_PAIR = 3
_BASKET_TOP = 25

_BASKET_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
pairs AS (
  SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_pair
  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY a.pk, b.pk
),
top AS (
  SELECT pa, pb, n_pair FROM pairs WHERE n_pair >= {_BASKET_MIN_PAIR}
  ORDER BY n_pair DESC, pa, pb LIMIT {_BASKET_TOP}
),
ic AS (SELECT pk, count(*) AS c FROM items GROUP BY pk),
nb AS (SELECT count(DISTINCT ok) AS n_orders FROM items)
SELECT t.pa, t.pb, t.n_pair,
  round(CAST(t.n_pair AS DOUBLE) / CAST(nb.n_orders AS DOUBLE), 6)
    AS support,
  round((CAST(t.n_pair AS DOUBLE) * CAST(nb.n_orders AS DOUBLE))
        / (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE)), 6) AS lift
FROM top t JOIN ic a ON t.pa = a.pk JOIN ic b ON t.pb = b.pk
CROSS JOIN nb
"""


@register("basket_pair_lift", _BASKET_ORACLE)
def q_basket_pair_lift(spark, sf_dir):
    """Market-basket analysis: the top co-occurring part pairs within
    orders, with support and lift — the association-rule primitive
    (lift > 1: the pair co-occurs more than independence predicts; a
    high-count, lift≈1 pair is just two popular parts).

    Scale shape: the quadratic stage is bounded PER BASKET (the within-
    order self-join generates C(k,2) pairs from a k-item order — k ≤ 13
    here, and real baskets are similarly bounded; an unbounded-group
    guard is one ``count ≤ cap`` filter away, same device as the LSH
    bucket caps), keyed on the order — one co-partitioned exchange, never
    an all-pairs join across orders. Item supports and the basket count
    are map-side-combined aggregates; the 25 survivors of the
    TakeOrderedAndProject broadcast onto the item-count table; ratios
    divide once at the end in the same op order both engines."""
    li = _t(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    a = items.select(F.col("ok"), F.col("pk").alias("pa"))
    b = items.select(F.col("ok"), F.col("pk").alias("pb"))
    pairs = (
        a.join(b, "ok")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    top = (
        pairs.where(F.col("n_pair") >= _BASKET_MIN_PAIR)
        .orderBy(F.desc("n_pair"), "pa", "pb")
        .limit(_BASKET_TOP)
    )
    ic = items.groupBy("pk").agg(F.count(F.lit(1)).alias("c"))
    nb = items.agg(F.countDistinct("ok").alias("n_orders"))
    ia = ic.select(F.col("pk").alias("pa"), F.col("c").alias("c_a"))
    ib = ic.select(F.col("pk").alias("pb"), F.col("c").alias("c_b"))
    return (
        F.broadcast(top)
        .join(ia, "pa")
        .join(ib, "pb")
        .crossJoin(F.broadcast(nb))
        .select(
            "pa",
            "pb",
            "n_pair",
            F.round(
                F.col("n_pair").cast("double")
                / F.col("n_orders").cast("double"),
                6,
            ).alias("support"),
            F.round(
                (F.col("n_pair").cast("double") * F.col("n_orders").cast("double"))
                / (F.col("c_a").cast("double") * F.col("c_b").cast("double")),
                6,
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# temporal-mix audit: chi-square independence of event type × hour-of-day
# --------------------------------------------------------------------------

_HOURMIX_ORACLE = """
WITH cells AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hr,
         CAST(count(*) AS BIGINT) AS obs
  FROM events GROUP BY event_type, hr
),
rt AS (SELECT event_type, sum(obs) AS r FROM cells GROUP BY event_type),
ct AS (SELECT hr, sum(obs) AS c FROM cells GROUP BY hr),
nn AS (SELECT sum(obs) AS n FROM cells),
terms AS (
  SELECT cells.event_type, cells.hr,
    (CAST(obs AS DOUBLE)
     - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
    * (CAST(obs AS DOUBLE)
       - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
    / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS term
  FROM cells JOIN rt USING (event_type) JOIN ct USING (hr) CROSS JOIN nn
),
folded AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cells,
    list_reduce(list(term ORDER BY event_type, hr), (ha, hb) -> ha + hb)
      AS chi2
  FROM terms
),
dims AS (
  SELECT CAST((count(DISTINCT event_type) - 1) * (count(DISTINCT hr) - 1)
              AS BIGINT) AS dof
  FROM cells
)
SELECT n_cells, dof, round(chi2, 6) AS chi2 FROM folded CROSS JOIN dims
"""


@register("event_hour_mix_chi2", _HOURMIX_ORACLE)
def q_event_hour_mix_chi2(spark, sf_dir):
    """Chi-square independence of event type × hour-of-day — the
    temporal-mix audit that flags an event type whose daily rhythm
    diverges from the rest (bot bursts, batch-import spikes) before it
    skews windowed baselines. Same exactness device as the
    source×language audit: integer marginals off the ≤ type·24-cell
    aggregate, per-cell terms mirrored op-for-op, final Σ folded
    LEFT-TO-RIGHT over the (type, hour)-sorted term list."""
    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hr")
    ).agg(F.count(F.lit(1)).cast("long").alias("obs"))
    cells = cells.localCheckpoint(eager=True)
    rt = cells.groupBy("event_type").agg(F.sum("obs").alias("r"))
    ct = cells.groupBy("hr").agg(F.sum("obs").alias("c"))
    nn = cells.agg(F.sum("obs").alias("n"))
    exp = (
        F.col("r").cast("double")
        * F.col("c").cast("double")
        / F.col("n").cast("double")
    )
    terms = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "hr")
        .crossJoin(F.broadcast(nn))
        .select(
            "event_type",
            "hr",
            (
                (F.col("obs").cast("double") - exp)
                * (F.col("obs").cast("double") - exp)
                / exp
            ).alias("term"),
        )
    )
    folded = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.expr(
            "aggregate(transform(array_sort(collect_list("
            "struct(event_type, hr, term))), hs -> hs.term), "
            "CAST(0.0 AS DOUBLE), (ha, hb) -> ha + hb)"
        ).alias("chi2"),
    )
    dims = cells.agg(
        ((F.countDistinct("event_type") - 1) * (F.countDistinct("hr") - 1))
        .cast("long")
        .alias("dof")
    )
    # empty-cell guard: DuckDB's list() over zero rows is NULL (so its
    # fold is NULL) where Spark's aggregate seeds 0.0 — an empty table
    # must report NULL chi2 in both (degenerate-lake rule)
    return folded.crossJoin(F.broadcast(dims)).select(
        "n_cells",
        "dof",
        F.when(F.col("n_cells") > 0, F.round("chi2", 6)).alias("chi2"),
    )


# --------------------------------------------------------------------------
# grouped R-7 quartiles: order -> ship lead time by priority
# --------------------------------------------------------------------------


def _leadtime_oracle() -> str:
    pieces = []
    for k in (1, 2, 3):
        lo, fr = _quartile_sql(k)
        lo = lo.replace(" div ", " // ")
        vlo = f"min(CASE WHEN cw >= {lo} THEN c END)"
        vhi = f"min(CASE WHEN cw >= {lo} + 1 THEN c END)"
        f4 = f"max({fr})"
        pieces.append(
            f"CAST(CASE WHEN {f4} = 0 THEN 4 * {vlo} "
            f"ELSE 4 * {vlo} + {f4} * ({vhi} - {vlo}) END AS BIGINT) "
            f"AS p{k * 25}_days_x4"
        )
    sel = ", ".join(pieces)
    return f"""
WITH lt AS (
  -- NULL lead times (undated order or shipment) carry no signal and
  -- would land on opposite ends of the two engines' default null
  -- ordering inside the cumulative window — excluded in BOTH arms
  SELECT o.o_orderpriority AS priority,
    CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS c
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate IS NOT NULL AND l.l_shipdate IS NOT NULL
),
hist AS (SELECT priority, c, count(*) AS n FROM lt GROUP BY priority, c),
cum AS (
  SELECT priority, c, n,
    sum(n) OVER (PARTITION BY priority ORDER BY c
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
    sum(n) OVER (PARTITION BY priority) AS tot
  FROM hist
)
SELECT priority, CAST(max(tot) AS BIGINT) AS n_lineitems, {sel}
FROM cum GROUP BY priority
"""


@register("lead_time_quartiles", _leadtime_oracle())
def q_lead_time_quartiles(spark, sf_dir):
    """Exact interpolated R-7 p25/p50/p75 of order→ship lead time PER
    PRIORITY — the fulfillment-SLA readout, and the GROUPED form of the
    conversion-latency quartile device: the cumulative window partitions
    by priority (distributes across groups) over a day-granular domain
    (bounded by the shipping calendar, not row count), quartiles
    interpolate in ×4 fixed-point integers off the per-group cumulative
    histogram, and the order↔lineitem join is the one inherent big-big
    shuffle, co-keyed on the order key."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    lt = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        # NULL lead times excluded in both arms (see oracle comment)
        .where(
            F.col("o_orderdate").isNotNull() & F.col("l_shipdate").isNotNull()
        )
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff("l_shipdate", "o_orderdate").cast("long").alias("c"),
        )
    )
    hist = lt.groupBy("priority", "c").agg(F.count(F.lit(1)).alias("n"))
    wcum = (
        Window.partitionBy("priority")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cw", F.sum("n").over(wcum)).withColumn(
        "tot", F.sum("n").over(Window.partitionBy("priority"))
    )
    aggs = [F.max("tot").cast("long").alias("n_lineitems")]
    for k in (1, 2, 3):
        lo, fr = _quartile_sql(k)
        vlo = f"min(CASE WHEN cw >= {lo} THEN c END)"
        vhi = f"min(CASE WHEN cw >= {lo} + 1 THEN c END)"
        f4 = f"max({fr})"
        aggs.append(
            F.expr(
                f"CAST(CASE WHEN {f4} = 0 THEN 4 * {vlo} "
                f"ELSE 4 * {vlo} + {f4} * ({vhi} - {vlo}) END AS BIGINT)"
            ).alias(f"p{k * 25}_days_x4")
        )
    return cum.groupBy("priority").agg(*aggs)
