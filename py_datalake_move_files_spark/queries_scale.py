"""Scale-pattern tier (rounds 3-4): windowed dedup and 100 TB join
strategies.

- ``event_dedup_tumbling`` — first event per (user, type, tumbling
  window). One shuffle on the dedup key.
- ``fuzzy_customer_pairs`` — string-similarity self-join via pigeonhole
  banding (operators/fuzzy.py, PassJoin/Ed-Join/PartEnum family):
  strings within hamming distance ≤ 2 must agree on ≥ 2 of 4 interleaved
  position classes, so candidates come from 6 equi joins on two-class
  compound keys — never an all-pairs comparison.
- ``skew_salted_event_join`` — a deliberately skewed big-big join routed
  through :func:`functions.skew.salted_join`; results identical to the
  plain join (the oracle), plan splits the hot key across ``salt`` tasks.
- ``asof_salted_hot_keys`` (r4) — the as-of join under 70%-one-key skew,
  salted into (key, time-bucket) windows (operators/asof.py); oracle is
  DuckDB's native ASOF LEFT JOIN.
- ``key_skew_profile`` (r4) — max/top-10 key share diagnostics, the
  pre-flight that decides whether a join needs the remedies above.
- ``pagerank_nation_flow`` — iterative tier beyond connected components:
  8 weighted PageRank rounds over the nation-to-nation trade graph via
  operators/graph.pagerank. The graph is AGGREGATED first (25 nodes —
  the 100 TB shape: edge build is the big job, iteration runs on the
  tiny aggregate), and the oracle unrolls the same 8 rounds as chained
  CTEs (recursive CTEs cannot carry GROUP BY in the recursive term).

The reference's surface (file pipelines, reference app/app.py +
app/main.py) has no analogue for these; they are part of the
training-data-pipeline mandate (dedup / similarity / graph tiers).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import Window

from py_datalake_move_files_spark.oracle_frags import dd_hamming
from py_datalake_move_files_spark.queries import ORACLE, _t, register

DAMPING = 0.85
PR_ITERS = 8
N_NATIONS = 25

# ---------------------------------------------------------------------------
# batch twin of watermark dedup
# ---------------------------------------------------------------------------


@register(
    "event_dedup_tumbling",
    """
WITH ranked AS (
  SELECT event_id, user_id, event_type, ts,
         row_number() OVER (
           PARTITION BY user_id, event_type,
                        to_timestamp(CAST(floor(epoch(ts)) AS BIGINT) // 1800 * 1800)
           ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id, event_type, event_id, ts
FROM ranked WHERE rn = 1
""",
)
def q_event_dedup_tumbling(spark, sf_dir):
    """Keep the FIRST event per (user, type, 30-min tumbling window). Deterministic tie-break on
    event_id. One shuffle on the full dedup key; at 100 TB the window
    column makes the key high-cardinality, so no skew concentration.
    Oracle note: DuckDB ROUNDS double->BIGINT casts, so the oracle floors
    epoch(ts) explicitly to match Spark's F.window flooring."""
    e = _t(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "30 minutes")
    w = Window.partitionBy(
        "user_id", "event_type", win["start"]
    ).orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


# ---------------------------------------------------------------------------
# pigeonhole-banded fuzzy match
# ---------------------------------------------------------------------------


#: moved to the LEAF module oracle_frags (queries_stats also needs it, and
#: importing it from here made `import queries_scale` circular through the
#: registry bottom-imports — tests/test_imports.py caught the cycle);
#: re-bound here for the local oracle strings below.
_dd_hamming = dd_hamming


@register(
    "fuzzy_customer_pairs",
    f"""
SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
       ({_dd_hamming('a.c_name', 'b.c_name')}) AS hdist
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey
 AND a.c_custkey < b.c_custkey
 AND length(a.c_name) = length(b.c_name)
WHERE ({_dd_hamming('a.c_name', 'b.c_name')}) <= 2
""",
)
def q_fuzzy_customer_pairs(spark, sf_dir):
    """Similarity self-join, hamming distance ≤ 2, same nation.

    Pigeonhole banding with INTERLEAVED position classes (class j =
    characters at positions ≡ j mod 3; see operators/fuzzy.py): two
    equal-length strings within hamming distance 2 must agree on >= 1 of
    the 3 disjoint classes, so candidates are the union of 3 equi joins
    on (nation, length, chunk_idx, chunk). Interleaving is what makes
    the banding robust on BOTH axes: lossless at every string length
    (no fixed offsets to undershoot — short names still band), and
    non-degenerate on low-entropy corpora (contiguous thirds of
    ``Customer#000000001``-style names share a constant ``Custom``
    chunk → one bucket per nation → quadratic; measured 54 s vs ~2 s at
    sf0.1). This query runs the COMPOUND-band variant (``n_classes=4``:
    any pair within distance 2 leaves >= 2 of 4 classes untouched, so the
    C(4,2)=6 bands join on two-class compound keys — PartEnum-style),
    which cuts candidates 749k -> 223k and runtime ~2x on this numeric-
    tail corpus at the cost of 6 banded rows per input row. The verify
    step recomputes the exact distance on the candidate-bounded set. At
    100 TB this is 6 hash joins on well-distributed keys — the all-pairs
    plan never exists. The oracle is the naive quadratic join (fine at
    sf0.01).
    """
    from py_datalake_move_files_spark.operators.fuzzy import fuzzy_hamming_pairs

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_name")
    pairs = fuzzy_hamming_pairs(
        c, "c_custkey", "c_name", group_cols=("c_nationkey",), max_dist=2,
        n_classes=4,
    )
    return pairs.select(
        F.col("key_a").alias("custkey_a"),
        F.col("key_b").alias("custkey_b"),
        "hdist",
    )


# ---------------------------------------------------------------------------
# salted skew join
# ---------------------------------------------------------------------------


@register(
    "skew_salted_event_join",
    """
WITH skewed AS (
  SELECT CASE WHEN user_id % 10 < 7 THEN 0 ELSE user_id END AS hot_key, value
  FROM events
), dim AS (
  SELECT DISTINCT CASE WHEN user_id % 10 < 7 THEN 0 ELSE user_id END AS hot_key,
         CASE WHEN user_id % 10 < 7 THEN 'hot' ELSE 'cold' END AS label
  FROM events
)
SELECT d.label,
       count(*) AS n,
       CAST(round(sum(CAST(s.value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
FROM skewed s JOIN dim d USING (hot_key)
GROUP BY d.label
""",
)
def q_skew_salted_event_join(spark, sf_dir):
    """Skewed big-big join through :func:`salted_join`: ~70% of fact rows
    collapse onto one hot key (synthetic power-law), which would serialize
    a plain shuffle join into one task. The salted plan explodes the
    build side over ``salt`` replicas and spreads the hot key across
    ``salt`` tasks; results are identical to the plain join (the oracle).
    AQE's skew-split handles sort-merge cases adaptively, but salting is
    the deterministic plan-level fix this query pins."""
    from py_datalake_move_files_spark.functions.skew import salted_join

    e = _t(spark, sf_dir, "events")
    hot = F.when(F.col("user_id") % 10 < 7, F.lit(0)).otherwise(F.col("user_id"))
    facts = e.select(hot.alias("hot_key"), "value")
    dim = (
        e.select(
            hot.alias("hot_key"),
            F.when(F.col("user_id") % 10 < 7, F.lit("hot"))
            .otherwise(F.lit("cold"))
            .alias("label"),
        )
        .distinct()
    )
    joined = salted_join(facts, dim, key="hot_key", salt_factor=8)
    return joined.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_value"),
    )


# ---------------------------------------------------------------------------
# deliberately hot-keyed as-of join, salted
# ---------------------------------------------------------------------------


@register(
    "asof_salted_hot_keys",
    """
WITH p AS (
  SELECT CASE WHEN user_id % 10 < 7 THEN 0 ELSE user_id END AS hot_key,
         event_id, ts
  FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT CASE WHEN user_id % 10 < 7 THEN 0 ELSE user_id END AS hot_key, ts
  FROM events WHERE event_type = 'view'
)
SELECT p.event_id, p.hot_key, epoch_ms(p.ts) AS purchase_ms,
       epoch_ms(v.ts) AS asof_view_ms
FROM p ASOF LEFT JOIN v ON p.hot_key = v.hot_key AND v.ts <= p.ts
""",
)
def q_asof_salted_hot_keys(spark, sf_dir):
    """As-of join under deliberate key skew: ~70% of both sides collapse
    onto ONE hot key, which would serialize the unsalted carry-forward
    window into a single task's sort. ``salt_buckets=16`` partitions the
    window by (key, time-bucket) so the hot key spreads over 16 tasks;
    cross-bucket carries come from a |keys|x16-row summary window (see
    operators/asof.py). Output projects only the matched view's timestamp
    (not its id) so equal-ts ties stay deterministic for hashing. The
    oracle is DuckDB's native ASOF LEFT JOIN over the same hot-key
    derivation — salting must be observationally invisible."""
    from py_datalake_move_files_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    hot = F.when(F.col("user_id") % 10 < 7, F.lit(0)).otherwise(F.col("user_id"))
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", hot.alias("hot_key"), "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        hot.alias("hot_key"), "ts"
    )
    joined = asof_join(
        purchases,
        views,
        on="hot_key",
        left_ts="ts",
        right_ts="ts",
        right_cols=["ts"],
        salt_buckets=16,
    )
    return joined.select(
        "event_id",
        "hot_key",
        F.unix_millis("ts").alias("purchase_ms"),
        F.unix_millis("asof_ts").alias("asof_view_ms"),
    )


# ---------------------------------------------------------------------------
# key-skew diagnostic profile
# ---------------------------------------------------------------------------


@register(
    "key_skew_profile",
    """
WITH counts AS (
  SELECT user_id, count(*) AS c FROM events GROUP BY user_id
),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_keys,
               CAST(max(c) AS BIGINT) AS max_c FROM counts),
top10 AS (
  SELECT CAST(sum(c) AS BIGINT) AS top10_c FROM (
    SELECT c FROM counts ORDER BY c DESC, user_id ASC LIMIT 10
  )
)
SELECT t.n_keys, t.total, t.max_c,
       round(t.max_c / CAST(t.total AS DOUBLE), 6) AS max_share,
       round(p.top10_c / CAST(t.total AS DOUBLE), 6) AS top10_share
FROM tot t CROSS JOIN top10 p
""",
)
def q_key_skew_profile(spark, sf_dir):
    """Key-skew diagnostics over the event stream: max and top-10 key
    shares of total rows. This is the pre-flight check that decides the
    join strategy at scale — max_share near 1/parallelism or above means a
    plain shuffle join serializes on the hot key and the plan needs
    salting (functions/skew.salted_join, asof salt_buckets=) or AQE skew
    splitting. Plan: one groupBy on the key (the same shuffle the join
    would do), then three scalar aggregates over the per-key counts —
    top-10 via TakeOrderedAndProject, never a global sort."""
    e = _t(spark, sf_dir, "events")
    counts = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("c").cast("long").alias("total"),
        F.max("c").cast("long").alias("max_c"),
    )
    top10 = (
        counts.orderBy(F.col("c").desc(), F.col("user_id").asc())
        .limit(10)
        .agg(F.sum("c").cast("long").alias("top10_c"))
    )
    return (
        tot.crossJoin(F.broadcast(top10))
        .select(
            "n_keys",
            "total",
            "max_c",
            F.round(F.col("max_c") / F.col("total").cast("double"), 6).alias(
                "max_share"
            ),
            F.round(F.col("top10_c") / F.col("total").cast("double"), 6).alias(
                "top10_share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# PageRank over the nation trade graph
# ---------------------------------------------------------------------------


def _pagerank_oracle() -> str:
    """Chained-CTE unrolled PageRank (DuckDB): r0 = uniform; each round
    r_{k+1}(dst) = (1-d)/N + d * (sum of incoming rank/outdeg weights +
    dangling mass/N). The nation graph has no dangling nodes (every nation
    ships somewhere at sf>=0.01 — and the Spark side drops dangling mass
    identically by construction of the same edge set)."""
    edges = """
edges AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         count(*)::DOUBLE AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
),
norm AS (
  SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS p FROM edges
),
r0 AS (SELECT n_nationkey AS nation, 1.0/{N} AS rank FROM nation)
""".replace("{N}", str(N_NATIONS))
    steps = []
    for i in range(PR_ITERS):
        steps.append(
            f"""r{i + 1} AS (
  SELECT n.n_nationkey AS nation,
         (1.0 - {DAMPING})/{N_NATIONS} + {DAMPING} * coalesce(sum(r.rank * e.p), 0)
           AS rank
  FROM nation n
  LEFT JOIN norm e ON e.dst = n.n_nationkey
  LEFT JOIN r{i} r ON r.nation = e.src
  GROUP BY n.n_nationkey
)"""
        )
    return (
        "WITH " + edges + "," + ",\n".join(steps)
        + f"\nSELECT nation, round(rank, 6) AS rank FROM r{PR_ITERS}"
    )


@register("pagerank_nation_flow", _pagerank_oracle())
def q_pagerank_nation_flow(spark, sf_dir):
    """Weighted PageRank over nation->nation trade volume.

    100 TB shape: the EXPENSIVE stage is building the edge list (a
    lineitem-orders-customer-supplier star join + one aggregation — all
    dimension sides broadcast); the iteration then runs on the 25-node
    aggregate via :func:`operators.graph.pagerank`, so 8 rounds cost 8
    tiny joins; the aggregate is small enough that Catalyst folds the whole
    unrolled loop into one plan."""
    from py_datalake_move_files_spark.operators.graph import (
        normalize_edges,
        pagerank,
    )

    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("nation"))
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .groupBy(
            s.s_nationkey.alias("src"), c.c_nationkey.alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    norm = normalize_edges(edges).localCheckpoint(eager=False)
    ranks = pagerank(
        norm, n, iterations=PR_ITERS, damping=DAMPING, n_nodes=N_NATIONS
    )
    return ranks.select("nation", F.round("rank", 6).alias("rank"))


__all__ = [n for n in dir() if n.startswith("q_")]
assert set(ORACLE) >= {
    "event_dedup_tumbling",
    "fuzzy_customer_pairs",
    "skew_salted_event_join",
    "pagerank_nation_flow",
    "asof_salted_hot_keys",
}
