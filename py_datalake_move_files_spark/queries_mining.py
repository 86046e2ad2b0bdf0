"""Round-7 tier: statistical mining + graph/near-dup widening.

Twenty-two queries extending the registry with devices no earlier
family covers. Tier 3: ``token_novelty_curve`` (vocabulary growth by
id-range corpus bucket), ``user_event_entropy`` (behavioral Shannon
entropy, micro-nat cells), ``ks_source_screen_bh`` (one-vs-rest exact
KS + Benjamini–Hochberg FDR decisions), ``revenue_hhi_concentration``
(Herfindahl + equivalent-n). Tier 4: ``median_dkw_band``
(distribution-free DKW confidence band around the median),
``seasonal_adjusted_anomalies`` (weekday-adjusted median/MAD robust z),
``purchase_decile_lift`` (gains/lift table — the AUC's actionable
companion). Tier 5: ``knn_hop_histogram`` (fixed-depth BFS expansion
profile; the DuckDB oracle REQUIRES materialized CTEs or the prelude
re-inlines exponentially) and ``embedding_dim_quantile_clip``
(nearest-rank p1/p99 SQ clip calibration per dimension).
Tier 2 (middle of the file): ``k_anonymity_audit``
(k-anonymity + l-diversity privacy screen over the customer QI triple),
``truncated_dim_recall`` (Matryoshka-style recall@10 of prefix-dim
search vs the full-width baseline, sharing the engine-wide recall
device), ``rich_club_coefficient`` (degree-threshold density curve over
the shared kNN census artifacts), ``effective_sample_size`` (Kish ESS
of quality-weighted sampling per source from exact micro-integer weight
moments), and ``weighted_median_price`` (quantity-weighted median in
exact cents ×2 via the grouped bounded-histogram rank device). Tier 1:

- ``simhash_dup_pairs`` — banded Hamming near-dup PAIRS over 32-bit
  SimHash fingerprints (``simhash_fingerprints`` stops at per-doc
  16-bit signatures): 4 byte bands, pigeonhole-complete for Hamming ≤ 3,
  exact popcount verify on the candidate set — never all-pairs.
- ``value_purchase_auc`` — exact ROC-AUC (Mann–Whitney with tie
  correction) of the event ``value`` separating purchases from
  non-purchases, via the bounded cents-histogram rank device: all
  integer, no sort of the corpus, no float fold.
- ``mann_kendall_trend`` — the nonparametric S/tau/z trend test over
  monthly revenue: the robust companion of ``theil_sen_revenue_trend``
  (same calendar-bounded pair frame), deciding IF a monotone trend
  exists before Theil–Sen sizes it.
- ``changepoint_daily_events`` — best single change-point of the daily
  event series by between-group sum-of-squares (binary-segmentation
  step 1), argmax over calendar-bounded candidate splits from one
  prefix-sum window.
- ``ols_revenue_model`` — two-regressor OLS (price ~ quantity +
  discount) solved in closed form from exact integer moments: the
  multi-feature companion of ``regr_trend_by_nation``.
- ``knn_link_prediction`` — common-neighbor/Jaccard link scores for
  NON-edges of the kNN graph (the standard missing-link primitive):
  the full Σdeg² wedge frame (exact CN counts need every 2-path, unlike
  the triangle census — degrees are k- and hot-bucket-capped by the
  graph build, so the frame is bounded), anti-joined against the edges.
- ``js_source_divergence`` — pairwise Jensen–Shannon divergence between
  per-source unigram distributions over the shared top vocabulary with
  add-1 smoothing: the corpus-mixture drift audit (PSI covers numeric
  values; this covers token mixes).
- ``weekday_anova_events`` — one-way ANOVA F statistic of daily event
  counts across ISO weekdays: the seasonality-significance yardstick on
  top of ``seasonal_daily_decomposition``'s indexes.

Cross-engine exactness: candidate/verify counts, histogram cells,
moments, and S statistics are exact integers; JS terms are rounded to
NANO-nats per cell before the order-free integer sum (the MI device);
ANOVA's per-group fold runs LEFT-TO-RIGHT over a weekday-sorted array
(F.aggregate ≡ list_reduce); every remaining scalar (z, F, OLS betas,
split score) is a one-row double chain with identical operation order
in both engines, rounded to 6 dp.

Scale notes: SimHash banding is the only candidate generator here and
is bucket-bounded (at 100 TB the production setting is a 64-bit
fingerprint with 4×16-bit bands — same plan, wider hash; 32 bits is the
harness width). Mann–Kendall/ANOVA/
change-point frames are calendar-bounded (months × 1, days × 1)
regardless of corpus size; the OLS moment row is one map-side-combined
aggregate; link-prediction candidates inherit the kNN census bounds.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from py_datalake_move_files_spark.operators import dedup as D
from py_datalake_move_files_spark.queries import _t, register

# --------------------------------------------------------------------------
# SimHash banded near-dup pairs
# --------------------------------------------------------------------------

_SIMHASH_BITS = 32  # pairs tier: wider than the 16-bit fingerprint query
_SIMHASH_BANDS = 4  # 8-bit bands; pigeonhole-complete for hamming <= bands-1
_BAND_WIDTH = _SIMHASH_BITS // _SIMHASH_BANDS
_HAMMING_MAX = 3
#: Band-bucket cap (VERDICT r11 #1) — the scale guard for the band
#: self-join. SimHash band values are MAJORITY SIGNS, so buckets are far
#: more skewed than MinHash's: measured Σ bucket² was 5.6M at sf0.1,
#: 394M at stress sf1, 28.0 BILLION at sf10 (max bucket 79,502 — the
#: 21.9× sf10 wall the round-11 sweep caught). Capped at 256 the mass is
#: 1.2M / 4.3M / 6.6M — sf10/sf1 ratio 1.5×. Inert at the parity scales
#: (max bucket 128 at sf0.01). Pairs whose EVERY matching band sits in an
#: over-cap bucket are missed (the pigeonhole completeness becomes
#: "complete below the cap") — those live in giant template families that
#: exact dedup collapses upstream; the drop is observable via the cap
#: device's CollectMetrics node and mirrored exactly in the oracle.
_SIMHASH_BUCKET_CAP = 256


def _simhash_fp_cte() -> str:
    """The fingerprint CTE of the simhash_fingerprints oracle at the
    pairs tier's 32-bit width (same bit derivation, same hex_value_sql
    device — 16 bits collides far too often for PAIR generation: ~1% of
    random doc pairs land within hamming 3 of each other, vs ~1e-6 at
    32 bits)."""
    hv_of = D.hex_value_sql("md5(t)", (_SIMHASH_BITS + 3) // 4)
    sums = ", ".join(
        f"list_aggregate(list_transform(hvs, x -> CASE WHEN "
        f"CAST(floor(x / {2 ** j}) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END), "
        f"'sum') AS s{j}"
        for j in range(_SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {2 ** j} ELSE 0 END)"
        for j in range(_SIMHASH_BITS)
    )
    return f"""
WITH hv AS (
  SELECT doc_id,
    list_transform(string_split(text, ' '), t -> CAST({hv_of} AS BIGINT))
      AS hvs
  FROM documents
),
s AS (SELECT doc_id, {sums} FROM hv),
fp AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM s)
"""


_SIMHASH_PAIRS_ORACLE = _simhash_fp_cte() + f""",
bands AS (
  SELECT doc_id, simhash, u.bi AS bi,
    (simhash >> (u.bi * 8)) & 255 AS bv
  FROM fp, unnest(generate_series(0, {_SIMHASH_BANDS - 1})) AS u(bi)
),
bandsc AS (
  SELECT doc_id, simhash, bi, bv FROM (
    SELECT *, count(*) OVER (PARTITION BY bi, bv) AS bn FROM bands
  ) WHERE bn <= {_SIMHASH_BUCKET_CAP}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM bandsc a JOIN bandsc b ON a.bi = b.bi AND a.bv = b.bv
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
"""


@register("simhash_dup_pairs", _SIMHASH_PAIRS_ORACLE)
def q_simhash_dup_pairs(spark, sf_dir):
    """Near-dup PAIRS from 32-bit SimHash fingerprints via LSH-style
    banding: 4 byte bands, candidate pairs share at least one band,
    exact Hamming verify (``bit_count`` of the XOR) keeps distance ≤ 3.
    Pigeonhole guarantee: 4 disjoint bands and ≤ 3 differing bits force
    ≥ 1 identical band, so banding misses nothing the threshold admits
    BELOW the bucket cap (_SIMHASH_BUCKET_CAP: bands landing in over-cap
    buckets are excluded from pairing — the r12 scale guard; see the
    constant's measured Σ bucket² rationale). 32 bits (not the
    fingerprint query's 16) because pair generation needs collision
    headroom: at 16 bits ~1% of RANDOM doc pairs sit within Hamming 3
    (measured: 14.7k pairs over 500 harness docs), at 32 bits ~1e-6.

    Plan: fingerprints are the zero-shuffle per-row chain of
    ``simhash_fingerprints`` at double width; bands explode 4 rows/doc;
    ONE equi-join on (band_index, band_value) generates candidates
    (Σ bucket² bounded by the 256-value band fan-out, never all-pairs);
    the verify is a per-row popcount. At 100 TB the production pinning
    is a 64-bit fingerprint with 4×16-bit bands — identical plan, wider
    hash, sparser buckets."""
    from py_datalake_move_files_spark.operators.similarity import (
        _cap_bucket_size,
    )

    fp = D.simhash(
        _t(spark, sf_dir, "documents"), "doc_id", bits=_SIMHASH_BITS
    )
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_SIMHASH_BANDS - 1}), "
                f"bi -> named_struct('bi', bi, 'bv', "
                f"shiftright(simhash, bi * {_BAND_WIDTH})"
                f" % {2 ** _BAND_WIDTH}))"
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.bi", "band.bv")
    bands = _cap_bucket_size(bands, ["bi", "bv"], _SIMHASH_BUCKET_CAP)
    a = bands.select(
        F.col("doc_id").alias("id_a"),
        F.col("simhash").alias("sim_a"),
        "bi",
        "bv",
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"),
        F.col("simhash").alias("sim_b"),
        "bi",
        "bv",
    )
    return (
        a.join(b, ["bi", "bv"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.expr("CAST(bit_count(sim_a ^ sim_b) AS INT)").alias("hamming"),
        )
        .where(F.col("hamming") <= _HAMMING_MAX)
        .distinct()
    )


# --------------------------------------------------------------------------
# exact ROC-AUC via the Mann-Whitney rank-sum over a bounded histogram
# --------------------------------------------------------------------------

_AUC_ORACLE = """
WITH lab AS (
  -- NULL values are not scoreable and are excluded in both arms (the
  -- NULL histogram bucket sits on opposite ends of the engines' default
  -- null ordering inside the cumulative window)
  SELECT CAST(round(value * 100) AS BIGINT) AS v_cents,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
  FROM events WHERE value IS NOT NULL
),
hist AS (
  SELECT v_cents,
    CAST(sum(pos) AS BIGINT) AS n_pos,
    CAST(count(*) - sum(pos) AS BIGINT) AS n_neg
  FROM lab GROUP BY v_cents
),
cum AS (
  SELECT n_pos, n_neg,
    sum(n_neg) OVER (ORDER BY v_cents
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      - n_neg AS neg_below
  FROM hist
),
s AS (
  SELECT CAST(sum(n_pos) AS BIGINT) AS p,
    CAST(sum(n_neg) AS BIGINT) AS q,
    CAST(sum(n_pos * (2 * neg_below + n_neg)) AS BIGINT) AS num2
  FROM cum
)
SELECT p AS n_pos, q AS n_neg,
  CAST(CASE WHEN p = 0 OR q = 0 THEN NULL
            ELSE floor(CAST(num2 AS DOUBLE) * 1000000.0
                 / (2.0 * CAST(p AS DOUBLE) * CAST(q AS DOUBLE)))
            END AS BIGINT) AS auc_ppm,
  CAST(CASE WHEN p = 0 OR q = 0 THEN NULL
            ELSE floor(CAST(num2 AS DOUBLE) * 1000000.0
                 / (2.0 * CAST(p AS DOUBLE) * CAST(q AS DOUBLE)))
                 * 2 - 1000000 END AS BIGINT)
    AS gini_ppm
FROM s
"""


@register("value_purchase_auc", _AUC_ORACLE)
def q_value_purchase_auc(spark, sf_dir):
    """Exact ROC-AUC of the event ``value`` as a classifier for
    ``event_type = 'purchase'`` — the discrimination metric every
    model-scored curation gate is judged by, computed exactly (not
    trapezoid-sampled): AUC = P(value⁺ > value⁻) + ½·P(=) via the
    Mann–Whitney identity.

    Device: quantize to integer cents (the engine-wide bounded-domain
    histogram trick), ONE aggregate to (value, n_pos, n_neg) cells, one
    cumulative window over the bounded cent domain, then the rank-sum
    numerator Σ n_pos·(2·neg_below + n_neg) as exact integers — AUC in
    integer ppm, Gini = 2·AUC − 1. No corpus sort, no float fold; the
    cent histogram is domain-bounded so the window never buffers the
    corpus."""
    ev = _t(spark, sf_dir, "events")
    # NULL values excluded in both arms (see oracle comment)
    lab = ev.where(F.col("value").isNotNull()).select(
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v_cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "pos"
        ),
    )
    hist = lab.groupBy("v_cents").agg(
        F.sum("pos").cast("long").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("pos")).cast("long").alias("n_neg"),
    )
    wcum = Window.orderBy("v_cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn(
        "neg_below", F.sum("n_neg").over(wcum) - F.col("n_neg")
    )
    s = cum.agg(
        F.sum("n_pos").cast("long").alias("p"),
        F.sum("n_neg").cast("long").alias("q"),
        F.sum(
            F.col("n_pos") * (2 * F.col("neg_below") + F.col("n_neg"))
        )
        .cast("long")
        .alias("num2"),
    )
    return s.select(
        F.col("p").alias("n_pos"),
        F.col("q").alias("n_neg"),
        # ppm render in DOUBLE (identical text both engines): num2·1e6
        # overflows int64 (ANSI throw) once p·q passes ~4.6e12 — the r9
        # overflow rule for data×data numerators; exact below 2^53
        F.expr(
            "CAST(CASE WHEN p = 0 OR q = 0 THEN NULL"
            " ELSE floor(CAST(num2 AS DOUBLE) * 1000000.0"
            " / (2.0 * CAST(p AS DOUBLE) * CAST(q AS DOUBLE)))"
            " END AS BIGINT)"
        ).alias("auc_ppm"),
        F.expr(
            "CAST(CASE WHEN p = 0 OR q = 0 THEN NULL"
            " ELSE floor(CAST(num2 AS DOUBLE) * 1000000.0"
            " / (2.0 * CAST(p AS DOUBLE) * CAST(q AS DOUBLE)))"
            " * 2 - 1000000 END AS BIGINT)"
        ).alias("gini_ppm"),
    )


# --------------------------------------------------------------------------
# Mann-Kendall monotone-trend test over monthly revenue
# --------------------------------------------------------------------------

#: final scalar chain — identical text in both engines, computed from the
#: exact integer (s_stat, var18) pair on ONE row. var18 = 18·Var(S) with
#: the standard tie correction; the continuity-corrected z uses S∓1.
_MK_Z_EXPR = """
CASE WHEN var18 = 0 THEN NULL
     WHEN s_stat > 0
       THEN (CAST(s_stat AS DOUBLE) - 1.0)
            / sqrt(CAST(var18 AS DOUBLE) / 18.0)
     WHEN s_stat < 0
       THEN (CAST(s_stat AS DOUBLE) + 1.0)
            / sqrt(CAST(var18 AS DOUBLE) / 18.0)
     ELSE 0.0 END
"""

_MK_ORACLE = f"""
WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS mo,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
  FROM orders GROUP BY 1
),
pairs AS (
  SELECT CAST(sum(CASE WHEN b.rev > a.rev THEN 1
                       WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT)
    AS s_stat
  FROM m a JOIN m b ON a.mo < b.mo
),
ties AS (
  SELECT CAST(coalesce(sum(tc * (tc - 1) * (2 * tc + 5)), 0) AS BIGINT)
    AS tie18
  FROM (SELECT count(*) AS tc FROM m GROUP BY rev HAVING count(*) > 1)
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM m),
st AS (
  SELECT n, s_stat,
    n * (n - 1) * (2 * n + 5) - tie18 AS var18
  FROM nn CROSS JOIN pairs CROSS JOIN ties
)
SELECT n AS n_months, s_stat, CAST(var18 AS BIGINT) AS var18,
  round(CAST(s_stat AS DOUBLE)
        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0), 6) AS tau,
  round({_MK_Z_EXPR}, 6) AS z_score,
  CASE WHEN ({_MK_Z_EXPR}) > 1.959964 THEN 'increasing'
       WHEN ({_MK_Z_EXPR}) < -1.959964 THEN 'decreasing'
       ELSE 'none' END AS trend
FROM st
"""


@register("mann_kendall_trend", _MK_ORACLE)
def q_mann_kendall_trend(spark, sf_dir):
    """Mann–Kendall monotone-trend test over monthly revenue: S = Σ
    sign(rev_j − rev_i) over month pairs i<j, tie-corrected variance,
    continuity-corrected z — the nonparametric "is there a trend at all"
    gate run before Theil–Sen sizes the slope (same calendar-bounded
    pair frame: C(months, 2) rows at ANY corpus size).

    Exactness: monthly revenue folds to exact integer cents (one keyed
    aggregate, map-side combined); S, the tie term, and var18 = 18·Var(S)
    are pure integers; z and tau are one-row double chains shared
    textually with the oracle. The pair self-join broadcasts the
    metadata-sized month frame."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("mo")).agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .cast("long")
        .alias("rev")
    )
    m = m.localCheckpoint(eager=True)
    a = m.select(F.col("mo").alias("mo_a"), F.col("rev").alias("rev_a"))
    b = m.select(F.col("mo").alias("mo_b"), F.col("rev").alias("rev_b"))
    pairs = (
        a.join(F.broadcast(b), F.col("mo_a") < F.col("mo_b"))
        .agg(
            F.sum(
                F.when(F.col("rev_b") > F.col("rev_a"), 1)
                .when(F.col("rev_b") < F.col("rev_a"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    ties = (
        m.groupBy("rev")
        .agg(F.count(F.lit(1)).alias("tc"))
        .where(F.col("tc") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("tc") * (F.col("tc") - 1) * (2 * F.col("tc") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie18")
        )
    )
    nn = m.agg(F.count(F.lit(1)).cast("long").alias("n"))
    st = (
        nn.crossJoin(pairs)
        .crossJoin(ties)
        .select(
            "n",
            "s_stat",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tie18")
            ).alias("var18"),
        )
    )
    return st.select(
        F.col("n").alias("n_months"),
        "s_stat",
        F.col("var18").cast("long"),
        F.round(
            F.expr(
                "CAST(s_stat AS DOUBLE)"
                " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0)"
            ),
            6,
        ).alias("tau"),
        F.round(F.expr(_MK_Z_EXPR), 6).alias("z_score"),
        F.expr(
            f"CASE WHEN ({_MK_Z_EXPR}) > 1.959964 THEN 'increasing'"
            f" WHEN ({_MK_Z_EXPR}) < -1.959964 THEN 'decreasing'"
            f" ELSE 'none' END"
        ).alias("trend"),
    )


# --------------------------------------------------------------------------
# single change-point of the daily event series (binary segmentation step 1)
# --------------------------------------------------------------------------

_CP_ORACLE = """
WITH d AS (
  SELECT date_trunc('day', ts) AS d, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
w AS (
  SELECT d, c,
    CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS nl,
    CAST(sum(c) OVER (ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS sl,
    CAST(count(*) OVER () AS BIGINT) AS n,
    CAST(sum(c) OVER () AS BIGINT) AS s
  FROM d
),
cand AS (
  SELECT d, nl, n - nl AS nr, sl, s - sl AS sr,
    round((CAST(sl * (n - nl) - (s - sl) * nl AS DOUBLE)
           * CAST(sl * (n - nl) - (s - sl) * nl AS DOUBLE))
          / ((CAST(nl AS DOUBLE) * CAST(n - nl AS DOUBLE))
             * CAST(n AS DOUBLE)), 6) AS score
  FROM w WHERE nl < n
)
SELECT strftime(d, '%Y-%m-%d') AS split_day,
  nl AS n_left, nr AS n_right,
  CAST(sl * 1000000 // nl AS BIGINT) AS mean_left_micro,
  CAST(sr * 1000000 // nr AS BIGINT) AS mean_right_micro,
  score AS between_ss
FROM cand ORDER BY score DESC, d ASC LIMIT 1
"""


@register("changepoint_daily_events", _CP_ORACLE)
def q_changepoint_daily_events(spark, sf_dir):
    """Best single change-point of the daily event-count series — the
    first step of binary-segmentation change-point detection: the split
    maximizing the between-segment sum of squares
    (S_l·n_r − S_r·n_l)² / (n·n_l·n_r), which is exactly the SSE drop of
    a two-mean fit. Drift monitors run this to timestamp a level shift
    (CUSUM — `daily_count_cusum` — flags THAT a shift happened; this
    names the day).

    Plan: one keyed count to the calendar-bounded daily frame, one
    prefix-sum window over it (bounded rows — never the corpus), a
    per-row integer score numerator, TakeOrdered(1). All candidate
    arithmetic is integer until the single-row double score, whose
    operation order is shared with the oracle."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return changepoint_over_daily(d)


def changepoint_over_daily(d):
    """The change-point device over a (d, c) daily frame: one prefix-sum
    window, an integer score numerator and a deterministic tie-break."""
    wo = Window.orderBy("d")
    wcum = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    w = d.select(
        "d",
        "c",
        F.row_number().over(wo).cast("long").alias("nl"),
        F.sum("c").over(wcum).cast("long").alias("sl"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
        F.sum("c").over(wall).cast("long").alias("s"),
    )
    cand = w.where(F.col("nl") < F.col("n")).select(
        "d",
        "nl",
        (F.col("n") - F.col("nl")).alias("nr"),
        "sl",
        (F.col("s") - F.col("sl")).alias("sr"),
        F.round(
            F.expr(
                "(CAST(sl * (n - nl) - (s - sl) * nl AS DOUBLE)"
                " * CAST(sl * (n - nl) - (s - sl) * nl AS DOUBLE))"
                " / ((CAST(nl AS DOUBLE) * CAST(n - nl AS DOUBLE))"
                " * CAST(n AS DOUBLE))"
            ),
            6,
        ).alias("score"),
    )
    return (
        cand.orderBy(F.col("score").desc(), F.col("d").asc())
        .limit(1)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("split_day"),
            F.col("nl").alias("n_left"),
            F.col("nr").alias("n_right"),
            F.expr("CAST(sl * 1000000 DIV nl AS BIGINT)").alias(
                "mean_left_micro"
            ),
            F.expr("CAST(sr * 1000000 DIV nr AS BIGINT)").alias(
                "mean_right_micro"
            ),
            F.col("score").alias("between_ss"),
        )
    )


# --------------------------------------------------------------------------
# two-regressor OLS from exact integer moments
# --------------------------------------------------------------------------

#: closed-form 2-regressor normal-equation solve over the centered moment
#: row — identical text in both engines; every input column is an exact
#: integer sum cast to double, so the chain is IEEE-deterministic.
_OLS_COMMON = """
  (nn * sx11 - sx1 * sx1) AS a11,
  (nn * sx22 - sx2 * sx2) AS a22,
  (nn * sx12 - sx1 * sx2) AS a12,
  (nn * sx1y - sx1 * sy) AS b1n,
  (nn * sx2y - sx2 * sy) AS b2n,
  (nn * syy - sy * sy) AS tss
"""

_OLS_TAIL = """
SELECT CAST(nn AS BIGINT) AS n,
  round(CASE WHEN det = 0 THEN NULL
             ELSE (sy - ((b1n * a22 - b2n * a12) / det) * sx1
                      - ((b2n * a11 - b1n * a12) / det) * sx2) / nn
        END, 2) AS b0_cents,
  round(CASE WHEN det = 0 THEN NULL
             ELSE (b1n * a22 - b2n * a12) / det END, 6) AS b1_qty,
  round(CASE WHEN det = 0 THEN NULL
             ELSE (b2n * a11 - b1n * a12) / det END, 6) AS b2_disc,
  round(CASE WHEN det = 0 OR tss = 0 THEN NULL
             ELSE (((b1n * a22 - b2n * a12) / det) * b1n
                   + ((b2n * a11 - b1n * a12) / det) * b2n) / tss
        END, 6) AS r2
FROM c
"""

_OLS_ORACLE = f"""
WITH t AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
    CAST(l_quantity AS BIGINT) AS x1,
    CAST(round(l_discount * 100) AS BIGINT) AS x2
  FROM lineitem
),
m AS (
  SELECT CAST(count(*) AS DOUBLE) AS nn,
    CAST(sum(x1) AS DOUBLE) AS sx1, CAST(sum(x2) AS DOUBLE) AS sx2,
    CAST(sum(y) AS DOUBLE) AS sy,
    CAST(sum(x1 * x1) AS DOUBLE) AS sx11,
    CAST(sum(x2 * x2) AS DOUBLE) AS sx22,
    CAST(sum(x1 * x2) AS DOUBLE) AS sx12,
    CAST(sum(x1 * y) AS DOUBLE) AS sx1y,
    CAST(sum(x2 * y) AS DOUBLE) AS sx2y,
    CAST(sum(y * y) AS DOUBLE) AS syy
  FROM t
),
c AS (
  SELECT nn, sx1, sx2, sy, {_OLS_COMMON},
    (nn * sx11 - sx1 * sx1) * (nn * sx22 - sx2 * sx2)
      - (nn * sx12 - sx1 * sx2) * (nn * sx12 - sx1 * sx2) AS det
  FROM m
)
{_OLS_TAIL}
"""


@register("ols_revenue_model", _OLS_ORACLE)
def q_ols_revenue_model(spark, sf_dir):
    """Two-regressor OLS — price_cents ~ b0 + b1·quantity + b2·discount —
    solved in closed form from the normal equations: the multi-feature
    regression primitive (`regr_trend_by_nation` is the 1-feature case).
    Returns betas and R² from ONE moment row.

    Exactness + scale: the ten sufficient moments are exact integer sums
    (accumulated as decimal(38,0)/HUGEINT so Σy² cannot overflow at any
    corpus size), each cast to double ONCE; the centered 2×2 solve is a
    single-row scalar chain shared textually with the oracle (same IEEE
    op order). One map-side-combined aggregate over the scan — no
    shuffle wider than one row, at 100 TB exactly as here."""
    li = _t(spark, sf_dir, "lineitem")
    t = li.select(
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("y"),
        F.expr("CAST(l_quantity AS BIGINT)").alias("x1"),
        F.expr("CAST(round(l_discount * 100) AS BIGINT)").alias("x2"),
    )
    dec = lambda e: F.expr(e).cast("decimal(38,0)")  # noqa: E731
    m = t.agg(
        F.count(F.lit(1)).cast("double").alias("nn"),
        F.sum(dec("x1")).cast("double").alias("sx1"),
        F.sum(dec("x2")).cast("double").alias("sx2"),
        F.sum(dec("y")).cast("double").alias("sy"),
        F.sum(dec("x1 * x1")).cast("double").alias("sx11"),
        F.sum(dec("x2 * x2")).cast("double").alias("sx22"),
        F.sum(dec("x1 * x2")).cast("double").alias("sx12"),
        F.sum(dec("x1 * y")).cast("double").alias("sx1y"),
        F.sum(dec("x2 * y")).cast("double").alias("sx2y"),
        F.sum(dec("y * y")).cast("double").alias("syy"),
    )
    c = m.selectExpr(
        "nn",
        "sx1",
        "sx2",
        "sy",
        *[s.strip() for s in _OLS_COMMON.strip().split(",\n")],
        "(nn * sx11 - sx1 * sx1) * (nn * sx22 - sx2 * sx2)"
        " - (nn * sx12 - sx1 * sx2) * (nn * sx12 - sx1 * sx2) AS det",
    )
    c.createOrReplaceTempView("__ols_c")
    return c.sparkSession.sql(_OLS_TAIL.replace("FROM c", "FROM __ols_c"))


# --------------------------------------------------------------------------
# link prediction over the kNN graph (common-neighbor / Jaccard)
# --------------------------------------------------------------------------

_LINK_TOP = 20


def _link_oracle() -> str:
    from py_datalake_move_files_spark.oracle_knn import (
        KNN_EDGES_CTE as _KNN_EDGES_CTE,
        KNN_PRELUDE as _KNN_PRELUDE,
        UND_DEG_DED_CTE as _UND_DEG_DED_CTE,
    )

    return (
        _KNN_PRELUDE
        + _KNN_EDGES_CTE
        + _UND_DEG_DED_CTE
        + f""",
adj AS (
  SELECT u AS ctr, v AS leaf FROM und
  UNION ALL SELECT v AS ctr, u AS leaf FROM und
),
wedges AS (
  SELECT a.leaf AS u, b.leaf AS v
  FROM adj a JOIN adj b ON a.ctr = b.ctr AND a.leaf < b.leaf
),
cn AS (
  SELECT u, v, CAST(count(*) AS BIGINT) AS common_neighbors
  FROM wedges w
  WHERE NOT EXISTS (SELECT 1 FROM und e WHERE e.u = w.u AND e.v = w.v)
  GROUP BY u, v
),
lnk_scored AS (
  SELECT cn.u, cn.v, cn.common_neighbors,
    CAST(cn.common_neighbors * 1000000
         // (da.dg + db.dg - cn.common_neighbors) AS BIGINT) AS jaccard_ppm
  FROM cn JOIN deg da ON cn.u = da.node JOIN deg db ON cn.v = db.node
)
SELECT u, v, common_neighbors, jaccard_ppm
FROM lnk_scored
ORDER BY jaccard_ppm DESC, common_neighbors DESC, u ASC, v ASC
LIMIT {_LINK_TOP}
"""
    )


@register("knn_link_prediction", _link_oracle())
def q_knn_link_prediction(spark, sf_dir):
    """Missing-link prediction over the kNN graph: for node pairs that
    are NOT edges but share neighbors, the common-neighbor count and
    Jaccard score — the classic link-prediction primitive (Liben-Nowell
    & Kleinberg), used in curation to surface near-neighborhoods the
    k-cut truncated (candidates for cluster merging that the kNN edge
    set itself misses).

    Unlike the triangle census, exact common-neighbor COUNTS need the
    FULL wedge frame — a wedge u–x–w counts whichever rank x holds, so
    the degree-ordered O(m^1.5) restriction (complete for triangles,
    which have exactly one lowest-rank vertex) would undercount here.
    Every 2-path is generated at its center from the symmetric adjacency
    (one equi-join on the center key): Σ deg² wedges. Out-degree is k by
    construction, but in-degree is not capped — a hub vector that is many
    vectors' neighbor adds deg² wedges, with AQE's skew-join split as the
    only runtime guard. Minus
    existing edges via one anti join; scores are integer ppm;
    top-{_LINK_TOP} with a full deterministic tie-break,
    TakeOrdered-sized."""
    from py_datalake_move_files_spark.queries_knn import _und_deg_ded

    und, deg, _ded = _und_deg_ded(spark, sf_dir)
    adj = und.select(
        F.col("u").alias("ctr"), F.col("v").alias("leaf")
    ).unionAll(und.select(F.col("v").alias("ctr"), F.col("u").alias("leaf")))
    a = adj.select("ctr", F.col("leaf").alias("u"))
    b = adj.select("ctr", F.col("leaf").alias("v"))
    wedges = a.join(b, "ctr").where(F.col("u") < F.col("v")).select("u", "v")
    cn = (
        wedges.join(und, ["u", "v"], "left_anti")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("common_neighbors"))
    )
    da = deg.select(F.col("node").alias("u"), F.col("dg").alias("du"))
    db = deg.select(F.col("node").alias("v"), F.col("dg").alias("dv"))
    scored = (
        cn.join(da, "u")
        .join(db, "v")
        .select(
            "u",
            "v",
            "common_neighbors",
            F.expr(
                "CAST(common_neighbors * 1000000"
                " DIV (du + dv - common_neighbors) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )
    return scored.orderBy(
        F.col("jaccard_ppm").desc(),
        F.col("common_neighbors").desc(),
        F.col("u").asc(),
        F.col("v").asc(),
    ).limit(_LINK_TOP)


# --------------------------------------------------------------------------
# pairwise Jensen-Shannon divergence between source unigram mixes
# --------------------------------------------------------------------------

_JS_VOCAB = 128

#: per-token JS contribution in NANO-nats, rounded BEFORE the order-free
#: integer sum (the MI micro-unit device, at 1e-9 grain because individual
#: terms are small); pa/pb are exact-integer ratios so the double chain is
#: identical cross-engine, and the quantization absorbs ln() ulp skew.
_JS_TERM = """
CAST(round((0.5 * pa * ln(2.0 * pa / (pa + pb))
            + 0.5 * pb * ln(2.0 * pb / (pa + pb))) * 1000000000)
     AS BIGINT)
"""

_JS_ORACLE = f"""
WITH tk AS (
  SELECT source,
    unnest(list_filter(string_split(text, ' '), jt -> jt <> '')) AS t
  FROM documents
),
gc AS (SELECT t, count(*) AS c FROM tk GROUP BY t),
vocab AS (SELECT t FROM gc ORDER BY c DESC, t ASC LIMIT {_JS_VOCAB}),
sc AS (
  SELECT tk.source, tk.t, count(*) AS c
  FROM tk JOIN vocab USING (t) GROUP BY tk.source, tk.t
),
srcs AS (SELECT DISTINCT source FROM documents),
grid AS (
  SELECT s.source, v.t, coalesce(sc.c, 0) AS c
  FROM srcs s CROSS JOIN vocab v
  LEFT JOIN sc ON sc.source = s.source AND sc.t = v.t
),
den AS (
  SELECT source, CAST(sum(c) + {_JS_VOCAB} AS BIGINT) AS ds
  FROM grid GROUP BY source
),
p AS (
  SELECT g.source, g.t,
    CAST(g.c + 1 AS DOUBLE) / CAST(d.ds AS DOUBLE) AS pr
  FROM grid g JOIN den d USING (source)
),
terms AS (
  SELECT a.source AS source_a, b.source AS source_b,
    {_JS_TERM.replace('pa', 'a.pr').replace('pb', 'b.pr')} AS cm
  FROM p a JOIN p b ON a.t = b.t AND a.source < b.source
)
SELECT source_a, source_b,
  CAST(sum(cm) AS BIGINT) AS jsd_nano_nats
FROM terms GROUP BY source_a, source_b
"""


@register("js_source_divergence", _JS_ORACLE)
def q_js_source_divergence(spark, sf_dir):
    """Pairwise Jensen–Shannon divergence between per-source unigram
    distributions over the shared top-{_JS_VOCAB} vocabulary (add-1
    smoothed) — the mixture-drift audit for corpus blending: PSI
    (`value_drift_psi`) watches numeric value drift; this watches WHICH
    WORDS each source emits. JSD is symmetric and bounded by ln 2, so
    the pair matrix is directly comparable across corpus sizes.

    Device: vocabulary is a TakeOrdered top-k; per-source counts over it
    gap-fill to a sources×vocab grid (metadata-sized — |sources|·V
    cells); each pair-token term is rounded to NANO-nats before the
    order-free integer sum (the MI quantization device, finer grain for
    the smaller terms), so no float fold order exists and ln() ulp skew
    is absorbed. The pair join runs on the tiny grid, never documents."""
    docs = _t(spark, sf_dir, "documents")
    tk = docs.select(
        "source",
        F.explode(
            F.expr("filter(split(text, ' '), jt -> jt <> '')")
        ).alias("t"),
    )
    tk = tk.localCheckpoint(eager=True)
    gc = tk.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    vocab = gc.orderBy(F.col("c").desc(), F.col("t").asc()).limit(
        _JS_VOCAB
    ).select("t")
    sc = tk.join(F.broadcast(vocab), "t").groupBy("source", "t").agg(
        F.count(F.lit(1)).alias("c")
    )
    srcs = docs.select("source").distinct()
    grid = (
        srcs.crossJoin(F.broadcast(vocab))
        .join(sc, ["source", "t"], "left")
        .select("source", "t", F.coalesce("c", F.lit(0)).alias("c"))
    )
    den = grid.groupBy("source").agg(
        (F.sum("c") + F.lit(_JS_VOCAB)).cast("long").alias("ds")
    )
    p = grid.join(F.broadcast(den), "source").select(
        "source",
        "t",
        F.expr("CAST(c + 1 AS DOUBLE) / CAST(ds AS DOUBLE)").alias("pr"),
    )
    # the pair join references p TWICE; without a lineage cut Catalyst
    # re-derives the whole grid/denominator chain per side (measured 16
    # exchanges vs 6 on metadata-sized frames). |sources|·V rows.
    p = p.localCheckpoint(eager=True)
    a = p.select(
        F.col("source").alias("source_a"),
        "t",
        F.col("pr").alias("pr_a"),
    )
    b = p.select(
        F.col("source").alias("source_b"),
        "t",
        F.col("pr").alias("pr_b"),
    )
    terms = a.join(F.broadcast(b), "t").where(
        F.col("source_a") < F.col("source_b")
    )
    term = _JS_TERM.replace("pa", "pr_a").replace("pb", "pr_b")
    return (
        terms.select(
            "source_a", "source_b", F.expr(term).alias("cm")
        )
        .groupBy("source_a", "source_b")
        .agg(F.sum("cm").cast("long").alias("jsd_nano_nats"))
    )


# --------------------------------------------------------------------------
# one-way ANOVA of daily counts across ISO weekdays
# --------------------------------------------------------------------------

_ANOVA_ORACLE = """
WITH d AS (
  SELECT date_trunc('day', ts) AS d, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
g AS (
  SELECT CAST(isodow(d) AS BIGINT) AS wd,
    CAST(sum(c) AS BIGINT) AS sg, CAST(count(*) AS BIGINT) AS ng
  FROM d GROUP BY 1
),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n,
    sum(CAST(c AS DECIMAL(19,0)) * c) AS sxx
  FROM d
),
garr AS (
  SELECT list_reduce(
    list_transform(list(sg * 1.0 / ng * sg ORDER BY wd),
                   at -> at + 0.0),
    (aa, ab) -> aa + ab) AS gterm,
    CAST(count(*) AS BIGINT) AS k
  FROM g
),
st AS (
  SELECT n, k, sxx, s,
    gterm - CAST(s AS DOUBLE) * s / n AS ssb,
    CAST(sxx AS DOUBLE) - CAST(s AS DOUBLE) * s / n AS sst
  FROM tot CROSS JOIN garr
)
SELECT n AS n_days, k AS k_groups,
  round(ssb, 6) AS ss_between,
  round(sst - ssb, 6) AS ss_within,
  round(CASE WHEN k <= 1 OR n <= k OR sst - ssb = 0 THEN NULL
             ELSE (ssb / (CAST(k AS DOUBLE) - 1.0))
                  / ((sst - ssb) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
        END, 6) AS f_stat
FROM st
"""


@register("weekday_anova_events", _ANOVA_ORACLE)
def q_weekday_anova_events(spark, sf_dir):
    """One-way ANOVA F statistic of daily event counts across ISO
    weekdays — the significance yardstick on top of
    `seasonal_daily_decomposition`'s weekday indexes: is the weekday
    effect real, or noise?

    Exactness: per-group (Sg, ng) and the global (S, n) are exact
    integers and Σc² is an exact DECIMAL(38,0) (daily counts of a 100 TB
    event table square past int64 — r10 overflow audit, identical text
    both engines); the one order-sensitive float reduction — Σ_g Sg²/ng over
    the ≤ 7 weekday groups — folds LEFT-TO-RIGHT over a weekday-sorted
    array (F.aggregate ≡ DuckDB list_reduce, the zipf device), and the
    F ratio is a one-row double chain with shared op order. Frames are
    calendar-bounded: |days| rows, then 7, then 1."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    d = d.localCheckpoint(eager=True)
    g = d.groupBy(
        F.expr("CAST(weekday(d) + 1 AS BIGINT)").alias("wd")
    ).agg(
        F.sum("c").cast("long").alias("sg"),
        F.count(F.lit(1)).cast("long").alias("ng"),
    )
    tot = d.agg(
        F.sum("c").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
        # Σc² in DECIMAL(38,0): a 100 TB event table's daily counts square
        # past int64 (r10 overflow audit); identical text as the oracle
        F.expr("sum(CAST(c AS DECIMAL(19,0)) * c)").alias("sxx"),
    )
    garr = g.agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list("
            "named_struct('wd', wd, 'sg', sg, 'ng', ng))),"
            " ax -> ax.sg * 1.0 / ax.ng * ax.sg),"
            " CAST(0.0 AS DOUBLE), (aa, ab) -> aa + ab)"
        ).alias("gterm"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    st = tot.crossJoin(garr).select(
        "n",
        "k",
        "sxx",
        "s",
        F.expr("gterm - CAST(s AS DOUBLE) * s / n").alias("ssb"),
        F.expr("CAST(sxx AS DOUBLE) - CAST(s AS DOUBLE) * s / n").alias(
            "sst"
        ),
    )
    return st.select(
        F.col("n").alias("n_days"),
        F.col("k").alias("k_groups"),
        F.round("ssb", 6).alias("ss_between"),
        F.round(F.expr("sst - ssb"), 6).alias("ss_within"),
        F.round(
            F.expr(
                "CASE WHEN k <= 1 OR n <= k OR sst - ssb = 0 THEN NULL"
                " ELSE (ssb / (CAST(k AS DOUBLE) - 1.0))"
                " / ((sst - ssb) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))"
                " END"
            ),
            6,
        ).alias("f_stat"),
    )


# ==========================================================================
# round-7 tier 2: privacy audit, MRL truncation eval, rich-club, ESS,
# weighted median
# ==========================================================================

# --------------------------------------------------------------------------
# k-anonymity / l-diversity audit
# --------------------------------------------------------------------------

_KANON_ORACLE = """
WITH qi AS (
  SELECT c_custkey,
    c_nationkey, c_mktsegment,
    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
    CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS sensitive
  FROM customer
),
g AS (
  SELECT c_nationkey, c_mktsegment, bal_bucket,
    CAST(count(*) AS BIGINT) AS sz,
    CAST(count(DISTINCT sensitive) AS BIGINT) AS l_div
  FROM qi GROUP BY c_nationkey, c_mktsegment, bal_bucket
)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
  CAST(sum(sz) AS BIGINT) AS n_rows,
  CAST(min(sz) AS BIGINT) AS k_min,
  CAST(sum(CASE WHEN sz < 2 THEN sz ELSE 0 END) AS BIGINT) AS rows_unique,
  CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS rows_below_5,
  CAST(sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT)
    AS rows_below_10,
  CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) * 1000000
       // sum(sz) AS BIGINT) AS reident_risk_ppm,
  CAST(min(l_div) AS BIGINT) AS l_min,
  CAST(sum(CASE WHEN l_div = 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS groups_homogeneous
FROM g
"""


@register("k_anonymity_audit", _KANON_ORACLE)
def q_k_anonymity_audit(spark, sf_dir):
    """k-anonymity / l-diversity audit over the customer table — the
    privacy screen a dataset release runs BEFORE publication: group by
    the quasi-identifier triple (nation, market segment, $1000 balance
    bucket), then report the smallest group (k_min — the k the release
    actually achieves), how many rows sit in groups below the usual
    k=2/5/10 thresholds (re-identification exposure), and the minimum
    l-diversity of the sensitive bit (negative balance) — a k-anonymous
    group that is HOMOGENEOUS in the sensitive attribute still leaks it.

    Plan: one keyed integer aggregate to the QI-group frame (bounded by
    the QI domain product, not the row count), one global fold over it.
    Nothing after the first aggregate exceeds the group-domain size at
    any corpus scale."""
    c = _t(spark, sf_dir, "customer")
    qi = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.expr("CAST(floor(c_acctbal / 1000.0) AS BIGINT)").alias(
            "bal_bucket"
        ),
        F.when(F.col("c_acctbal") < 0, 1).otherwise(0).alias("sensitive"),
    )
    g = qi.groupBy("c_nationkey", "c_mktsegment", "bal_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("sz"),
        F.countDistinct("sensitive").cast("long").alias("l_div"),
    )
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("sz").cast("long").alias("n_rows"),
        F.min("sz").cast("long").alias("k_min"),
        F.sum(F.when(F.col("sz") < 2, F.col("sz")).otherwise(0))
        .cast("long")
        .alias("rows_unique"),
        F.sum(F.when(F.col("sz") < 5, F.col("sz")).otherwise(0))
        .cast("long")
        .alias("rows_below_5"),
        F.sum(F.when(F.col("sz") < 10, F.col("sz")).otherwise(0))
        .cast("long")
        .alias("rows_below_10"),
        F.expr(
            "CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) * 1000000"
            " DIV sum(sz) AS BIGINT)"
        ).alias("reident_risk_ppm"),
        F.min("l_div").cast("long").alias("l_min"),
        F.sum(F.when(F.col("l_div") == 1, 1).otherwise(0))
        .cast("long")
        .alias("groups_homogeneous"),
    )


# --------------------------------------------------------------------------
# Matryoshka-style truncated-dimension recall
# --------------------------------------------------------------------------

_TRUNC_DIMS = 16


def _trunc_recall_oracle() -> str:
    from py_datalake_move_files_spark.oracle_frags import (
        dd_dot,
        dd_norm,
        dd_recall_tail,
    )

    dot16 = dd_dot("q.q_vec", "e.embedding", _TRUNC_DIMS)
    nq16 = dd_norm("q.q_vec", _TRUNC_DIMS)
    ne16 = dd_norm("e.embedding", _TRUNC_DIMS)
    return (
        f"""
WITH qv AS (
  SELECT vec_id AS query_id, embedding AS q_vec
  FROM embeddings WHERE vec_id < 5
),
tr_scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    round(({dot16}) / (({nq16}) * ({ne16})), 6) AS approx_sim
  FROM qv q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id
),
tr_final AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY approx_sim DESC, neighbor_id ASC) AS rn
  FROM tr_scored
)"""
        + dd_recall_tail("tr_final")
    )


@register("truncated_dim_recall", _trunc_recall_oracle())
def q_truncated_dim_recall(spark, sf_dir):
    """Recall@10 of cosine search over the FIRST {dims} of 64 embedding
    dimensions vs the full-width exact baseline — the Matryoshka
    truncation eval: modern embedding models are trained so prefixes of
    the vector remain usable, and serving stacks exploit that by
    scanning a truncated prefix first. This measures exactly what that
    truncation costs on THIS corpus, with the same query set, tie-break,
    and recall definition as every other index eval (one shared
    recall_vs_exact / dd_recall_tail pair — metrics comparable by
    construction).

    Plan: two broadcast-probe brute-force scans (queries broadcast, the
    corpus never shuffles) + the shared semi-join recall fold. The
    truncated arm's arrays are sliced BEFORE the scan so its dot/norm
    folds run over {dims} elements in the same left-to-right order the
    oracle unrolls.""".format(dims=_TRUNC_DIMS)
    from py_datalake_move_files_spark.operators.similarity import (
        brute_force_topk,
        recall_vs_exact,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    trunc = emb.select(
        "vec_id", F.expr(f"slice(embedding, 1, {_TRUNC_DIMS})").alias("embedding")
    )
    tqueries = queries.select(
        "query_id", F.expr(f"slice(embedding, 1, {_TRUNC_DIMS})").alias("embedding")
    )
    approx = brute_force_topk(trunc, tqueries, k=10)
    exact = brute_force_topk(emb, queries, k=10)
    return recall_vs_exact(approx, exact, queries, k=10)


# --------------------------------------------------------------------------
# rich-club coefficient curve over the kNN graph
# --------------------------------------------------------------------------

_RC_MAX_T = 12


def _rich_club_oracle() -> str:
    from py_datalake_move_files_spark.oracle_knn import (
        KNN_EDGES_CTE as _KNN_EDGES_CTE,
        KNN_PRELUDE as _KNN_PRELUDE,
        UND_DEG_DED_CTE as _UND_DEG_DED_CTE,
    )

    return (
        _KNN_PRELUDE
        + _KNN_EDGES_CTE
        + _UND_DEG_DED_CTE
        + f""",
ths AS (SELECT unnest(generate_series(1, {_RC_MAX_T})) AS t),
nk AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n_k
  FROM ths JOIN deg ON deg.dg > ths.t GROUP BY t
),
ek AS (
  SELECT t, CAST(count(*) AS BIGINT) AS e_k
  FROM ths
  JOIN (SELECT e.u, e.v, a.dg AS du, b.dg AS dv
        FROM und e JOIN deg a ON e.u = a.node
        JOIN deg b ON e.v = b.node) ed
    ON ed.du > ths.t AND ed.dv > ths.t
  GROUP BY t
)
SELECT nk.t AS degree_gt, nk.n_k AS n_nodes,
  CAST(coalesce(ek.e_k, 0) AS BIGINT) AS n_edges,
  CAST(2 * coalesce(ek.e_k, 0) * 1000000 // (nk.n_k * (nk.n_k - 1))
       AS BIGINT) AS phi_ppm
FROM nk LEFT JOIN ek ON nk.t = ek.t
WHERE nk.n_k > 1
"""
    )


@register("rich_club_coefficient", _rich_club_oracle())
def q_rich_club_coefficient(spark, sf_dir):
    """Rich-club coefficient curve of the kNN graph: for each degree
    threshold t, the density φ(t) = 2·E_t / (N_t·(N_t−1)) among nodes of
    degree > t — do the best-connected vectors preferentially link to
    EACH OTHER? A rising φ curve on an embedding graph flags a dense
    redundant core (hub near-dup neighborhoods SemDeDup-style passes
    should hit first); a flat one says redundancy is spread out.

    Plan: degrees and edges come from the SAME shared, checkpointed
    (und, deg) artifacts as the census family; thresholds are a
    {t}-row literal frame broadcast onto two conditional aggregates.
    Everything after the shared graph build is metadata-sized; ratios
    are integer ppm.""".format(t=_RC_MAX_T)
    from py_datalake_move_files_spark.queries_knn import _und_deg_ded

    und, deg, _ded = _und_deg_ded(spark, sf_dir)
    ths = spark.range(1, _RC_MAX_T + 1).select(F.col("id").alias("t"))
    nk = (
        F.broadcast(ths)
        .join(deg, deg["dg"] > F.col("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("n_k"))
    )
    da = deg.select(F.col("node").alias("u"), F.col("dg").alias("du"))
    db = deg.select(F.col("node").alias("v"), F.col("dg").alias("dv"))
    ed = und.join(da, "u").join(db, "v")
    ek = (
        F.broadcast(ths)
        .join(ed, (ed["du"] > F.col("t")) & (ed["dv"] > F.col("t")))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("e_k"))
    )
    return (
        nk.join(ek, "t", "left")
        .where(F.col("n_k") > 1)
        .select(
            F.col("t").alias("degree_gt"),
            F.col("n_k").alias("n_nodes"),
            F.coalesce("e_k", F.lit(0)).cast("long").alias("n_edges"),
            F.expr(
                "CAST(2 * coalesce(e_k, 0) * 1000000"
                " DIV (n_k * (n_k - 1)) AS BIGINT)"
            ).alias("phi_ppm"),
        )
    )


# --------------------------------------------------------------------------
# effective sample size of quality-weighted sampling, per source
# --------------------------------------------------------------------------


def _ess_oracle() -> str:
    from py_datalake_move_files_spark.queries import _QUALITY_ORACLE

    return f"""
WITH q AS ({_QUALITY_ORACLE.strip()}),
w AS (
  SELECT d.source,
    CAST(round(q.quality * 1000000) AS BIGINT) AS wmu
  FROM q JOIN documents d USING (doc_id)
),
s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(wmu) AS DOUBLE) AS sw,
    CAST(sum(wmu * wmu) AS DOUBLE) AS sww
  FROM w GROUP BY source
)
SELECT source, n_docs,
  round(CASE WHEN sww = 0 THEN NULL ELSE sw * sw / sww END, 6) AS ess,
  CAST(CASE WHEN sww = 0 THEN NULL
            ELSE round(sw * sw / sww * 1000000 / n_docs) END AS BIGINT)
    AS ess_ratio_ppm
FROM s
"""


@register("effective_sample_size", _ess_oracle())
def q_effective_sample_size(spark, sf_dir):
    """Kish effective sample size of quality-weighted sampling, per
    source: ESS = (Σw)²/Σw² — when documents are sampled proportional to
    their quality score (the `weighted_sample_docs` policy), how many
    EFFECTIVE documents does each source contribute? ESS/n near 1 means
    weighting barely concentrates; a low ratio flags a source whose mass
    collapses onto few documents (a mixture-planning red flag before
    training).

    Exactness + scale: weights are the 6-dp quality score in exact
    integer MICRO units; Σw and Σw² accumulate as decimal(38,0)/HUGEINT
    (order-free, overflow-free at any corpus size) and are cast to
    double once for the single ratio. One map-side-combined aggregate
    per source — the output is |sources| rows."""
    from py_datalake_move_files_spark.operators.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    w = quality_score(docs).select(
        "doc_id",
        F.expr("CAST(round(quality * 1000000) AS BIGINT)").alias("wmu"),
    ).join(docs.select("doc_id", "source"), "doc_id")
    s = w.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("wmu").cast("decimal(38,0)")).cast("double").alias("sw"),
        F.sum(F.expr("CAST(wmu * wmu AS DECIMAL(38,0))"))
        .cast("double")
        .alias("sww"),
    )
    return s.select(
        "source",
        "n_docs",
        F.round(
            F.expr("CASE WHEN sww = 0 THEN NULL ELSE sw * sw / sww END"), 6
        ).alias("ess"),
        F.expr(
            "CAST(CASE WHEN sww = 0 THEN NULL"
            " ELSE round(sw * sw / sww * 1000000 / n_docs) END AS BIGINT)"
        ).alias("ess_ratio_ppm"),
    )


# --------------------------------------------------------------------------
# grouped weighted median via the bounded-histogram rank device
# --------------------------------------------------------------------------

_WMED_ORACLE = """
WITH h AS (
  SELECT l_returnflag,
    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wq
  FROM lineitem GROUP BY l_returnflag, cents
),
cum AS (
  SELECT l_returnflag, cents, wq,
    sum(wq) OVER (PARTITION BY l_returnflag ORDER BY cents
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
    sum(wq) OVER (PARTITION BY l_returnflag) AS tw
  FROM h
)
SELECT l_returnflag,
  CAST(max(tw) AS BIGINT) AS total_weight,
  CAST(min(CASE WHEN 2 * cw >= tw THEN cents END)
       + min(CASE WHEN 2 * cw >= tw + 1 THEN cents END) AS BIGINT)
    AS wmedian_cents_x2
FROM cum GROUP BY l_returnflag
"""


#: coarse-bucket width (in cents) for the two-pass weighted-median rank
#: device: the TPC-H price domain tops out near 10.5M cents, so 2^16-cent
#: buckets keep pass 1 at a few hundred cells per flag at ANY corpus size
_WMED_COARSE = 1 << 16


@register("weighted_median_price", _WMED_ORACLE)
def q_weighted_median_price(spark, sf_dir):
    """Quantity-WEIGHTED median price per return flag — the weighted
    percentile primitive (an order for 40 units moves the "typical
    traded price" 40× more than a 1-unit order; the unweighted median
    answers a different question). Reported ×2 in exact cents (the
    engine's median device convention: lower + upper weighted median,
    so no float division touches the hash).

    Device (r13, VERDICT r12 #4): the TWO-PASS histogram-midrank. The
    r12 single-pass shape shuffled every distinct (flag, cents) cell —
    13.1 MB at sf0.1, the largest non-pair-family exchange, growing with
    distinct prices. Pass 1 aggregates 2^16-cent COARSE buckets (a few
    hundred cells per flag, bounded by the price DOMAIN, not the corpus),
    takes the per-flag running weight over those cells, and locates the
    one bucket containing each of the lower/upper weighted-median ranks
    plus its exclusive weight offset. Pass 2 re-scans lineitem, keeps
    only rows in the ≤2 target buckets per flag via a ≤6-row broadcast
    join, aggregates exact cents WITHIN those buckets (≤2·65536 cells per
    flag, domain-bounded), and reads the rank positions off offset +
    in-bucket running weight. Both exchanges are domain-bounded, so the
    shuffle no longer grows with the corpus at all; the price is a second
    (embarrassingly parallel, 3-column) scan — the guide §8 trade: decide
    with small rows, never shuffle corpus-sized state.

    Equivalence: cum weight is nondecreasing, so the first coarse bucket
    whose end-cum reaches the rank contains the exact rank-crossing cent,
    and in-bucket cum + exclusive offset reproduces the global cum for
    every cent in it — same min-CASE reads, identical output."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
    qty = F.expr("CAST(l_quantity AS BIGINT)")
    vals = li.select(
        "l_returnflag",
        cents.alias("cents"),
        qty.alias("q"),
    ).withColumn("cb", F.expr(f"cents div {_WMED_COARSE}"))

    # pass 1: coarse histogram + running/total weight over its
    # few-hundred cells; both windows ride ONE flag-keyed exchange.
    # The locate step is a single conditional aggregation (no union of
    # filtered branches — Catalyst would re-derive the whole subtree,
    # and with it the scan, per branch).
    coarse = vals.groupBy("l_returnflag", "cb").agg(
        F.sum("q").cast("long").alias("wq")
    )
    wcum = Window.partitionBy("l_returnflag").orderBy("cb").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy("l_returnflag")
    cum = coarse.withColumn("cwb", F.sum("wq").over(wcum)).withColumn(
        "tw", F.max("cwb").over(wall)
    )
    # first bucket whose END-cum reaches each rank holds the crossing
    # cent; carry its exclusive offset (global cum before the bucket)
    s_lo = F.when(
        F.expr("2 * cwb >= tw"),
        F.struct(F.col("cb"), (F.col("cwb") - F.col("wq")).alias("off")),
    )
    s_hi = F.when(
        F.expr("2 * cwb >= tw + 1"),
        F.struct(F.col("cb"), (F.col("cwb") - F.col("wq")).alias("off")),
    )
    tt = cum.groupBy("l_returnflag").agg(
        F.min(s_lo).alias("lo"),
        F.min(s_hi).alias("hi"),
        F.max("tw").cast("long").alias("tw"),
    )
    targets = tt.select(
        "l_returnflag",
        "tw",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("which"),
                    F.col("lo.cb").alias("cb"),
                    F.col("lo.off").alias("off"),
                ),
                F.struct(
                    F.lit(1).alias("which"),
                    F.col("hi.cb").alias("cb"),
                    F.col("hi.off").alias("off"),
                ),
            )
        ).alias("t"),
    ).select("l_returnflag", "tw", "t.which", "t.cb", "t.off")

    # pass 2: exact cents inside the ≤2 target buckets per flag only
    # (≤2·2^16 cells per flag — domain-bounded); rank reads are again one
    # conditional aggregation over the in-bucket running weight.
    fine = vals.join(F.broadcast(targets), ["l_returnflag", "cb"]).groupBy(
        "l_returnflag", "which", "off", "tw", "cents"
    ).agg(F.sum("q").cast("long").alias("wq"))
    wfin = Window.partitionBy("l_returnflag", "which").orderBy(
        "cents"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = fine.withColumn("cw", F.col("off") + F.sum("wq").over(wfin))
    return ranked.groupBy("l_returnflag").agg(
        F.max("tw").cast("long").alias("total_weight"),
        F.expr(
            "CAST(min(CASE WHEN which = 0 AND 2 * cw >= tw THEN cents END)"
            " + min(CASE WHEN which = 1 AND 2 * cw >= tw + 1 THEN cents END)"
            " AS BIGINT)"
        ).alias("wmedian_cents_x2"),
    )


# ==========================================================================
# round-7 tier 3: corpus growth, behavioral entropy, multiple-testing
# screens, concentration indexes
# ==========================================================================

# --------------------------------------------------------------------------
# token novelty curve (vocabulary growth by corpus position)
# --------------------------------------------------------------------------

_NOVELTY_BUCKETS = 10

_NOVELTY_ORACLE = f"""
WITH tk AS (
  SELECT doc_id,
    unnest(list_filter(string_split(text, ' '), nt -> nt <> '')) AS t
  FROM documents
),
fs AS (SELECT t, CAST(min(doc_id) AS BIGINT) AS first_doc FROM tk GROUP BY t),
mx AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS hi FROM documents),
tb AS (
  SELECT first_doc * {_NOVELTY_BUCKETS} // hi AS bucket,
    CAST(count(*) AS BIGINT) AS n_new_tokens
  FROM fs CROSS JOIN mx GROUP BY 1
),
db AS (
  SELECT doc_id * {_NOVELTY_BUCKETS} // hi AS bucket,
    CAST(count(*) AS BIGINT) AS n_docs
  FROM documents CROSS JOIN mx GROUP BY 1
)
SELECT CAST(db.bucket AS INT) AS bucket, db.n_docs,
  CAST(coalesce(tb.n_new_tokens, 0) AS BIGINT) AS n_new_tokens,
  CAST(sum(coalesce(tb.n_new_tokens, 0))
       OVER (ORDER BY db.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS cum_vocab
FROM db LEFT JOIN tb ON db.bucket = tb.bucket
"""


@register("token_novelty_curve", _NOVELTY_ORACLE)
def q_token_novelty_curve(spark, sf_dir):
    """Vocabulary-growth curve by corpus position: each token is charged
    to the FIRST document (lowest doc_id) containing it; documents fold
    into {b} id-range buckets; the curve of new-token counts per bucket
    (plus the cumulative vocabulary) is the marginal-novelty read a
    curation pipeline uses to decide when more of a source stops adding
    vocabulary — the empirical curve `heaps_law_fit` fits a power law
    to.

    Plan: one distinct-shaped min-aggregate per token (map-side
    combined, the only corpus-sized exchange), a one-row max broadcast,
    and a {b}-row window. Buckets are id-range (pure arithmetic), never
    an ntile over the corpus — no global sort at any size.""".format(
        b=_NOVELTY_BUCKETS
    )
    docs = _t(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id",
        F.explode(
            F.expr("filter(split(text, ' '), nt -> nt <> '')")
        ).alias("t"),
    )
    fs = tk.groupBy("t").agg(F.min("doc_id").cast("long").alias("first_doc"))
    mx = docs.agg((F.max("doc_id") + 1).cast("long").alias("hi"))
    tb = (
        fs.crossJoin(F.broadcast(mx))
        .groupBy(
            F.expr(f"first_doc * {_NOVELTY_BUCKETS} DIV hi").alias("bucket")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_new_tokens"))
    )
    db = (
        docs.crossJoin(F.broadcast(mx))
        .groupBy(
            F.expr(f"doc_id * {_NOVELTY_BUCKETS} DIV hi").alias("bucket")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    wcum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        db.join(tb, "bucket", "left")
        .select(
            F.col("bucket").cast("int"),
            "n_docs",
            F.coalesce("n_new_tokens", F.lit(0))
            .cast("long")
            .alias("n_new_tokens"),
        )
        .withColumn(
            "cum_vocab", F.sum("n_new_tokens").over(wcum).cast("long")
        )
    )


# --------------------------------------------------------------------------
# per-user behavioral entropy
# --------------------------------------------------------------------------

_ENTROPY_ORACLE = """
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS ct
  FROM events GROUP BY user_id, event_type
),
n AS (
  SELECT user_id, CAST(sum(ct) AS BIGINT) AS ne FROM c GROUP BY user_id
),
terms AS (
  SELECT c.user_id, n.ne,
    CAST(round(-(CAST(c.ct AS DOUBLE) / CAST(n.ne AS DOUBLE))
               * ln(CAST(c.ct AS DOUBLE) / CAST(n.ne AS DOUBLE))
               * 1000000) AS BIGINT) AS em
  FROM c JOIN n USING (user_id)
)
SELECT user_id, CAST(max(ne) AS BIGINT) AS n_events,
  CAST(sum(em) AS BIGINT) AS entropy_micro_nats
FROM terms GROUP BY user_id
"""


@register("user_event_entropy", _ENTROPY_ORACLE)
def q_user_event_entropy(spark, sf_dir):
    """Shannon entropy of each user's event-type mix — the behavioral
    diversity score: near-zero entropy = single-action users (bots,
    scrapers, broken clients), near-ln(5) = uniform explorers. The
    per-user analogue of the corpus-level `char_entropy_stats`.

    Device: one (user, type) integer count aggregate (cells bounded by
    users × |event types|), per-cell −p·ln p rounded to MICRO-nats
    BEFORE the order-free integer sum per user (the MI device) — no
    float fold order, ln() ulp absorbed by the quantization. Two keyed
    aggregates on the same user key; Catalyst reuses the exchange."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("ct")
    )
    n = c.groupBy("user_id").agg(F.sum("ct").cast("long").alias("ne"))
    terms = c.join(n, "user_id").select(
        "user_id",
        "ne",
        F.expr(
            "CAST(round(-(CAST(ct AS DOUBLE) / CAST(ne AS DOUBLE))"
            " * ln(CAST(ct AS DOUBLE) / CAST(ne AS DOUBLE))"
            " * 1000000) AS BIGINT)"
        ).alias("em"),
    )
    return terms.groupBy("user_id").agg(
        F.max("ne").cast("long").alias("n_events"),
        F.sum("em").cast("long").alias("entropy_micro_nats"),
    )


# --------------------------------------------------------------------------
# one-vs-rest KS drift screen with Benjamini-Hochberg correction
# --------------------------------------------------------------------------

_BH_ALPHA_PPM = 100_000  # FDR 0.1 in ppm — same literal in both engines

_KS_BH_ORACLE = f"""
WITH vals AS (SELECT DISTINCT n_chars AS v FROM documents),
srcs AS (
  SELECT source, CAST(count(*) AS BIGINT) AS ns FROM documents
  GROUP BY source
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
sc AS (
  SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY source, n_chars
),
grid AS (
  SELECT s.source, s.ns, vals.v, coalesce(sc.c, 0) AS c
  FROM srcs s CROSS JOIN vals
  LEFT JOIN sc ON sc.source = s.source AND sc.v = vals.v
),
cums AS (
  SELECT source, ns, v,
    sum(c) OVER (PARTITION BY source ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
    sum(c) OVER (ORDER BY v, source
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x
  FROM grid
),
call AS (
  SELECT v, CAST(count(*) AS BIGINT) AS cv FROM documents
  GROUP BY n_chars
),
ca AS (
  SELECT v, sum(cv) OVER (ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS call
  FROM (SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS cv
        FROM documents GROUP BY n_chars)
),
d AS (
  SELECT g.source, g.ns, t.n,
    CAST(max(abs(g.cs * (t.n - g.ns) - (ca.call - g.cs) * g.ns)) AS BIGINT)
      AS d_num
  FROM cums g JOIN ca ON g.v = ca.v CROSS JOIN tot t
  GROUP BY g.source, g.ns, t.n
),
p AS (
  SELECT source, ns, n,
    CASE WHEN ns = n THEN NULL
      ELSE CAST(d_num * 1000000 // (ns * (n - ns)) AS BIGINT) END AS d_ppm,
    CASE WHEN ns = n THEN NULL ELSE round(least(1.0,
      2.0 * exp(-2.0
        * ((CAST(ns AS DOUBLE) * CAST(n - ns AS DOUBLE)) / CAST(n AS DOUBLE))
        * (CAST(d_num AS DOUBLE) / (CAST(ns AS DOUBLE) * CAST(n - ns AS DOUBLE)))
        * (CAST(d_num AS DOUBLE) / (CAST(ns AS DOUBLE) * CAST(n - ns AS DOUBLE)))
      )), 6) END AS p_value
  FROM d
),
r AS (
  SELECT *, CAST(row_number() OVER (ORDER BY p_value, source) AS BIGINT)
    AS bh_rank,
    CAST(count(*) OVER () AS BIGINT) AS m
  FROM p
),
k AS (
  SELECT *,
    max(CASE WHEN p_value * 1000000 <= bh_rank * {_BH_ALPHA_PPM} / m
             THEN bh_rank ELSE 0 END) OVER () AS kstar
  FROM r
)
SELECT source, ns AS n_source, d_ppm, p_value,
  CAST(bh_rank AS INT) AS bh_rank,
  bh_rank <= kstar AS drifted
FROM k
"""


@register("ks_source_screen_bh", _KS_BH_ORACLE)
def q_ks_source_screen_bh(spark, sf_dir):
    """One-vs-rest KS drift screen per source with Benjamini–Hochberg
    correction: for each source, the exact two-sample KS distance
    between ITS document-length distribution and everyone else's, the
    asymptotic p-value 2·exp(−2·ne·D²), and the BH step-up decision at
    FDR 0.1 — the multiple-testing discipline a 1000-source corpus
    screen needs (at α=0.05 a 1000-source scan hands you 50 false
    alarms; BH caps the FALSE DISCOVERY RATE instead).
    `length_ks_matrix` gives pairwise distances; this gives per-source
    DECISIONS.

    Exactness: the KS sup runs over exact integer cross-products
    (cs·(n−ns) − rest·ns — no division before the max); D and p are
    one-per-source double chains from those integers; the BH rank is a
    |sources|-row window with a full tie-break. Frames: the value grid
    is |sources| × |distinct lengths| (domain-bounded), then |sources|
    rows."""
    docs = _t(spark, sf_dir, "documents")
    vals = docs.select(F.col("n_chars").alias("v")).distinct()
    srcs = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("ns")
    )
    tot = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    sc = docs.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    grid = (
        srcs.crossJoin(F.broadcast(vals))
        .join(sc, ["source", "v"], "left")
        .select("source", "ns", "v", F.coalesce("c", F.lit(0)).alias("c"))
    )
    wsrc = Window.partitionBy("source").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cums = grid.withColumn("cs", F.sum("c").over(wsrc))
    ca = (
        docs.groupBy(F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("cv"))
        .withColumn(
            "call",
            F.sum("cv").over(
                Window.orderBy("v").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
        .select("v", "call")
    )
    d = (
        cums.join(F.broadcast(ca), "v")
        .crossJoin(F.broadcast(tot))
        .groupBy("source", "ns", "n")
        .agg(
            F.max(
                F.abs(
                    F.col("cs") * (F.col("n") - F.col("ns"))
                    - (F.col("call") - F.col("cs")) * F.col("ns")
                )
            )
            .cast("long")
            .alias("d_num")
        )
    )
    # ns = n means ONE source owns every document: the one-vs-rest
    # "rest" sample is empty and D is undefined — NULL in both engines
    # (the ab_conversion_ztest degenerate-z convention).
    p = d.select(
        "source",
        "ns",
        "n",
        F.expr(
            "CASE WHEN ns = n THEN NULL"
            " ELSE CAST(d_num * 1000000 DIV (ns * (n - ns)) AS BIGINT) END"
        ).alias("d_ppm"),
        F.expr(
            "CASE WHEN ns = n THEN NULL ELSE round("
            "least(1.0, 2.0 * exp(-2.0"
            " * ((CAST(ns AS DOUBLE) * CAST(n - ns AS DOUBLE))"
            " / CAST(n AS DOUBLE))"
            " * (CAST(d_num AS DOUBLE)"
            " / (CAST(ns AS DOUBLE) * CAST(n - ns AS DOUBLE)))"
            " * (CAST(d_num AS DOUBLE)"
            " / (CAST(ns AS DOUBLE) * CAST(n - ns AS DOUBLE))))), 6) END"
        ).alias("p_value"),
    )
    # NULLS LAST explicitly: Spark defaults ASC to NULLS FIRST, DuckDB
    # to NULLS LAST — the degenerate NULL p row must rank LAST in both.
    wr = Window.orderBy(F.col("p_value").asc_nulls_last(), "source")
    r = p.withColumn(
        "bh_rank", F.row_number().over(wr).cast("long")
    ).withColumn(
        "m", F.count(F.lit(1)).over(Window.partitionBy()).cast("long")
    )
    # BH is a STEP-UP rule: reject every rank <= k* where k* is the
    # LARGEST rank with p_(i) <= i*alpha/m — not a per-row threshold
    # test (a row below the step-up cutoff but above its own line must
    # still be rejected). k* via a whole-set window max, same in both
    # engines.
    k = r.withColumn(
        "kstar",
        F.max(
            F.expr(
                f"CASE WHEN p_value * 1000000 <= bh_rank * {_BH_ALPHA_PPM} / m"
                " THEN bh_rank ELSE 0 END"
            )
        ).over(Window.partitionBy()),
    )
    return k.select(
        "source",
        F.col("ns").alias("n_source"),
        "d_ppm",
        "p_value",
        F.col("bh_rank").cast("int"),
        (F.col("bh_rank") <= F.col("kstar")).alias("drifted"),
    )


# --------------------------------------------------------------------------
# revenue concentration (Herfindahl-Hirschman index)
# --------------------------------------------------------------------------

_HHI_ORACLE = """
WITH r AS (
  SELECT o_custkey,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
  FROM orders GROUP BY o_custkey
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_customers,
    CAST(sum(rev) AS DOUBLE) AS sr,
    -- per-TERM decimal product: rev is DATA-SIZED (a whale customer past
    -- ~$30M = 3e9 cents squares over int64 before the HUGEINT sum ever
    -- sees it) — r10 overflow audit
    CAST(sum(CAST(rev AS DECIMAL(19,0)) * rev) AS DOUBLE) AS srr
  FROM r
)
SELECT n_customers,
  CAST(round(srr / (sr * sr) * 1000000) AS BIGINT) AS hhi_ppm,
  round(sr * sr / srr, 2) AS equivalent_n
FROM s
"""


@register("revenue_hhi_concentration", _HHI_ORACLE)
def q_revenue_hhi_concentration(spark, sf_dir):
    """Herfindahl–Hirschman concentration of revenue across customers:
    HHI = Σ share² (ppm) and its reciprocal — the "equivalent number of
    equal customers". The one-number market-concentration companion to
    the Lorenz-curve family (`revenue_gini`, `revenue_top_decile_share`):
    antitrust reads HHI, capacity planning reads equivalent_n.

    Exactness + scale: per-customer revenue folds to exact integer
    cents; Σrev and Σrev² accumulate as decimal(38,0)/HUGEINT (order
    free, overflow-free), cast to double once for the single ratio.
    Two keyed aggregates — the second is one row."""
    o = _t(spark, sf_dir, "orders")
    r = o.groupBy("o_custkey").agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .cast("long")
        .alias("rev")
    )
    s = r.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.col("rev").cast("decimal(38,0)")).cast("double").alias("sr"),
        F.sum(F.expr("CAST(rev AS DECIMAL(38,0)) * CAST(rev AS DECIMAL(38,0))"))
        .cast("double")
        .alias("srr"),
    )
    return s.select(
        "n_customers",
        F.expr("CAST(round(srr / (sr * sr) * 1000000) AS BIGINT)").alias(
            "hhi_ppm"
        ),
        F.round(F.expr("sr * sr / srr"), 2).alias("equivalent_n"),
    )


# ==========================================================================
# round-7 tier 4: nonparametric confidence + seasonal anomaly detection
# ==========================================================================

# --------------------------------------------------------------------------
# DKW confidence band around the median
# --------------------------------------------------------------------------

#: ln(2 / 0.05) as an exact literal chain both engines evaluate identically
_DKW_LN_TERM = "ln(2.0 / 0.05)"

_DKW_ORACLE = f"""
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
),
h AS (SELECT cents, CAST(count(*) AS BIGINT) AS hn FROM v GROUP BY cents),
cum AS (
  SELECT cents, hn,
    sum(hn) OVER (ORDER BY cents
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
    sum(hn) OVER () AS n
  FROM h
),
eps AS (
  SELECT max(n) AS n,
    sqrt(({_DKW_LN_TERM}) / (2.0 * CAST(max(n) AS DOUBLE))) AS e
  FROM cum
)
SELECT CAST(eps.n AS BIGINT) AS n,
  CAST(round(eps.e * 1000000) AS BIGINT) AS dkw_eps_ppm,
  CAST(min(CASE WHEN 2 * cum.cw >= eps.n THEN cents END)
       + min(CASE WHEN 2 * cum.cw >= eps.n + 1 THEN cents END) AS BIGINT)
    AS median_cents_x2,
  CAST(min(CASE WHEN CAST(cum.cw AS DOUBLE)
                     >= CAST(eps.n AS DOUBLE) * (0.5 - eps.e)
                THEN cents END) AS BIGINT) AS band_lo_cents,
  CAST(min(CASE WHEN CAST(cum.cw AS DOUBLE)
                     >= CAST(eps.n AS DOUBLE) * (0.5 + eps.e)
                THEN cents END) AS BIGINT) AS band_hi_cents
FROM cum CROSS JOIN eps
GROUP BY eps.n, eps.e
"""


@register("median_dkw_band", _DKW_ORACLE)
def q_median_dkw_band(spark, sf_dir):
    """95% Dvoretzky–Kiefer–Wolfowitz confidence band around the median
    of order totals: ε = sqrt(ln(2/α)/(2n)) bounds the WHOLE empirical
    CDF simultaneously, so [value at CDF 0.5−ε, value at CDF 0.5+ε] is a
    distribution-free confidence interval for the median — the honest
    error bar a profiling report should print next to every exact
    percentile (`percentile_prices` gives the point; this gives the
    uncertainty, with zero distributional assumptions and no bootstrap
    resampling).

    Device: the bounded cents-histogram cumulative window; band
    endpoints are min-CASE rank reads against integer-vs-double
    thresholds whose double chain (one sqrt from one exact integer n)
    is shared textually with the oracle. One corpus exchange."""
    o = _t(spark, sf_dir, "orders")
    h = o.groupBy(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents")
    ).agg(F.count(F.lit(1)).cast("long").alias("hn"))
    wcum = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = h.withColumn("cw", F.sum("hn").over(wcum)).withColumn(
        "n", F.sum("hn").over(Window.partitionBy())
    )
    return cum.groupBy("n").agg(
        F.expr(
            f"CAST(round(sqrt(({_DKW_LN_TERM}) / (2.0 * CAST(n AS DOUBLE)))"
            f" * 1000000) AS BIGINT)"
        ).alias("dkw_eps_ppm"),
        F.expr(
            "CAST(min(CASE WHEN 2 * cw >= n THEN cents END)"
            " + min(CASE WHEN 2 * cw >= n + 1 THEN cents END) AS BIGINT)"
        ).alias("median_cents_x2"),
        F.expr(
            f"CAST(min(CASE WHEN CAST(cw AS DOUBLE) >= CAST(n AS DOUBLE)"
            f" * (0.5 - sqrt(({_DKW_LN_TERM}) / (2.0 * CAST(n AS DOUBLE))))"
            f" THEN cents END) AS BIGINT)"
        ).alias("band_lo_cents"),
        F.expr(
            f"CAST(min(CASE WHEN CAST(cw AS DOUBLE) >= CAST(n AS DOUBLE)"
            f" * (0.5 + sqrt(({_DKW_LN_TERM}) / (2.0 * CAST(n AS DOUBLE))))"
            f" THEN cents END) AS BIGINT)"
        ).alias("band_hi_cents"),
    ).select(
        F.col("n").cast("long"),
        "dkw_eps_ppm",
        "median_cents_x2",
        "band_lo_cents",
        "band_hi_cents",
    )


# --------------------------------------------------------------------------
# seasonal-adjusted robust anomaly flags over the daily series
# --------------------------------------------------------------------------

_SEAS_ANOM_ORACLE = """
WITH d AS (
  SELECT date_trunc('day', ts) AS d, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
g AS (
  SELECT CAST(isodow(d) AS BIGINT) AS wd,
    CAST(sum(c) AS BIGINT) AS sg, CAST(count(*) AS BIGINT) AS ng
  FROM d GROUP BY 1
),
dev AS (
  SELECT d.d, d.c,
    CAST(sg * 1000000 // ng AS BIGINT) AS expected_micro,
    CAST(d.c * 1000000 - sg * 1000000 // ng AS BIGINT) AS dev_micro
  FROM d JOIN g ON CAST(isodow(d.d) AS BIGINT) = g.wd
),
med AS (
  SELECT CAST(min(CASE WHEN 2 * cw >= n THEN dev_micro END)
       + min(CASE WHEN 2 * cw >= n + 1 THEN dev_micro END) AS BIGINT) AS m2
  FROM (
    SELECT dev_micro,
      sum(hn) OVER (ORDER BY dev_micro
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      sum(hn) OVER () AS n
    FROM (SELECT dev_micro, CAST(count(*) AS BIGINT) AS hn
          FROM dev GROUP BY dev_micro)
  )
),
ad AS (
  SELECT dev.*, med.m2,
    abs(2 * dev.dev_micro - med.m2) AS a2
  FROM dev CROSS JOIN med
),
mad AS (
  SELECT CAST(min(CASE WHEN 2 * cw >= n THEN a2 END)
       + min(CASE WHEN 2 * cw >= n + 1 THEN a2 END) AS BIGINT) AS mad4
  FROM (
    SELECT a2,
      sum(hn) OVER (ORDER BY a2
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      sum(hn) OVER () AS n
    FROM (SELECT a2, CAST(count(*) AS BIGINT) AS hn FROM ad GROUP BY a2)
  )
)
SELECT strftime(ad.d, '%Y-%m-%d') AS day, ad.c AS n_events,
  ad.expected_micro, ad.dev_micro,
  round(CASE WHEN mad.mad4 = 0 THEN NULL
             ELSE (2.0 * ad.dev_micro - ad.m2)
                  / (1.4826 * (CAST(mad.mad4 AS DOUBLE) / 2.0)) END, 6)
    AS robust_z,
  CASE WHEN mad.mad4 = 0 THEN NULL
       ELSE abs((2.0 * ad.dev_micro - ad.m2)
                / (1.4826 * (CAST(mad.mad4 AS DOUBLE) / 2.0))) > 3.5 END
    AS is_anomaly
FROM ad CROSS JOIN mad
"""


@register("seasonal_adjusted_anomalies", _SEAS_ANOM_ORACLE)
def q_seasonal_adjusted_anomalies(spark, sf_dir):
    """Seasonal-adjusted robust anomaly flags over the daily event
    series: deviations are measured against each day's WEEKDAY mean (so
    a quiet Sunday is not an anomaly), then scored with the
    median/MAD robust z — the composition drift monitors actually run
    (`mad_outlier_events` scores raw values; `weekday_anova_events`
    says the weekday effect is real; this removes it before flagging).
    |z| > 3.5 is the standard Iglewicz–Hoaglin cut.

    Exactness: weekday means and deviations are integer micro-units;
    both medians (deviation and |deviation−median|) are x2/x4-scaled
    min-CASE rank reads over the calendar-bounded daily frame — no
    float until the single z chain, NULL-guarded for the MAD=0 corpus.
    Frames never exceed |days| rows after the first keyed count."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    d = d.localCheckpoint(eager=True)
    g = d.groupBy(
        F.expr("CAST(weekday(d) + 1 AS BIGINT)").alias("wd")
    ).agg(
        F.sum("c").cast("long").alias("sg"),
        F.count(F.lit(1)).cast("long").alias("ng"),
    )
    dev = d.join(
        F.broadcast(g),
        F.expr("CAST(weekday(d) + 1 AS BIGINT)") == F.col("wd"),
    ).select(
        "d",
        "c",
        F.expr("CAST(sg * 1000000 DIV ng AS BIGINT)").alias(
            "expected_micro"
        ),
        F.expr(
            "CAST(c * 1000000 - sg * 1000000 DIV ng AS BIGINT)"
        ).alias("dev_micro"),
    )
    dev = dev.localCheckpoint(eager=True)

    def _med_x2(frame, col):
        h = frame.groupBy(col).agg(F.count(F.lit(1)).cast("long").alias("hn"))
        cum = h.withColumn(
            "cw",
            F.sum("hn").over(
                Window.orderBy(col).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        ).withColumn("n", F.sum("hn").over(Window.partitionBy()))
        return cum.agg(
            F.expr(
                f"CAST(min(CASE WHEN 2 * cw >= n THEN {col} END)"
                f" + min(CASE WHEN 2 * cw >= n + 1 THEN {col} END)"
                f" AS BIGINT)"
            ).alias("m")
        )

    med = _med_x2(dev, "dev_micro").withColumnRenamed("m", "m2")
    ad = dev.crossJoin(F.broadcast(med)).withColumn(
        "a2", F.abs(2 * F.col("dev_micro") - F.col("m2"))
    )
    ad = ad.localCheckpoint(eager=True)
    mad = _med_x2(ad, "a2").withColumnRenamed("m", "mad4")
    z = (
        "(2.0 * dev_micro - m2)"
        " / (1.4826 * (CAST(mad4 AS DOUBLE) / 2.0))"
    )
    return ad.crossJoin(F.broadcast(mad)).select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("c").alias("n_events"),
        "expected_micro",
        "dev_micro",
        F.round(
            F.expr(f"CASE WHEN mad4 = 0 THEN NULL ELSE {z} END"), 6
        ).alias("robust_z"),
        F.expr(
            f"CASE WHEN mad4 = 0 THEN NULL ELSE abs({z}) > 3.5 END"
        ).alias("is_anomaly"),
    )


# --------------------------------------------------------------------------
# decile gains / lift table (the AUC's actionable companion)
# --------------------------------------------------------------------------

_LIFT_ORACLE = """
WITH lab AS (
  -- NULL values are not scoreable and are excluded in both arms (the
  -- NULL histogram bucket sits on opposite ends of the engines' default
  -- null ordering inside the cumulative window)
  SELECT CAST(round(value * 100) AS BIGINT) AS v_cents,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
  FROM events WHERE value IS NOT NULL
),
hist AS (
  SELECT v_cents, CAST(count(*) AS BIGINT) AS hn,
    CAST(sum(pos) AS BIGINT) AS hp
  FROM lab GROUP BY v_cents
),
cum AS (
  SELECT v_cents, hn, hp,
    sum(hn) OVER (ORDER BY v_cents
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - hn
      AS below,
    sum(hn) OVER () AS tot
  FROM hist
),
dm AS (
  SELECT v_cents, least(9, below * 10 // tot) AS decile, hn, hp FROM cum
),
dec AS (
  SELECT decile, CAST(sum(hn) AS BIGINT) AS n,
    CAST(sum(hp) AS BIGINT) AS n_pos
  FROM dm GROUP BY decile
),
tt AS (
  SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(n_pos) AS BIGINT) AS tp
  FROM dec
)
SELECT CAST(dec.decile AS INT) AS decile, dec.n, dec.n_pos,
  CAST(dec.n_pos * 1000000 // dec.n AS BIGINT) AS response_ppm,
  CAST(CASE WHEN tt.tp = 0 THEN NULL
            ELSE floor(CAST(dec.n_pos AS DOUBLE) * CAST(tt.tn AS DOUBLE)
                 * 1000000.0 / (CAST(dec.n AS DOUBLE) * CAST(tt.tp AS DOUBLE)))
            END
       AS BIGINT) AS lift_ppm,
  CAST(sum(dec.n) OVER (ORDER BY dec.decile DESC
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS cum_n_from_top,
  CAST(CASE WHEN tt.tp = 0 THEN NULL
            ELSE sum(dec.n_pos) OVER (ORDER BY dec.decile DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 * 1000000 // tt.tp END AS BIGINT) AS cum_gain_ppm
FROM dec CROSS JOIN tt
"""


@register("purchase_decile_lift", _LIFT_ORACLE)
def q_purchase_decile_lift(spark, sf_dir):
    """Decile gains/lift table of the event value as a purchase
    predictor — the ACTIONABLE companion of `value_purchase_auc`: AUC
    says whether the score ranks at all; the lift table says what
    targeting the top decile(s) actually buys (response rate per
    decile, lift vs the base rate, cumulative gain from the top). The
    same table every campaign-targeting and sample-prioritization
    pipeline prints.

    Device: the bounded cents histogram → exclusive-running-sum decile
    map (quality_dup_calibration's device — every equal value lands in
    one decile, no corpus row_number), decile aggregate, and a 10-row
    top-down cumulative window. All integer ppm; NULL-guarded when no
    positives exist."""
    ev = _t(spark, sf_dir, "events")
    # NULL values excluded in both arms (see oracle comment)
    lab = ev.where(F.col("value").isNotNull()).select(
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v_cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "pos"
        ),
    )
    hist = lab.groupBy("v_cents").agg(
        F.count(F.lit(1)).cast("long").alias("hn"),
        F.sum("pos").cast("long").alias("hp"),
    )
    wcum = Window.orderBy("v_cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn(
        "below", F.sum("hn").over(wcum) - F.col("hn")
    ).withColumn("tot", F.sum("hn").over(Window.partitionBy()))
    dm = cum.select(
        F.expr("least(9, below * 10 DIV tot)").alias("decile"), "hn", "hp"
    )
    dec = dm.groupBy("decile").agg(
        F.sum("hn").cast("long").alias("n"),
        F.sum("hp").cast("long").alias("n_pos"),
    )
    tt = dec.agg(
        F.sum("n").cast("long").alias("tn"),
        F.sum("n_pos").cast("long").alias("tp"),
    )
    wtop = Window.orderBy(F.col("decile").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        dec.crossJoin(F.broadcast(tt))
        .select(
            F.col("decile").cast("int"),
            "n",
            "n_pos",
            F.expr("CAST(n_pos * 1000000 DIV n AS BIGINT)").alias(
                "response_ppm"
            ),
            # lift runs in DOUBLE with identical op order both engines:
            # the BIGINT form n_pos·tn·1e6 overflows int64 (ANSI throw)
            # at ~10^7 users; doubles are exact below 2^53 (so values are
            # bit-identical at any driver/test scale) and round
            # identically per IEEE beyond it (fixed r9, the KS device)
            F.expr(
                "CAST(CASE WHEN tp = 0 THEN NULL"
                " ELSE floor(CAST(n_pos AS DOUBLE) * CAST(tn AS DOUBLE)"
                " * 1000000.0 / (CAST(n AS DOUBLE) * CAST(tp AS DOUBLE)))"
                " END AS BIGINT)"
            ).alias("lift_ppm"),
            F.sum("n").over(wtop).cast("long").alias("cum_n_from_top"),
            F.expr(
                "CAST(CASE WHEN tp = 0 THEN NULL ELSE sum(n_pos) OVER ("
                "ORDER BY decile DESC ROWS BETWEEN UNBOUNDED PRECEDING"
                " AND CURRENT ROW) * 1000000 DIV tp END AS BIGINT)"
            ).alias("cum_gain_ppm"),
        )
    )


# ==========================================================================
# round-7 tier 5: graph reachability census + robust quantization bounds
# ==========================================================================

# --------------------------------------------------------------------------
# fixed-depth BFS hop histogram over the kNN graph
# --------------------------------------------------------------------------

_BFS_HOPS = 4


def _hop_oracle() -> str:
    from py_datalake_move_files_spark.oracle_knn import (
        KNN_EDGES_CTE as _KNN_EDGES_CTE,
        KNN_PRELUDE as _KNN_PRELUDE,
        UND_DEG_DED_CTE as _UND_DEG_DED_CTE,
    )

    # every chain CTE is MATERIALIZED: r{k} references r{k-1} two or
    # three times, and without materialization DuckDB re-inlines the
    # whole kNN prelude per reference — exponential re-evaluation that
    # hangs even at sf0.001 (observed; the Spark side cuts lineage with
    # localCheckpoint for exactly the same reason).
    ctes = [
        """,
degm AS MATERIALIZED (SELECT node FROM deg),
adj2 AS MATERIALIZED (
  SELECT u AS ctr, v AS nb FROM und
  UNION ALL SELECT v AS ctr, u AS nb FROM und
),
seed AS (SELECT min(node) AS s FROM degm),
r0 AS MATERIALIZED (SELECT s AS node FROM seed)"""
    ]
    for k in range(1, _BFS_HOPS + 1):
        ctes.append(
            f""",
n{k} AS MATERIALIZED (
  SELECT DISTINCT a.nb AS node
  FROM r{k - 1} f JOIN adj2 a ON a.ctr = f.node
  WHERE a.nb NOT IN (SELECT node FROM r{k - 1})
),
r{k} AS MATERIALIZED (
  SELECT node FROM r{k - 1} UNION SELECT node FROM n{k}
)"""
        )
    unions = ["SELECT CAST(0 AS INT) AS hop, CAST(count(*) AS BIGINT) AS n_nodes FROM r0"]
    for k in range(1, _BFS_HOPS + 1):
        unions.append(
            f"SELECT CAST({k} AS INT), CAST(count(*) AS BIGINT) FROM n{k}"
        )
    unions.append(
        f"SELECT CAST(-1 AS INT), CAST("
        f"(SELECT count(*) FROM degm) - (SELECT count(*) FROM r{_BFS_HOPS})"
        f" AS BIGINT)"
    )
    return (
        _KNN_PRELUDE
        + _KNN_EDGES_CTE
        + _UND_DEG_DED_CTE
        + "".join(ctes)
        + "\n"
        + "\nUNION ALL\n".join(unions)
    )


@register("knn_hop_histogram", _hop_oracle())
def q_knn_hop_histogram(spark, sf_dir):
    """Fixed-depth BFS reachability census over the kNN graph: how many
    nodes sit exactly 1, 2, 3, 4 hops from the seed (the lowest node
    id), and how many are unreachable within {h} hops (hop = −1) — the
    expansion profile that separates a well-mixed embedding graph (ball
    grows geometrically, tiny tail) from a fragmented one (big −1 mass
    = isolated islands the component census counts but does not
    localize).

    Plan: {h} chained frontier joins against the symmetric adjacency,
    each frontier BROADCAST (ball sizes are ≪ corpus until the last
    hop on any expander-like graph), each hop one distinct — a fixed,
    non-iterative pipeline (no convergence loop, no driver round-trips)
    with an exactly-mirrored chained-CTE oracle. The depth is a
    constant: production reachability scans pick the hop budget up
    front and pay |frontier|·k work per hop.""".format(h=_BFS_HOPS)
    from py_datalake_move_files_spark.queries_knn import _und_deg_ded

    und, deg, _ded = _und_deg_ded(spark, sf_dir)
    adj = und.select(
        F.col("u").alias("ctr"), F.col("v").alias("nb")
    ).unionAll(und.select(F.col("v").alias("ctr"), F.col("u").alias("nb")))
    adj = adj.localCheckpoint(eager=True)
    r = deg.agg(F.min("node").alias("node"))  # seed frontier
    r = r.localCheckpoint(eager=True)
    counts = [(0, r)]
    reached = r
    for k in range(1, _BFS_HOPS + 1):
        newk = (
            F.broadcast(reached.withColumnRenamed("node", "ctr"))
            .join(adj, "ctr")
            .select(F.col("nb").alias("node"))
            .distinct()
            .join(reached, "node", "left_anti")
        )
        newk = newk.localCheckpoint(eager=True)
        counts.append((k, newk))
        reached = reached.unionAll(newk).localCheckpoint(eager=True)
    out = None
    for k, frame in counts:
        row = frame.agg(F.count(F.lit(1)).cast("long").alias("n_nodes")).select(
            F.lit(k).cast("int").alias("hop"), "n_nodes"
        )
        out = row if out is None else out.unionAll(row)
    unreached = (
        deg.agg(F.count(F.lit(1)).cast("long").alias("t"))
        .crossJoin(
            reached.agg(F.count(F.lit(1)).cast("long").alias("rr"))
        )
        .select(
            F.lit(-1).cast("int").alias("hop"),
            (F.col("t") - F.col("rr")).cast("long").alias("n_nodes"),
        )
    )
    return out.unionAll(unreached)


# --------------------------------------------------------------------------
# per-dimension robust clip bounds (SQ calibration)
# --------------------------------------------------------------------------

_CLIP_LO_PCT = 1
_CLIP_HI_PCT = 99

_CLIP_ORACLE = f"""
WITH ex AS (
  SELECT u.dim - 1 AS dim,
    CAST(round(CAST(embedding[u.dim] AS DOUBLE) * 1000000.0) AS BIGINT)
      AS vmu
  FROM embeddings,
       unnest(generate_series(1, 64)) AS u(dim)
),
h AS (
  SELECT dim, vmu, CAST(count(*) AS BIGINT) AS hn FROM ex GROUP BY dim, vmu
),
cum AS (
  SELECT dim, vmu, hn,
    sum(hn) OVER (PARTITION BY dim ORDER BY vmu
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
    sum(hn) OVER (PARTITION BY dim) AS n
  FROM h
),
b AS (
  SELECT dim,
    CAST(min(CASE WHEN cw * 100 >= n * {_CLIP_LO_PCT} THEN vmu END)
         AS BIGINT) AS p01_micro,
    CAST(min(CASE WHEN cw * 100 >= n * {_CLIP_HI_PCT} THEN vmu END)
         AS BIGINT) AS p99_micro
  FROM cum GROUP BY dim
)
SELECT CAST(b.dim AS INT) AS dim, b.p01_micro, b.p99_micro,
  CAST(sum(CASE WHEN ex.vmu < b.p01_micro OR ex.vmu > b.p99_micro
                THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
FROM ex JOIN b ON ex.dim = b.dim
GROUP BY b.dim, b.p01_micro, b.p99_micro
"""


@register("embedding_dim_quantile_clip", _CLIP_ORACLE)
def q_embedding_dim_quantile_clip(spark, sf_dir):
    """Per-dimension robust clip bounds (p1/p99, nearest-rank) for the
    embedding matrix, plus how many values each bound would clip — the
    calibration table a scalar quantizer reads INSTEAD of min/max
    (`sq_encode` scales by the max; one outlier dimension value wastes
    the whole int8 range — clipping at p99 is the standard fix), and
    the per-dim companion of `embedding_norm_outliers`.

    Device: the GROUPED bounded-histogram rank read — posexplode to
    (dim, micro-value) cells, per-dim cumulative window (64 groups
    distribute), nearest-rank min-CASE reads, and one broadcast join
    back for the clip counts. All integers end to end."""
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.posexplode("embedding").alias("dim", "val")
    ).select(
        "dim",
        F.expr(
            "CAST(round(CAST(val AS DOUBLE) * 1000000.0) AS BIGINT)"
        ).alias("vmu"),
    )
    ex = ex.localCheckpoint(eager=True)
    h = ex.groupBy("dim", "vmu").agg(
        F.count(F.lit(1)).cast("long").alias("hn")
    )
    wc = Window.partitionBy("dim").orderBy("vmu").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = h.withColumn("cw", F.sum("hn").over(wc)).withColumn(
        "n", F.sum("hn").over(Window.partitionBy("dim"))
    )
    b = cum.groupBy("dim").agg(
        F.expr(
            f"CAST(min(CASE WHEN cw * 100 >= n * {_CLIP_LO_PCT}"
            f" THEN vmu END) AS BIGINT)"
        ).alias("p01_micro"),
        F.expr(
            f"CAST(min(CASE WHEN cw * 100 >= n * {_CLIP_HI_PCT}"
            f" THEN vmu END) AS BIGINT)"
        ).alias("p99_micro"),
    )
    return (
        ex.join(F.broadcast(b), "dim")
        .groupBy("dim", "p01_micro", "p99_micro")
        .agg(
            F.sum(
                F.when(
                    (F.col("vmu") < F.col("p01_micro"))
                    | (F.col("vmu") > F.col("p99_micro")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_clipped")
        )
        .select(
            F.col("dim").cast("int"),
            "p01_micro",
            "p99_micro",
            "n_clipped",
        )
    )


# ==========================================================================
# round-7 tier 6: rolling robust smoother + grouped mode
# ==========================================================================

_ROLL_WIN = 7

_ROLL_MED_ORACLE = f"""
WITH d AS (
  SELECT date_trunc('day', ts) AS d, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
fr AS (
  SELECT d, c,
    list(c) OVER (ORDER BY d
                  ROWS BETWEEN {_ROLL_WIN - 1} PRECEDING AND CURRENT ROW)
      AS w
  FROM d
)
SELECT strftime(d, '%Y-%m-%d') AS day, c AS n_events,
  CAST(len(w) AS INT) AS win_n,
  CAST(list_sort(w)[(len(w) + 1) // 2]
       + list_sort(w)[len(w) // 2 + 1] AS BIGINT) AS roll_median_x2
FROM fr
"""


@register("rolling_median_daily", _ROLL_MED_ORACLE)
def q_rolling_median_daily(spark, sf_dir):
    """Trailing {w}-day MEDIAN of the daily event count — the robust
    smoother dashboards should plot instead of the mean (one spike day
    drags a rolling mean for a week; the median shrugs it off).
    Reported ×2 in exact integers (lower+upper, the engine's median
    convention).

    Device: the EWMA frame trick pointed at rank statistics — a bounded
    ROWS window collects ≤ {w} counts into an array, sorted per row
    (constant work: the frame is a constant, not the corpus), and the
    two middle elements read by index. One exchange to the daily frame;
    window state is O(frame).""".format(w=_ROLL_WIN)
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wf = Window.orderBy("d").rowsBetween(-(_ROLL_WIN - 1), 0)
    fr = d.withColumn("w", F.collect_list("c").over(wf))
    return fr.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("c").alias("n_events"),
        F.size("w").cast("int").alias("win_n"),
        F.expr(
            "CAST(element_at(array_sort(w), CAST((size(w) + 1) DIV 2 AS INT))"
            " + element_at(array_sort(w), CAST(size(w) DIV 2 + 1 AS INT))"
            " AS BIGINT)"
        ).alias("roll_median_x2"),
    )


_MODE_ORACLE = """
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS ct
  FROM events GROUP BY user_id, event_type
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY ct DESC, event_type ASC) AS rn,
    CAST(sum(ct) OVER (PARTITION BY user_id) AS BIGINT) AS n
  FROM c
)
SELECT user_id, event_type AS modal_type, ct AS modal_count, n AS n_events,
  CAST(ct * 1000000 // n AS BIGINT) AS modal_share_ppm
FROM r WHERE rn = 1
"""


@register("modal_event_type_by_user", _MODE_ORACLE)
def q_modal_event_type_by_user(spark, sf_dir):
    """Statistical MODE per group: each user's most frequent event type
    with its share — the categorical summary `user_event_entropy`
    complements (entropy says HOW concentrated; the mode says ON WHAT).
    Tie-break is pinned (count desc, type asc) so the result is a pure
    function of the data.

    Plan: one (user, type) integer count (cells bounded by users ×
    |types|), one user-partitioned rank window over those cells —
    both stages share the user key, and the window frame is ≤ |types|
    rows per user at any corpus size."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("ct")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ct").desc(), F.col("event_type").asc()
    )
    r = c.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.sum("ct").over(Window.partitionBy("user_id")).cast("long")
    )
    return r.where(F.col("rn") == 1).select(
        "user_id",
        F.col("event_type").alias("modal_type"),
        F.col("ct").alias("modal_count"),
        F.col("n").alias("n_events"),
        F.expr("CAST(ct * 1000000 DIV n AS BIGINT)").alias(
            "modal_share_ppm"
        ),
    )
