"""Round-10 tier: privacy-distribution audit, nonparametric two-sample
testing, tokenizer-training analytics, and lexical-diversity measurement —
the governance layer a training-data pipeline runs over curated corpora.

New devices over the earlier tiers:

- ``t_closeness_audit`` — completes the privacy triad (k-anonymity r7,
  l-diversity r9): per quasi-identifier class, the Earth Mover's Distance
  between the class's sensitive-attribute distribution and the global one
  over ORDERED buckets. EMD over an ordered domain is the mean absolute
  prefix-sum gap, so the whole statistic is exact integer cumulative
  arithmetic (decimal cross-products per the r10 overflow rule) with one
  doubles-device ppm render at the end.
- ``mann_whitney_u_events`` — exact tie-corrected Mann–Whitney U from the
  VALUE HISTOGRAM (never a global rank sort): U counts win/tie pairs via
  the cumulative histogram of one group against the other's per-value
  counts — the rank-sum test as two keyed aggregates.
- ``bpe_merge_candidates`` — the first iteration of byte-pair-encoding
  tokenizer training: adjacent symbol-pair counts, computed over the
  DISTINCT word vocabulary weighted by word frequency (the classic BPE
  optimization — pair extraction touches |vocab| rows, not |corpus|).

Every query carries a full DuckDB oracle; integer/decimal exactness rules
follow the module doc of ``queries.py``.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from py_datalake_move_files_spark.functions.scaling import ensure_parallelism
from py_datalake_move_files_spark.queries import _t, register

# --------------------------------------------------------------------------
# t-closeness privacy audit (EMD to the global sensitive distribution)
# --------------------------------------------------------------------------

_TCLOSE_BUCKET = 1000.0

_TCLOSE_ORACLE = f"""
WITH rows_b AS (
  -- NULL sensitive values carry no bucket and are excluded in both arms
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / {_TCLOSE_BUCKET}) AS BIGINT) AS b
  FROM customer WHERE c_acctbal IS NOT NULL
),
g AS (
  SELECT b, count(*) AS gn FROM rows_b GROUP BY b
),
gc AS (
  SELECT b,
    sum(gn) OVER (ORDER BY b
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumg,
    sum(gn) OVER () AS nt,
    count(*) OVER () AS nb
  FROM g
),
cls AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS k
  FROM rows_b GROUP BY 1, 2
),
ch AS (
  SELECT c_nationkey, c_mktsegment, b, count(*) AS cn
  FROM rows_b GROUP BY 1, 2, 3
),
grid AS (
  SELECT cls.c_nationkey, cls.c_mktsegment, cls.k,
         gc.b, gc.cumg, gc.nt, gc.nb,
         coalesce(ch.cn, 0) AS cn
  FROM cls CROSS JOIN gc
  LEFT JOIN ch ON ch.c_nationkey = cls.c_nationkey
             AND ch.c_mktsegment = cls.c_mktsegment
             AND ch.b = gc.b
),
cum AS (
  SELECT c_nationkey, c_mktsegment, k, nt, nb,
    abs(CAST(sum(cn) OVER (PARTITION BY c_nationkey, c_mktsegment
          ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS DECIMAL(19,0)) * nt
      - CAST(cumg AS DECIMAL(19,0)) * k) AS d
  FROM grid
),
emd AS (
  SELECT c_nationkey, c_mktsegment, k, max(nt) AS nt, max(nb) AS nb,
         sum(d) AS sd
  FROM cum GROUP BY 1, 2, 3
)
SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_mktsegment,
  CAST(k AS BIGINT) AS k,
  CASE WHEN nb <= 1 THEN CAST(0 AS BIGINT)
       ELSE CAST(floor(CAST(sd AS DOUBLE) * 1000000.0
              / (CAST(nb - 1 AS DOUBLE) * CAST(k AS DOUBLE)
                 * CAST(nt AS DOUBLE))) AS BIGINT)
  END AS t_ppm
FROM emd
"""


@register("t_closeness_audit", _TCLOSE_ORACLE)
def q_t_closeness_audit(spark, sf_dir):
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third
    leg of the privacy triad: ``k_anonymity_audit`` bounds
    re-identification, ``l_diversity_audit`` bounds single-value leakage,
    but a class whose sensitive distribution merely SKEWS far from the
    global one still leaks (the classic "this zip code is mostly
    low-income" inference). Per quasi-identifier class
    (nation × segment): the Earth Mover's Distance between the class's
    account-balance kilo-bucket distribution and the corpus-wide one,
    as t_ppm.

    Exactness: EMD over an ORDERED domain of B buckets is
    (1/(B−1))·Σᵢ|CumPc(i) − CumPg(i)|; clearing denominators turns every
    term into |cumcnᵢ·N − cumgnᵢ·k| — exact integers (DECIMAL(19,0)
    cross-products per the r10 overflow rule: both factors are
    data-sized) — and the single division renders through the
    identical-text doubles device.

    Shape: two keyed aggregates (global buckets, class×bucket), the
    class×bucket GRID via a broadcast of the B-row global bucket table
    (never a corpus-sized cross product — B is bounded by the sensitive
    DOMAIN), a per-class cumulative window over B rows, one final
    roll-up. At 100 TB everything after the two histogram aggregates is
    metadata-sized."""
    cust = _t(spark, sf_dir, "customer")
    # NULL sensitive values carry no bucket — excluded in both arms
    rows_b = cust.where(F.col("c_acctbal").isNotNull()).select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / _TCLOSE_BUCKET).cast("long").alias("b"),
    )
    g = rows_b.groupBy("b").agg(F.count(F.lit(1)).alias("gn"))
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    gc = g.select(
        "b",
        F.sum("gn").over(wb).alias("cumg"),
        F.sum("gn").over(wall).alias("nt"),
        F.count(F.lit(1)).over(wall).alias("nb"),
    )
    cls = rows_b.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("k")
    )
    ch = rows_b.groupBy("c_nationkey", "c_mktsegment", "b").agg(
        F.count(F.lit(1)).alias("cn")
    )
    grid = (
        cls.crossJoin(F.broadcast(gc))
        .join(ch, ["c_nationkey", "c_mktsegment", "b"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "k",
            "b",
            "cumg",
            "nt",
            "nb",
            F.coalesce(F.col("cn"), F.lit(0)).alias("cn"),
        )
    )
    wc = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.select(
        "c_nationkey",
        "c_mktsegment",
        "k",
        "nt",
        "nb",
        F.abs(
            F.sum("cn").over(wc).cast("decimal(19,0)") * F.col("nt")
            - F.col("cumg").cast("decimal(19,0)") * F.col("k")
        ).alias("d"),
    )
    emd = cum.groupBy("c_nationkey", "c_mktsegment", "k").agg(
        F.max("nt").alias("nt"),
        F.max("nb").alias("nb"),
        F.sum("d").alias("sd"),
    )
    return emd.select(
        F.col("c_nationkey").cast("long"),
        "c_mktsegment",
        F.col("k").cast("long").alias("k"),
        F.expr(
            "CASE WHEN nb <= 1 THEN CAST(0 AS BIGINT)"
            " ELSE CAST(floor(CAST(sd AS DOUBLE) * 1000000.0"
            " / (CAST(nb - 1 AS DOUBLE) * CAST(k AS DOUBLE)"
            " * CAST(nt AS DOUBLE))) AS BIGINT) END"
        ).alias("t_ppm"),
    )


# --------------------------------------------------------------------------
# exact tie-corrected Mann–Whitney U from the value histogram
# --------------------------------------------------------------------------

_MWU_A = "purchase"
_MWU_B = "click"

_MWU_ORACLE = f"""
WITH ev AS (
  -- NULL values are not rankable samples and would land on opposite ends
  -- of the engines' default null ordering in the cumulative window
  SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS v
  FROM events WHERE event_type IN ('{_MWU_A}', '{_MWU_B}')
    AND value IS NOT NULL
),
h AS (
  SELECT v,
    sum(CASE WHEN event_type = '{_MWU_A}' THEN 1 ELSE 0 END) AS na,
    sum(CASE WHEN event_type = '{_MWU_B}' THEN 1 ELSE 0 END) AS nb
  FROM ev GROUP BY v
),
c AS (
  SELECT v, na, nb,
    coalesce(sum(nb) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb_lt
  FROM h
),
s AS (
  SELECT
    CAST(sum(na) AS BIGINT) AS n_a,
    CAST(sum(nb) AS BIGINT) AS n_b,
    sum(CAST(na AS DECIMAL(19,0)) * cumb_lt * 2
        + CAST(na AS DECIMAL(19,0)) * nb) AS u2,
    sum(CAST(na + nb AS DECIMAL(19,0)) * (na + nb) * (na + nb)
        - (na + nb)) AS tie_cubes
  FROM c
)
SELECT n_a, n_b,
  CAST(u2 AS BIGINT) AS u2_a,
  -- degenerate-group guards (the profile_drift_report rule): a corpus
  -- with one group absent must emit NULL metrics, not an ANSI abort on
  -- floor(Infinity) / a NaN-vs-NULL schema split
  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
    ELSE CAST(floor((CAST(u2 AS DOUBLE)
               - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) * 1000000.0
             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) AS BIGINT)
  END AS rank_biserial_ppm,
  -- all-values-tied guard (ADVICE r10): the tie-corrected variance is
  -- exactly 0 when every value ties, and 0/0 is NaN in both engines —
  -- degenerate inputs must stay NULL, never NaN
  CASE WHEN n_a = 0 OR n_b = 0 OR n_a + n_b < 2
         OR (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
            - CAST(tie_cubes AS DOUBLE)
              / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                 * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0)) <= 0.0
       THEN NULL
    ELSE round((CAST(u2 AS DOUBLE) / 2.0
         - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
        / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
               * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
                  - CAST(tie_cubes AS DOUBLE)
                    / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                       * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0)))),
        6)
  END AS z_stat
FROM s
"""


@register("mann_whitney_u_events", _MWU_ORACLE)
def q_mann_whitney_u_events(spark, sf_dir):
    """Exact tie-corrected Mann–Whitney U ('{_MWU_A}' vs '{_MWU_B}' event
    values) — the nonparametric two-sample location test that completes
    the comparison toolkit (``ks_test_doc_lengths`` tests the whole CDF,
    ``permutation_test_events`` resamples the mean; MWU is the
    rank-sum workhorse robust to outliers). Emits U (doubled to stay
    integral under ½-ties), the rank-biserial effect size, and the
    tie-corrected normal z.

    Device: NEVER a global rank sort — ranks are a fiction over the
    VALUE HISTOGRAM. With per-value counts (na_v, nb_v) and the
    exclusive cumulative Σnb below v:  2·U_A = Σ_v na_v·(2·cumb_lt(v) +
    nb_v)  (wins count double, ties once). All products are data-sized ×
    data-sized → DECIMAL(19,0) per the r10 overflow rule; the tie term
    Σ(t³−t) likewise. The z and effect-size renders are identical-text
    doubles. Shape: one histogram aggregate (|distinct values| rows — the
    value DOMAIN, not the corpus), one ordered window over it, one-row
    roll-up; U2 re-renders as BIGINT (2·n_a·n_b < 2⁶³ holds to ~2·10⁹ per
    group; ANSI fails loud beyond — report then via the double columns).
    """
    ev = (
        _t(spark, sf_dir, "events")
        .where(
            F.col("event_type").isin(_MWU_A, _MWU_B)
            & F.col("value").isNotNull()
        )
        .select(
            "event_type",
            F.round(F.col("value") * 1_000_000).cast("long").alias("v"),
        )
    )
    ev = ensure_parallelism(ev)
    h = ev.groupBy("v").agg(
        F.sum(F.when(F.col("event_type") == _MWU_A, 1).otherwise(0)).alias(
            "na"
        ),
        F.sum(F.when(F.col("event_type") == _MWU_B, 1).otherwise(0)).alias(
            "nb"
        ),
    )
    wlt = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    c = h.select(
        "v",
        "na",
        "nb",
        F.coalesce(F.sum("nb").over(wlt), F.lit(0)).alias("cumb_lt"),
    )
    s = c.agg(
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
        F.sum(
            F.col("na").cast("decimal(19,0)") * F.col("cumb_lt") * 2
            + F.col("na").cast("decimal(19,0)") * F.col("nb")
        ).alias("u2"),
        F.sum(
            (F.col("na") + F.col("nb")).cast("decimal(19,0)")
            * (F.col("na") + F.col("nb"))
            * (F.col("na") + F.col("nb"))
            - (F.col("na") + F.col("nb"))
        ).alias("tie_cubes"),
    )
    return s.select(
        "n_a",
        "n_b",
        F.col("u2").cast("long").alias("u2_a"),
        # degenerate-group guards mirror the oracle (one group absent →
        # NULL metrics, never floor(Infinity) under ANSI)
        F.expr(
            "CASE WHEN n_a = 0 OR n_b = 0 THEN NULL"
            " ELSE CAST(floor((CAST(u2 AS DOUBLE)"
            " - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) * 1000000.0"
            " / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) AS BIGINT)"
            " END"
        ).alias("rank_biserial_ppm"),
        # all-values-tied guard mirrors the oracle: zero tie-corrected
        # variance -> NULL, never 0/0 = NaN (ADVICE r10)
        F.expr(
            "CASE WHEN n_a = 0 OR n_b = 0 OR n_a + n_b < 2"
            " OR (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)"
            " - CAST(tie_cubes AS DOUBLE)"
            " / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))"
            " * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0)) <= 0.0D"
            " THEN NULL"
            " ELSE round((CAST(u2 AS DOUBLE) / 2.0"
            " - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)"
            " / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0"
            " * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)"
            " - CAST(tie_cubes AS DOUBLE)"
            " / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))"
            " * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0))))"
            ", 6) END"
        ).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# BPE tokenizer training, iteration one: adjacent-pair merge candidates
# --------------------------------------------------------------------------

_BPE_TOP = 30

_BPE_ORACLE = f"""
WITH w AS (
  SELECT tok AS word, count(*) AS wn FROM (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> '' GROUP BY tok
),
p AS (
  SELECT word, wn, unnest(
    list_transform(range(1, len(word)), i -> substr(word, i, 2))
  ) AS pair
  FROM w WHERE len(word) >= 2
),
agg AS (
  SELECT pair, CAST(sum(wn) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT word) AS BIGINT) AS n_word_types
  FROM p GROUP BY pair
)
SELECT pair, n_occurrences, n_word_types
FROM agg ORDER BY n_occurrences DESC, pair ASC LIMIT {_BPE_TOP}
"""


@register("bpe_merge_candidates", _BPE_ORACLE)
def q_bpe_merge_candidates(spark, sf_dir):
    """Byte-pair-encoding tokenizer training, iteration one: the
    top-{_BPE_TOP} adjacent character pairs by corpus frequency — the
    merge-rule candidates of Sennrich et al. 2016, the statistic a
    tokenizer-training pipeline computes over exactly this kind of
    corpus (subsequent iterations re-run the same shape over re-segmented
    words).

    The classic BPE optimization, distributed: aggregate the corpus to
    the word VOCABULARY first (one map-side-combined count — the only
    corpus-sized stage), then extract pairs from each DISTINCT word
    weighted by its frequency — the explode touches |vocab| rows, not
    |corpus|, so a 100 TB corpus with a 10⁷-type vocabulary does the
    pair work on 10⁷ rows. Pair extraction is a single SQL-text HOF over
    1-based substr (identical in DuckDB; words are short, so the
    substr re-seek gotcha is immaterial). Top-{_BPE_TOP} is TakeOrdered,
    never a full sort."""
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    w = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wn"))
    )
    p = (
        w.where(F.length("word") >= 2)
        .withColumn(
            "pair",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(word) - 1),"
                    " i -> substr(word, i, 2))"
                )
            ),
        )
    )
    # n_word_types is per distinct word TYPE: a word with a repeated
    # adjacent pair ('banana' -> 'an' twice) counts once, so the count is
    # DISTINCT word, not pair slots (ADVICE r10)
    agg = p.groupBy("pair").agg(
        F.sum("wn").cast("long").alias("n_occurrences"),
        F.countDistinct("word").cast("long").alias("n_word_types"),
    )
    return agg.orderBy(
        F.col("n_occurrences").desc(), F.col("pair").asc()
    ).limit(_BPE_TOP)


# --------------------------------------------------------------------------
# moving-average type-token ratio (MATTR) lexical diversity
# --------------------------------------------------------------------------

_MATTR_W = 25

_MATTR_ORACLE = f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
  CASE WHEN n < {_MATTR_W}
    THEN CAST(CAST(len(list_distinct(toks)) AS BIGINT) * 1000000 // n
         AS BIGINT)
    ELSE CAST(
      list_reduce(
        list_transform(range(1, n - {_MATTR_W} + 2),
          i -> CAST(len(list_distinct(toks[i:i + {_MATTR_W} - 1])) AS BIGINT)),
        (a, x) -> a + x) * 1000000
      // (CAST(n - {_MATTR_W} + 1 AS BIGINT) * {_MATTR_W}) AS BIGINT)
  END AS mattr_ppm
FROM n
"""


@register("mattr_lexical_diversity", _MATTR_ORACLE)
def q_mattr_lexical_diversity(spark, sf_dir):
    """MATTR — moving-average type-token ratio (Covington & McFall 2010),
    the length-robust lexical-diversity score: plain TTR shrinks with
    document length (types saturate), so averaging the type ratio over
    every {_MATTR_W}-token sliding window makes scores comparable across
    lengths — the corpus-quality signal that separates varied prose from
    templated/repetitive text better than `repetition_stats`' fixed
    n-gram fractions. Docs shorter than the window fall back to plain
    TTR; ppm is an exact integer floor division (Σ distinct-counts is a
    tiny integer, ≤ n·{_MATTR_W}).

    Shape: pure per-row column expressions — the token array materializes
    ONCE as a real column (the r2 HOF-CSE rule: an inlined split would
    re-evaluate per window) and the window sweep is a single SQL-text
    HOF over bounded doc lengths. Zero shuffles at any corpus size."""
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    t = docs.select(
        "doc_id",
        F.expr("filter(split(text, ' '), x -> x <> '')").alias("toks"),
    )
    n = t.withColumn("n", F.size("toks")).where(F.col("n") > 0)
    w = _MATTR_W
    return n.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.expr(
            f"CASE WHEN n < {w}"
            f" THEN CAST(CAST(size(array_distinct(toks)) AS BIGINT)"
            f" * 1000000 div n AS BIGINT)"
            f" ELSE CAST(aggregate(transform(sequence(1, n - {w} + 1),"
            f" i -> CAST(size(array_distinct(slice(toks, i, {w})))"
            f" AS BIGINT)), CAST(0 AS BIGINT), (a, x) -> a + x) * 1000000"
            f" div (CAST(n - {w} + 1 AS BIGINT) * {w}) AS BIGINT)"
            " END"
        ).alias("mattr_ppm"),
    )


# --------------------------------------------------------------------------
# Hoeffding/Chernoff per-stratum sample-size plan
# --------------------------------------------------------------------------

_CHERNOFF_EPS = 0.01
_CHERNOFF_DELTA = 0.05

_CHERNOFF_ORACLE = f"""
WITH s AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
r AS (
  SELECT CAST(ceil(ln(2.0 / {_CHERNOFF_DELTA})
               / (2.0 * {_CHERNOFF_EPS} * {_CHERNOFF_EPS})) AS BIGINT)
    AS n_required
)
SELECT s.source, CAST(s.n_docs AS BIGINT) AS n_docs,
  r.n_required,
  CAST(least(s.n_docs, r.n_required) AS BIGINT) AS n_sampled,
  CAST(least(s.n_docs, r.n_required) * 1000000 // s.n_docs AS BIGINT)
    AS sampling_rate_ppm,
  s.n_docs <= r.n_required AS take_all
FROM s CROSS JOIN r
"""


@register("chernoff_sample_size_plan", _CHERNOFF_ORACLE)
def q_chernoff_sample_size_plan(spark, sf_dir):
    """Per-stratum audit-sample sizing from the Hoeffding bound: to
    estimate any bounded per-document metric (quality rate, PII rate,
    dup rate) within ±{_CHERNOFF_EPS} at confidence
    {1 - _CHERNOFF_DELTA:.2f}, a stratum needs n ≥ ln(2/δ)/(2ε²) docs —
    INDEPENDENT of stratum size, which is exactly why auditing a 100 TB
    corpus is tractable: the plan says "~18k docs per source, full take
    for smaller sources". The distribution-free companion of
    ``neyman_allocation_plan`` (which needs variance estimates); this is
    the pre-variance bootstrap plan.

    Exactness: the one ln/division chain is identical literal text in
    both engines (IEEE-deterministic), folded to a single BIGINT
    constant before any per-row math; rates are integer ppm floors.
    Shape: one map-side-combined count per source; everything after is
    |sources| rows."""
    docs = _t(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    r = docs.sparkSession.range(1).select(
        F.expr(
            f"CAST(ceil(ln(2.0 / {_CHERNOFF_DELTA})"
            f" / (2.0 * {_CHERNOFF_EPS} * {_CHERNOFF_EPS})) AS BIGINT)"
        ).alias("n_required")
    )
    return s.crossJoin(F.broadcast(r)).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        "n_required",
        F.least(F.col("n_docs"), F.col("n_required"))
        .cast("long")
        .alias("n_sampled"),
        F.expr(
            "CAST(least(n_docs, n_required) * 1000000 div n_docs AS BIGINT)"
        ).alias("sampling_rate_ppm"),
        (F.col("n_docs") <= F.col("n_required")).alias("take_all"),
    )


# --------------------------------------------------------------------------
# decision stump: best single-threshold split of a label by a feature
# --------------------------------------------------------------------------

_STUMP_LABEL_LANG = "en"

_STUMP_ORACLE = f"""
WITH h AS (
  SELECT n_chars AS v, count(*) AS cnt,
    sum(CASE WHEN lang = '{_STUMP_LABEL_LANG}' THEN 1 ELSE 0 END) AS pos
  FROM documents GROUP BY n_chars
),
c AS (
  SELECT v,
    sum(cnt) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cl,
    sum(pos) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
    sum(cnt) OVER () AS nt, sum(pos) OVER () AS pt
  FROM h
),
g AS (
  SELECT v, cl, cp, nt, pt,
    (2.0 * CAST(cp AS DOUBLE) * CAST(cl - cp AS DOUBLE) / CAST(cl AS DOUBLE)
     + 2.0 * CAST(pt - cp AS DOUBLE)
       * CAST((nt - cl) - (pt - cp) AS DOUBLE) / CAST(nt - cl AS DOUBLE))
    / CAST(nt AS DOUBLE) AS imp
  FROM c WHERE cl < nt
),
best AS (
  SELECT * FROM g ORDER BY imp ASC, v ASC LIMIT 1
)
SELECT CAST(v AS BIGINT) AS threshold,
  CAST(cl AS BIGINT) AS n_left, CAST(nt - cl AS BIGINT) AS n_right,
  CAST(cp AS BIGINT) AS pos_left, CAST(pt - cp AS BIGINT) AS pos_right,
  round(imp, 6) AS weighted_gini,
  round(2.0 * CAST(pt AS DOUBLE) * CAST(nt - pt AS DOUBLE)
        / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)), 6) AS baseline_gini
FROM best
"""


@register("decision_stump_quality", _STUMP_ORACLE)
def q_decision_stump_quality(spark, sf_dir):
    """Exact decision stump: the single n_chars threshold that best
    separates '{_STUMP_LABEL_LANG}' documents by weighted Gini impurity —
    the univariate-split primitive under every tree learner and the
    standard "is this feature predictive at all?" screen a curation
    pipeline runs before training a quality classifier on it
    (baseline_gini − weighted_gini is the feature's impurity gain).

    Device: candidate thresholds are the feature's VALUE HISTOGRAM (the
    mad_outlier/KS posture — the scan never sorts; the cumulative window
    runs over |distinct values| rows bounded by the feature DOMAIN). The
    cumulative pair (cl, cp) makes every split's confusion counts exact
    integers; the impurity chain is identical-text doubles from those
    ints, and argmin breaks ties deterministically (impurity, then
    threshold). One histogram aggregate + one bounded window + a 1-row
    TakeOrdered."""
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    h = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(
            F.when(F.col("lang") == _STUMP_LABEL_LANG, 1).otherwise(0)
        ).alias("pos"),
    )
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    c = h.select(
        "v",
        F.sum("cnt").over(wcum).alias("cl"),
        F.sum("pos").over(wcum).alias("cp"),
        F.sum("cnt").over(wall).alias("nt"),
        F.sum("pos").over(wall).alias("pt"),
    )
    g = c.where(F.col("cl") < F.col("nt")).withColumn(
        "imp",
        F.expr(
            "(2.0 * CAST(cp AS DOUBLE) * CAST(cl - cp AS DOUBLE)"
            " / CAST(cl AS DOUBLE)"
            " + 2.0 * CAST(pt - cp AS DOUBLE)"
            " * CAST((nt - cl) - (pt - cp) AS DOUBLE)"
            " / CAST(nt - cl AS DOUBLE)) / CAST(nt AS DOUBLE)"
        ),
    )
    best = g.orderBy(F.col("imp").asc(), F.col("v").asc()).limit(1)
    return best.select(
        F.col("v").cast("long").alias("threshold"),
        F.col("cl").cast("long").alias("n_left"),
        (F.col("nt") - F.col("cl")).cast("long").alias("n_right"),
        F.col("cp").cast("long").alias("pos_left"),
        (F.col("pt") - F.col("cp")).cast("long").alias("pos_right"),
        F.round("imp", 6).alias("weighted_gini"),
        F.round(
            F.expr(
                "2.0 * CAST(pt AS DOUBLE) * CAST(nt - pt AS DOUBLE)"
                " / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE))"
            ),
            6,
        ).alias("baseline_gini"),
    )


# --------------------------------------------------------------------------
# "fighting words": log-odds with a Dirichlet prior between two languages
# --------------------------------------------------------------------------

_LO_L1, _LO_L2 = "en", "de"
_LO_TOP = 30
_LO_MIN = 5

_LOGODDS_ORACLE = f"""
WITH tk AS (
  SELECT lang, tok FROM (
    SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    WHERE lang IN ('{_LO_L1}', '{_LO_L2}')
  ) WHERE tok <> ''
),
h AS (
  SELECT tok,
    sum(CASE WHEN lang = '{_LO_L1}' THEN 1 ELSE 0 END) AS y1,
    sum(CASE WHEN lang = '{_LO_L2}' THEN 1 ELSE 0 END) AS y2
  FROM tk GROUP BY tok
),
n AS (
  SELECT CAST(sum(y1) AS BIGINT) AS n1, CAST(sum(y2) AS BIGINT) AS n2
  FROM h
),
z AS (
  SELECT tok, y1, y2,
    (ln((CAST(y1 AS DOUBLE) + 0.5)
        / (CAST(n1 AS DOUBLE) - CAST(y1 AS DOUBLE) + 0.5))
     - ln((CAST(y2 AS DOUBLE) + 0.5)
          / (CAST(n2 AS DOUBLE) - CAST(y2 AS DOUBLE) + 0.5)))
    / sqrt(1.0 / (CAST(y1 AS DOUBLE) + 0.5)
           + 1.0 / (CAST(y2 AS DOUBLE) + 0.5)) AS zs
  FROM h CROSS JOIN n WHERE y1 + y2 >= {_LO_MIN}
)
SELECT tok, CAST(y1 AS BIGINT) AS y1, CAST(y2 AS BIGINT) AS y2,
       round(zs, 6) AS z_score
FROM z ORDER BY abs(zs) DESC, tok ASC LIMIT {_LO_TOP}
"""


@register("token_log_odds_langs", _LOGODDS_ORACLE)
def q_token_log_odds_langs(spark, sf_dir):
    """"Fighting words" (Monroe, Colaresi & Quinn 2008): per-token
    log-odds ratio between the '{_LO_L1}' and '{_LO_L2}' sub-corpora
    with a Dirichlet(0.5) prior, z-scored by the delta's approximate
    variance — THE standard which-tokens-distinguish-these-corpora
    statistic (raw frequency ratios explode on rare tokens; the prior
    regularizes exactly where PMI breaks). Top-{_LO_TOP} by |z|; a
    corpus-drift / register-comparison tool that complements
    ``js_source_divergence`` (which scores whole sources, not tokens).

    Exactness: token counts are exact integers from one map-side
    aggregate; the ln/sqrt chain is identical-text doubles evaluated
    from those integers; rank ties break on token text. Shape: one
    corpus-sized token aggregate, a 1-row total broadcast, per-token map
    arithmetic, TakeOrdered top-{_LO_TOP}."""
    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents").where(
            F.col("lang").isin(_LO_L1, _LO_L2)
        )
    )
    tk = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    h = tk.groupBy("tok").agg(
        F.sum(F.when(F.col("lang") == _LO_L1, 1).otherwise(0)).alias("y1"),
        F.sum(F.when(F.col("lang") == _LO_L2, 1).otherwise(0)).alias("y2"),
    )
    n = h.agg(
        F.sum("y1").cast("long").alias("n1"),
        F.sum("y2").cast("long").alias("n2"),
    )
    z = (
        h.where(F.col("y1") + F.col("y2") >= _LO_MIN)
        .crossJoin(F.broadcast(n))
        .withColumn(
            "zs",
            F.expr(
                "(ln((CAST(y1 AS DOUBLE) + 0.5)"
                " / (CAST(n1 AS DOUBLE) - CAST(y1 AS DOUBLE) + 0.5))"
                " - ln((CAST(y2 AS DOUBLE) + 0.5)"
                " / (CAST(n2 AS DOUBLE) - CAST(y2 AS DOUBLE) + 0.5)))"
                " / sqrt(1.0 / (CAST(y1 AS DOUBLE) + 0.5)"
                " + 1.0 / (CAST(y2 AS DOUBLE) + 0.5))"
            ),
        )
    )
    return (
        z.select(
            "tok",
            F.col("y1").cast("long").alias("y1"),
            F.col("y2").cast("long").alias("y2"),
            F.round("zs", 6).alias("z_score"),
        )
        .orderBy(F.abs(F.col("z_score")).desc(), F.col("tok").asc())
        .limit(_LO_TOP)
    )


# --------------------------------------------------------------------------
# dataset card: one multi-table summary frame
# --------------------------------------------------------------------------

_CARD_ORACLE = """
SELECT 'documents' AS section, 'n_rows' AS metric,
       CAST(count(*) AS VARCHAR) AS value FROM documents
UNION ALL
SELECT 'documents', 'n_langs', CAST(count(DISTINCT lang) AS VARCHAR)
FROM documents
UNION ALL
SELECT 'documents', 'n_sources', CAST(count(DISTINCT source) AS VARCHAR)
FROM documents
UNION ALL
SELECT 'documents', 'top_lang', (
  SELECT lang FROM (SELECT lang, count(*) AS n FROM documents GROUP BY lang)
  ORDER BY n DESC, lang ASC LIMIT 1)
UNION ALL
SELECT 'documents', 'total_chars',
       CAST(CAST(sum(n_chars) AS BIGINT) AS VARCHAR) FROM documents
UNION ALL
SELECT 'events', 'n_rows', CAST(count(*) AS VARCHAR) FROM events
UNION ALL
SELECT 'events', 'n_users', CAST(count(DISTINCT user_id) AS VARCHAR)
FROM events
UNION ALL
SELECT 'events', 'ts_min',
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') FROM events
UNION ALL
SELECT 'events', 'ts_max',
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') FROM events
UNION ALL
SELECT 'orders', 'n_rows', CAST(count(*) AS VARCHAR) FROM orders
UNION ALL
SELECT 'orders', 'revenue_cents',
       CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            AS VARCHAR)
FROM orders
UNION ALL
SELECT 'embeddings', 'n_rows', CAST(count(*) AS VARCHAR) FROM embeddings
UNION ALL
SELECT 'embeddings', 'dim',
       CAST(max(len(embedding)) AS VARCHAR) FROM embeddings
UNION ALL
SELECT 'embeddings', 'n_labels',
       CAST(count(DISTINCT label) AS VARCHAR) FROM embeddings
"""


@register("dataset_card_summary", _CARD_ORACLE)
def q_dataset_card_summary(spark, sf_dir):
    """The dataset card: one (section, metric, value) frame summarizing
    every table a training run consumes — row counts, language/source
    cardinalities, the modal language, event time bounds, exact revenue,
    embedding dimensionality. The machine-readable face of the
    release-notes card every published dataset ships; downstream it is
    the cheap drift tripwire between snapshots (diff two cards before
    diffing data).

    Shape: a UNION of independent small aggregates — each leg is one
    map-side-combined pass over ITS table only (Catalyst plans the legs
    independently; nothing joins the tables), the modal-language leg is
    a 1-row TakeOrdered over |langs|. Values render as strings so one
    frame can carry heterogeneous metrics; every one is exact (counts,
    decimal-exact cents, second-truncated bounds)."""
    docs = _t(spark, sf_dir, "documents")
    ev = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    emb = _t(spark, sf_dir, "embeddings")

    def leg(one_row_df, section, metric):
        """Wrap a one-row frame holding a single column into the card
        row shape (section, metric, value-as-string)."""
        vcol = one_row_df.columns[0]
        return one_row_df.select(
            F.lit(section).alias("section"),
            F.lit(metric).alias("metric"),
            F.col(vcol).cast("string").alias("value"),
        )

    legs = [
        leg(docs.agg(F.count(F.lit(1))), "documents", "n_rows"),
        leg(docs.agg(F.countDistinct("lang")), "documents", "n_langs"),
        leg(docs.agg(F.countDistinct("source")), "documents", "n_sources"),
        leg(
            # struct-min over the grouped frame instead of orderBy+limit:
            # ALWAYS one row (NULL on an empty corpus, like the oracle's
            # scalar subquery — the limit(1) form emitted ZERO rows and
            # silently dropped the card row; degenerate-lake rule), same
            # (count DESC, lang ASC) winner when non-empty
            docs.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(
                F.min(
                    F.struct(
                        (-F.col("n")).alias("nn"), F.col("lang").alias("lang")
                    )
                )
                .getField("lang")
                .alias("top_lang")
            ),
            "documents",
            "top_lang",
        ),
        leg(
            docs.agg(F.sum("n_chars").cast("long")),
            "documents",
            "total_chars",
        ),
        leg(ev.agg(F.count(F.lit(1))), "events", "n_rows"),
        leg(ev.agg(F.countDistinct("user_id")), "events", "n_users"),
        leg(
            ev.agg(F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss")),
            "events",
            "ts_min",
        ),
        leg(
            ev.agg(F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss")),
            "events",
            "ts_max",
        ),
        leg(orders.agg(F.count(F.lit(1))), "orders", "n_rows"),
        leg(
            orders.agg(
                F.sum(
                    F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
                ).cast("long")
            ),
            "orders",
            "revenue_cents",
        ),
        leg(emb.agg(F.count(F.lit(1))), "embeddings", "n_rows"),
        leg(emb.agg(F.max(F.size("embedding"))), "embeddings", "dim"),
        leg(emb.agg(F.countDistinct("label")), "embeddings", "n_labels"),
    ]
    out = legs[0]
    for piece in legs[1:]:
        out = out.unionAll(piece)
    return out


# --------------------------------------------------------------------------
# exact Spearman rank correlation via midrank histograms
# --------------------------------------------------------------------------

_SPEAR_ORACLE = """
WITH d AS (
  SELECT n_chars AS x,
    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
      AS y
  FROM documents
),
hx AS (
  SELECT x, count(*) AS cnt,
    2 * coalesce(sum(count(*)) OVER (ORDER BY x
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + count(*) + 1 AS r2
  FROM d GROUP BY x
),
hy AS (
  SELECT y, count(*) AS cnt,
    2 * coalesce(sum(count(*)) OVER (ORDER BY y
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + count(*) + 1 AS r2
  FROM d GROUP BY y
),
r AS (
  SELECT hx.r2 AS rx, hy.r2 AS ry
  FROM d JOIN hx USING (x) JOIN hy USING (y)
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    -- rank sums are DECIMAL(38,0) before the double render: rx/ry are
    -- data-sized (~2N), so a plain BIGINT sum is ~2N^2 and overflows
    -- int64 past ~2e9 docs (r10 overflow rule, ADVICE r10)
    CAST(sum(CAST(rx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
    CAST(sum(CAST(ry AS DECIMAL(38,0))) AS DOUBLE) AS sy,
    CAST(sum(CAST(rx AS DECIMAL(19,0)) * rx) AS DOUBLE) AS sxx,
    CAST(sum(CAST(ry AS DECIMAL(19,0)) * ry) AS DOUBLE) AS syy,
    CAST(sum(CAST(rx AS DECIMAL(19,0)) * ry) AS DOUBLE) AS sxy
  FROM r
)
SELECT n AS n_docs,
  -- constant-column guard: zero rank variance must emit NULL, not a
  -- NaN (DuckDB) vs NaN-double (Spark) schema/value split
  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <= 0.0
         OR CAST(n AS DOUBLE) * syy - sy * sy <= 0.0 THEN NULL
    ELSE round((CAST(n AS DOUBLE) * sxy - sx * sy)
        / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
           * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6)
  END AS spearman_rho
FROM m
"""


@register("spearman_chars_tokens", _SPEAR_ORACLE)
def q_spearman_chars_tokens(spark, sf_dir):
    """Exact tie-aware Spearman rank correlation between two per-document
    metrics (character count vs token count) — the monotone-association
    audit that complements Pearson (`stats_corr_quantity_price`): a
    feature pair can be perfectly monotone yet weakly linear, and rank
    correlation is what decides whether one quality signal is redundant
    given another.

    Device: NEVER a global rank sort — midranks come from each variable's
    VALUE HISTOGRAM (doubled to stay integral under ties: r2 =
    2·cum_lt + cnt + 1), broadcast back onto the scan (the
    quality_percentile_ranks posture), then Pearson over the exact
    integer (r2x, r2y) pairs with DECIMAL(19,0)-product moment sums (r10
    overflow rule: r2 is data-sized ≈ 2N) and one identical-text doubles
    render. The constant rank-doubling cancels in rho. Histograms are
    bounded by the value DOMAINS; the per-row stage is two broadcast
    joins + one map-side-combined aggregate."""
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    d = docs.select(
        F.col("n_chars").alias("x"),
        F.expr(
            "CAST(size(filter(split(text, ' '), t -> t <> '')) AS BIGINT)"
        ).alias("y"),
    )
    wx = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    hx = (
        d.groupBy("x")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "x",
            (
                2 * F.coalesce(F.sum("cnt").over(wx), F.lit(0))
                + F.col("cnt")
                + 1
            ).alias("r2x"),
        )
    )
    wy = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, -1)
    hy = (
        d.groupBy("y")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "y",
            (
                2 * F.coalesce(F.sum("cnt").over(wy), F.lit(0))
                + F.col("cnt")
                + 1
            ).alias("r2y"),
        )
    )
    r = d.join(F.broadcast(hx), "x").join(F.broadcast(hy), "y").select(
        F.col("r2x").alias("rx"), F.col("r2y").alias("ry")
    )
    m = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        # DECIMAL(38,0) rank sums before the double render (Σrx ≈ 2N² —
        # a BIGINT sum ANSI-aborts past ~2e9 docs; mirrors the oracle)
        F.expr("CAST(sum(CAST(rx AS DECIMAL(38,0))) AS DOUBLE)").alias("sx"),
        F.expr("CAST(sum(CAST(ry AS DECIMAL(38,0))) AS DOUBLE)").alias("sy"),
        F.expr("CAST(sum(CAST(rx AS DECIMAL(19,0)) * rx) AS DOUBLE)").alias(
            "sxx"
        ),
        F.expr("CAST(sum(CAST(ry AS DECIMAL(19,0)) * ry) AS DOUBLE)").alias(
            "syy"
        ),
        F.expr("CAST(sum(CAST(rx AS DECIMAL(19,0)) * ry) AS DOUBLE)").alias(
            "sxy"
        ),
    )
    return m.select(
        F.col("n").alias("n_docs"),
        # constant-column guard mirrors the oracle (zero rank variance →
        # NULL, never NaN)
        F.expr(
            "CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <= 0.0D"
            " OR CAST(n AS DOUBLE) * syy - sy * sy <= 0.0D THEN NULL"
            " ELSE round((CAST(n AS DOUBLE) * sxy - sx * sy)"
            " / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)"
            " * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6) END"
        ).alias("spearman_rho"),
    )


# --------------------------------------------------------------------------
# Kendall tau-b agreement between the BM25 and QL rankers
# --------------------------------------------------------------------------

_KT_TERMS = ("spark", "merge", "vector")
_KT_K = 10


def _kt_oracle() -> str:
    from py_datalake_move_files_spark.operators.retrieval import (
        bm25_score_sql,
        ql_score_sql,
    )

    bm_df = ", ".join(
        f"CAST(sum(CASE WHEN list_contains(string_split(text, ' '), '{t}') "
        f"THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i, t in enumerate(_KT_TERMS)
    )
    bm_tf = ", ".join(
        f"CAST(len(list_filter(string_split(text, ' '), kta{i} ->"
        f" kta{i} = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(_KT_TERMS)
    )
    ql_cf = ", ".join(
        f"CAST(sum(len(list_filter(string_split(text, ' '), ktb{i} ->"
        f" ktb{i} = '{t}'))) AS BIGINT) AS cf{i}"
        for i, t in enumerate(_KT_TERMS)
    )
    return f"""
WITH stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
      / CAST(count(*) AS DOUBLE) AS avgdl,
    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS coll_tokens,
    {bm_df}, {ql_cf}
  FROM documents
),
perdoc AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
    {bm_tf}
  FROM documents
),
lex AS (
  SELECT doc_id, CAST(rn AS INT) AS ra FROM (
    SELECT d.doc_id, row_number() OVER (
      ORDER BY {bm25_score_sql(len(_KT_TERMS))} DESC, d.doc_id ASC) AS rn
    FROM perdoc d CROSS JOIN stats
  ) WHERE rn <= {_KT_K}
),
ql AS (
  SELECT doc_id, CAST(rn AS INT) AS rb FROM (
    SELECT d.doc_id, row_number() OVER (
      ORDER BY {ql_score_sql(len(_KT_TERMS))} DESC,
               d.doc_id ASC) AS rn
    FROM perdoc d CROSS JOIN stats
  ) WHERE rn <= {_KT_K}
),
u AS (
  SELECT coalesce(l.doc_id, q.doc_id) AS doc_id,
    coalesce(l.ra, {_KT_K + 1}) AS ra,
    coalesce(q.rb, {_KT_K + 1}) AS rb
  FROM lex l FULL OUTER JOIN ql q ON l.doc_id = q.doc_id
),
pairs AS (
  SELECT
    CASE WHEN (a.ra - b.ra) * (a.rb - b.rb) > 0 THEN 1 ELSE 0 END AS conc,
    CASE WHEN (a.ra - b.ra) * (a.rb - b.rb) < 0 THEN 1 ELSE 0 END AS disc,
    CASE WHEN a.ra = b.ra THEN 1 ELSE 0 END AS tie_a,
    CASE WHEN a.rb = b.rb THEN 1 ELSE 0 END AS tie_b
  FROM u a JOIN u b ON a.doc_id < b.doc_id
),
s AS (
  SELECT CAST((SELECT count(*) FROM u) AS BIGINT) AS n_items,
    CAST(sum(conc) AS BIGINT) AS n_concordant,
    CAST(sum(disc) AS BIGINT) AS n_discordant,
    CAST(sum(tie_a) AS BIGINT) AS ties_a,
    CAST(sum(tie_b) AS BIGINT) AS ties_b,
    CAST(count(*) AS BIGINT) AS n0
  FROM pairs
)
SELECT n_items, n_concordant, n_discordant,
  -- degenerate guard: an empty lake (both lists empty) or an all-tied
  -- ranker gives a zero denominator — NULL, never NaN
  CASE WHEN n0 - ties_a <= 0 OR n0 - ties_b <= 0 THEN NULL
    ELSE round((CAST(n_concordant AS DOUBLE) - CAST(n_discordant AS DOUBLE))
        / (sqrt(CAST(n0 AS DOUBLE) - CAST(ties_a AS DOUBLE))
           * sqrt(CAST(n0 AS DOUBLE) - CAST(ties_b AS DOUBLE))), 6)
  END AS tau_b
FROM s
"""


@register("kendall_tau_rankers", _kt_oracle())
def q_kendall_tau_rankers(spark, sf_dir):
    """Kendall tau-b agreement between the engine's two lexical rankers
    (BM25 vs Dirichlet query-likelihood) on the same fixed query — the
    ranking-stability audit that says whether switching (or fusing, per
    ``hybrid_rrf_retrieval``) rankers would actually change what users
    see; run per release it is the retrieval-regression tripwire that
    needs NO relevance labels (``ndcg_retrieval_eval`` needs them).

    Device: both arms are the proven zero-corpus-shuffle serving shape
    (one broadcast stats row + map-side score + TakeOrderedAndProject);
    the union of the two top-{_KT_K} lists (missing → rank {_KT_K + 1},
    the standard truncated-list fill) is ≤ 2·{_KT_K} rows, so the pair
    join is ≤ 190 driver-free pairs REGARDLESS of corpus size — exact
    integer concordance/discordance/tie counts, one identical-text
    doubles render for tau-b."""
    from py_datalake_move_files_spark.operators.retrieval import (
        bm25_topk,
        ql_dirichlet_topk,
    )

    docs = _t(spark, sf_dir, "documents")
    lex = bm25_topk(docs, _KT_TERMS, k=_KT_K).select(
        F.col("doc_id").alias("l_id"), F.col("rnk").alias("ra")
    )
    qlr = ql_dirichlet_topk(docs, _KT_TERMS, k=_KT_K).select(
        F.col("doc_id").alias("q_id"), F.col("rnk").alias("rb")
    )
    u = (
        lex.join(qlr, F.col("l_id") == F.col("q_id"), "full_outer")
        .select(
            F.coalesce(F.col("l_id"), F.col("q_id")).alias("doc_id"),
            F.coalesce(F.col("ra"), F.lit(_KT_K + 1)).alias("ra"),
            F.coalesce(F.col("rb"), F.lit(_KT_K + 1)).alias("rb"),
        )
        .localCheckpoint(eager=False)
    )
    a = u.select(
        F.col("doc_id").alias("ida"), F.col("ra").alias("raa"),
        F.col("rb").alias("rba"),
    )
    b = u.select(
        F.col("doc_id").alias("idb"), F.col("ra").alias("rab"),
        F.col("rb").alias("rbb"),
    )
    pairs = a.join(F.broadcast(b), F.col("ida") < F.col("idb")).select(
        F.expr(
            "CASE WHEN (raa - rab) * (rba - rbb) > 0 THEN 1 ELSE 0 END"
        ).alias("conc"),
        F.expr(
            "CASE WHEN (raa - rab) * (rba - rbb) < 0 THEN 1 ELSE 0 END"
        ).alias("disc"),
        F.expr("CASE WHEN raa = rab THEN 1 ELSE 0 END").alias("tie_a"),
        F.expr("CASE WHEN rba = rbb THEN 1 ELSE 0 END").alias("tie_b"),
    )
    n_items = u.agg(F.count(F.lit(1)).cast("long").alias("n_items"))
    s = pairs.agg(
        F.sum("conc").cast("long").alias("n_concordant"),
        F.sum("disc").cast("long").alias("n_discordant"),
        F.sum("tie_a").cast("long").alias("ties_a"),
        F.sum("tie_b").cast("long").alias("ties_b"),
        F.count(F.lit(1)).cast("long").alias("n0"),
    ).crossJoin(F.broadcast(n_items))
    return s.select(
        "n_items",
        "n_concordant",
        "n_discordant",
        # degenerate guard mirrors the oracle (zero denominator → NULL)
        F.expr(
            "CASE WHEN n0 - ties_a <= 0 OR n0 - ties_b <= 0 THEN NULL"
            " ELSE round("
            "(CAST(n_concordant AS DOUBLE) - CAST(n_discordant AS DOUBLE))"
            " / (sqrt(CAST(n0 AS DOUBLE) - CAST(ties_a AS DOUBLE))"
            " * sqrt(CAST(n0 AS DOUBLE) - CAST(ties_b AS DOUBLE))), 6) END"
        ).alias("tau_b"),
    )


# --------------------------------------------------------------------------
# mixture temperature sweep: entropy / effective-language curve over alpha
# --------------------------------------------------------------------------

_TSWEEP_ALPHAS = (0.2, 0.4, 0.6, 0.8, 1.0)

_TSWEEP_ORACLE = f"""
WITH c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY lang
),
a AS (
  SELECT unnest([{", ".join(str(a) for a in _TSWEEP_ALPHAS)}]) AS alpha
),
j AS (
  SELECT a.alpha, c.lang,
    exp(a.alpha * ln(CAST(c.cnt AS DOUBLE))) AS w
  FROM c CROSS JOIN a
),
g AS (
  SELECT alpha,
    CAST(count(*) AS BIGINT) AS n_langs,
    list(w ORDER BY lang) AS ws
  FROM j GROUP BY alpha
),
t AS (
  SELECT alpha, n_langs, ws,
    list_reduce(ws, (ta, tb) -> ta + tb) AS tot,
    list_reduce(ws, (ma, mb) -> CASE WHEN mb > ma THEN mb ELSE ma END)
      AS wmax
  FROM g
),
e AS (
  SELECT alpha, n_langs, tot, wmax,
    list_reduce(
      list_transform(ws, z -> CASE WHEN z > 0.0
        THEN -(z / tot) * ln(z / tot) ELSE 0.0 END),
      (ea, eb) -> ea + eb) AS h
  FROM t
)
SELECT CAST(alpha AS DOUBLE) AS alpha, n_langs,
  -- + 0.0 normalizes the single-language -0.0 (DuckDB's list_reduce
  -- seeds with the first element; Spark's aggregate seeds with +0.0)
  round(h + 0.0, 6) AS entropy_nats,
  round(exp(h), 4) AS effective_langs,
  CAST(floor(wmax * 1000000.0 / tot) AS BIGINT) AS max_share_ppm
FROM e
"""


@register("mixture_temperature_sweep", _TSWEEP_ORACLE)
def q_mixture_temperature_sweep(spark, sf_dir):
    """Temperature-sampling design curve for the multilingual mixture:
    for each exponent α in a literal grid, the language distribution
    p_α ∝ count^α, its Shannon entropy, the effective language count
    exp(H), and the dominant language's share — the table a pipeline
    reads to CHOOSE the temperature before committing to a resample
    (``lang_temperature_resample`` executes one fixed α = 0.5; this is
    the planning sweep over the knob, the mT5/UniMax design step).

    Exactness: one |langs|-row count aggregate is the only corpus work;
    everything after is bounded-grid math. All double chains are
    identical text (exp(α·ln n) for the power), and every cross-lang
    reduction — total, max, entropy — is an EXPLICIT left fold over the
    lang-ordered weight array (Spark ``aggregate`` over a sorted struct
    array ≡ DuckDB ``list_reduce`` over ``list(... ORDER BY lang)``, the
    PSI device) — never a partition-order-dependent double SUM. Output
    is |alphas| rows at any corpus size."""
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    alphas = ", ".join(f"CAST({a} AS DOUBLE)" for a in _TSWEEP_ALPHAS)
    a = docs.sparkSession.range(1).select(
        F.explode(F.expr(f"array({alphas})")).alias("alpha")
    )
    j = c.crossJoin(F.broadcast(a)).select(
        "alpha",
        "lang",
        F.expr("exp(alpha * ln(CAST(cnt AS DOUBLE)))").alias("w"),
    )
    g = j.groupBy("alpha").agg(
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.expr(
            "transform(array_sort(collect_list(struct(lang, w))), s -> s.w)"
        ).alias("ws"),
    )
    t = g.select(
        "alpha",
        "n_langs",
        "ws",
        F.expr(
            "aggregate(ws, CAST(0.0 AS DOUBLE), (ta, tb) -> ta + tb)"
        ).alias("tot"),
        F.expr(
            "aggregate(ws, CAST(0.0 AS DOUBLE),"
            " (ma, mb) -> CASE WHEN mb > ma THEN mb ELSE ma END)"
        ).alias("wmax"),
    )
    e = t.select(
        "alpha",
        "n_langs",
        "tot",
        "wmax",
        F.expr(
            "aggregate(transform(ws, z -> CASE WHEN z > 0.0D"
            " THEN -(z / tot) * ln(z / tot) ELSE 0.0D END),"
            " CAST(0.0 AS DOUBLE), (ea, eb) -> ea + eb)"
        ).alias("h"),
    )
    return e.select(
        F.col("alpha").cast("double").alias("alpha"),
        "n_langs",
        F.round(F.expr("h + 0.0"), 6).alias("entropy_nats"),
        F.round(F.exp("h"), 4).alias("effective_langs"),
        F.expr("CAST(floor(wmax * 1000000.0 / tot) AS BIGINT)").alias(
            "max_share_ppm"
        ),
    )


# --------------------------------------------------------------------------
# A/B power analysis: per-arm sample size over a minimum-detectable-effect
# grid, from the measured baseline conversion rate
# --------------------------------------------------------------------------

#: two-sided alpha = 0.05, power = 0.80 — the conventional defaults; the
#: normal quantiles are INJECTED as literals (the ndcg_retrieval_eval rule:
#: no engine inverse-CDF exists, and literals are bit-identical by nature)
_PWR_Z_ALPHA = 1.959964  # z_{0.975}
_PWR_Z_BETA = 0.841621  # z_{0.80}
_PWR_MDES = (0.05, 0.10, 0.20)  # relative lifts to detect

_PWR_ORACLE = f"""
WITH base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_events,
    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_conv
  FROM events
),
p AS (
  SELECT n_events, n_conv,
    CAST(n_conv AS DOUBLE) / CAST(n_events AS DOUBLE) AS p1
  FROM base
),
grid AS (
  SELECT unnest([{", ".join(str(m) for m in _PWR_MDES)}]) AS mde
),
calc AS (
  SELECT p.n_events, p.n_conv, p.p1, g.mde,
    p.p1 * (1.0 + g.mde) AS p2
  FROM p CROSS JOIN grid g
)
SELECT CAST(round(mde * 100) AS INT) AS mde_pct,
  n_events, n_conv,
  round(p1, 6) AS baseline_rate,
  round(p2, 6) AS target_rate,
  -- degenerate-baseline guard: a zero or saturated conversion rate has
  -- no detectable lift (p2 = p1) — NULL, never ceil(Infinity)
  CASE WHEN n_conv = 0 OR p1 >= 1.0 THEN NULL
    ELSE CAST(ceil(({_PWR_Z_ALPHA} + {_PWR_Z_BETA}) * ({_PWR_Z_ALPHA} + {_PWR_Z_BETA})
       * (p1 * (1.0 - p1) + p2 * (1.0 - p2))
       / ((p2 - p1) * (p2 - p1))) AS BIGINT)
  END AS n_per_arm,
  CASE WHEN n_conv = 0 OR p1 >= 1.0 THEN NULL
    ELSE CAST(ceil(({_PWR_Z_ALPHA} + {_PWR_Z_BETA}) * ({_PWR_Z_ALPHA} + {_PWR_Z_BETA})
       * (p1 * (1.0 - p1) + p2 * (1.0 - p2))
       / ((p2 - p1) * (p2 - p1))) * 2 AS BIGINT)
  END AS n_total
FROM calc
"""


@register("ab_power_sample_size", _PWR_ORACLE)
def q_ab_power_sample_size(spark, sf_dir):
    """A/B experiment sizing from the MEASURED baseline: for each relative
    lift in a literal MDE grid, the per-arm sample size that detects
    p₁ → p₁·(1+MDE) at two-sided α=0.05 with 80% power — the standard
    two-proportion normal-approximation formula
    n = (z_{{α/2}}+z_β)²·(p₁q₁+p₂q₂)/(p₂−p₁)². This is the DESIGN
    companion of ``ab_conversion_ztest`` (which analyzes a finished
    experiment): run it against production data to learn how long a test
    must run before you start it.

    Exactness: the baseline rate comes from one exact integer aggregate;
    the z quantiles are injected micro-literals (no engine inverse-CDF —
    the ndcg discount rule); the sizing chain is identical text, and
    ceil() lands exact integers both engines. One one-row aggregate +
    a |MDEs|-row literal grid — constant work after the scan."""
    ev = _t(spark, sf_dir, "events")
    base = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_conv"),
    ).select(
        "n_events",
        "n_conv",
        F.expr("CAST(n_conv AS DOUBLE) / CAST(n_events AS DOUBLE)").alias(
            "p1"
        ),
    )
    mdes = ", ".join(f"CAST({m} AS DOUBLE)" for m in _PWR_MDES)
    grid = ev.sparkSession.range(1).select(
        F.explode(F.expr(f"array({mdes})")).alias("mde")
    )
    z2 = f"({_PWR_Z_ALPHA} + {_PWR_Z_BETA}) * ({_PWR_Z_ALPHA} + {_PWR_Z_BETA})"
    calc = base.crossJoin(F.broadcast(grid)).withColumn(
        "p2", F.expr("p1 * (1.0 + mde)")
    )
    n_arm = (
        f"CAST(ceil({z2} * (p1 * (1.0 - p1) + p2 * (1.0 - p2))"
        " / ((p2 - p1) * (p2 - p1))) AS BIGINT)"
    )
    # degenerate-baseline guard mirrors the oracle (zero/saturated rate →
    # NULL sizes, never ceil(Infinity) under ANSI)
    guard = "CASE WHEN n_conv = 0 OR p1 >= 1.0 THEN NULL ELSE {} END"
    return calc.select(
        F.expr("CAST(round(mde * 100) AS INT)").alias("mde_pct"),
        "n_events",
        "n_conv",
        F.round("p1", 6).alias("baseline_rate"),
        F.round("p2", 6).alias("target_rate"),
        F.expr(guard.format(n_arm)).alias("n_per_arm"),
        F.expr(guard.format(f"{n_arm} * 2")).alias("n_total"),
    )


# --------------------------------------------------------------------------
# hapax legomena rate per source (vocabulary-health audit)
# --------------------------------------------------------------------------

_HAPAX_ORACLE = """
WITH tk AS (
  SELECT source, tok FROM (
    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
),
h AS (
  SELECT source, tok, count(*) AS c FROM tk GROUP BY source, tok
)
SELECT source,
  CAST(sum(c) AS BIGINT) AS n_tokens,
  CAST(count(*) AS BIGINT) AS vocab_size,
  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000 // count(*)
       AS BIGINT) AS hapax_share_ppm,
  CAST(count(*) * 1000000 // sum(c) AS BIGINT) AS ttr_ppm
FROM h GROUP BY source
"""


@register("hapax_legomena_rate", _HAPAX_ORACLE)
def q_hapax_legomena_rate(spark, sf_dir):
    """Hapax legomena rate per source: the share of each source's
    vocabulary seen exactly once, plus the corpus-level type-token ratio
    — the third classical vocabulary-health law next to
    ``heaps_law_fit`` (growth) and ``zipf_slope`` (frequency decay).
    Natural text runs ~40-60% hapax; a source far BELOW that is
    templated/boilerplate (vocabulary recycles), far above is OCR
    garbage or ID soup (every token novel) — a cheap source-admission
    gate that reads one number.

    Shape: one (source, token) count aggregate (map-side combined) and
    one per-source roll-up — the exchange carries the per-source vocab,
    never raw text. All-integer ppm floors."""
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    tk = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    h = tk.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    return h.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
        F.expr(
            "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000"
            " div count(*) AS BIGINT)"
        ).alias("hapax_share_ppm"),
        F.expr(
            "CAST(count(*) * 1000000 div sum(c) AS BIGINT)"
        ).alias("ttr_ppm"),
    )
