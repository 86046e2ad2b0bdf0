"""Round-6 tier: warehouse/product analytics + corpus-health audits.

Fifteen queries widening the engine past round 5. Documented at their
definitions below: ``kcenter_coreset`` (greedy diversity coreset with a
bit-reproducible selection sequence), ``length_ks_matrix`` (exact
two-sample KS distance between every pair of sources' length
distributions), ``source_lang_chi2`` (chi-square independence of the
source×language mix), ``token_packing_plan`` (concat-and-chunk context
packing), ``dau_wau_stickiness`` (trailing-window active users),
``quality_dup_calibration`` (quality-decile vs exact-dup rate),
``trimmed_mean_prices`` (exact grouped trimmed mean via histogram
rank-overlap sums), and ``revenue_gini`` (rank-weighted histogram Gini
in exact decimals). The first six:

- ``retention_cohorts`` — the classic cohort-retention matrix over
  ``events`` (first-seen month × activity-month offset), the product
  analytics table every warehouse serves.
- ``yoy_monthly_growth`` — year-over-year monthly revenue growth over
  ``orders`` via a month-key self-join (no 12-row lag assumption: missing
  months can't shift the comparison).
- ``zipf_slope`` — OLS fit of ln(frequency) on ln(rank) over the top
  tokens: THE one-number corpus-health check (natural language tracks
  slope ≈ −1; templated/synthetic corpora don't).
- ``tfidf_doc_pairs`` — all-pairs TF-IDF cosine ≥ threshold over the
  mid-df vocabulary: the lexical cousin of SemDeDup
  (operators/retrieval.tfidf_pairs has the plan story).
- ``embedding_dim_correlations`` — top-|Pearson| dimension pairs of the
  embedding matrix via an exact int64 Gram accumulation
  (operators/similarity.dim_correlations).
- ``doc_length_by_lang`` — exact per-language median/p90 token counts via
  the GROUPED bounded-histogram rank device: the cumulative window is
  partitioned BY LANGUAGE, so unlike the global variants it distributes
  across groups — no single-partition stage at any corpus size (token
  counts are the bounded domain).

Late-r6 additions (tested + driver-windowed in r7):
``ab_conversion_ztest`` — two-proportion z-test over md5-parity
experiment arms with a NULL-guard for the degenerate pooled-proportion
case (the harness corpus IS the p=1 case: every user converts, so the
unguarded denominator was exactly 0 and ANSI Spark threw
DIVIDE_BY_ZERO); ``cohort_ltv_matrix`` — revenue-by-cohort-age matrix
with per-cohort cumulative LTV in exact integer cents.

Cross-engine exactness: counts/ranks are integer; TF-IDF weights and
Gram moments are fixed-point BIGINTs (order-free sums); the Zipf
regression folds its ln() sums LEFT-TO-RIGHT over rank-ordered arrays on
both engines (F.aggregate ≡ list_reduce), so every double is
bit-reproducible; ratios round to 6 dp.

Late round 6 adds ``rfm_customer_segments`` (the warehouse-classic RFM
quintile segmentation, scored via the bounded-histogram CDF instead of
three ntile global sorts) and ``hill_tail_index`` (the EVT Hill
estimator over the top-k order values — TakeOrdered-sized by
construction, micro-nat log terms rounded before the integer sum).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from py_datalake_move_files_spark.operators import retrieval as RET
from py_datalake_move_files_spark.operators import similarity as SIM
from py_datalake_move_files_spark.oracle_frags import EMB_DIM
from py_datalake_move_files_spark.queries import _t, register

# --------------------------------------------------------------------------
# cohort retention matrix
# --------------------------------------------------------------------------

_RETENTION_ORACLE = """
WITH um AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
),
firstd AS (SELECT user_id, min(d) AS cd FROM um GROUP BY user_id),
act AS (SELECT u.user_id, u.d, f.cd FROM um u JOIN firstd f USING (user_id)),
cs AS (SELECT cd, count(*) AS csize FROM firstd GROUP BY cd),
r AS (
  SELECT cd, date_diff('day', cd, d) AS day_offset, count(*) AS n_users
  FROM act GROUP BY cd, day_offset
)
SELECT strftime(r.cd, '%Y-%m-%d') AS cohort_day,
       CAST(day_offset AS INT) AS day_offset,
       CAST(n_users AS BIGINT) AS n_users,
       CAST(n_users * 1000000 // cs.csize AS BIGINT) AS retention_ppm
FROM r JOIN cs USING (cd)
"""


@register("retention_cohorts", _RETENTION_ORACLE)
def q_retention_cohorts(spark, sf_dir):
    """Cohort retention: users bucketed by first-active DAY, then the
    share of each cohort active again k days later — the table behind
    every product-retention dashboard (daily grain because the harness
    event stream spans one month; the device is grain-agnostic). 100 TB
    shape: ONE exchange builds the distinct (user, day) activity set;
    first-day rides the same user key (co-partitioned groupBy); the
    cohort matrix and sizes are day-keyed aggregates of a few thousand
    cells; ppm is integer-exact."""
    ev = _t(spark, sf_dir, "events")
    um = ev.select("user_id", F.date_trunc("day", "ts").alias("d")).distinct()
    firstd = um.groupBy("user_id").agg(F.min("d").alias("cd"))
    act = um.join(firstd, "user_id")
    r = act.groupBy(
        F.col("cd"), F.datediff("d", "cd").cast("int").alias("day_offset")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    cs = firstd.groupBy("cd").agg(F.count(F.lit(1)).alias("csize"))
    return r.join(cs, "cd").select(
        F.date_format("cd", "yyyy-MM-dd").alias("cohort_day"),
        "day_offset",
        "n_users",
        F.expr("CAST(n_users * 1000000 DIV csize AS BIGINT)").alias(
            "retention_ppm"
        ),
    )


# --------------------------------------------------------------------------
# year-over-year monthly revenue growth
# --------------------------------------------------------------------------

_YOY_ORACLE = """
WITH mon AS (
  SELECT year(o_orderdate) AS y, month(o_orderdate) AS mo,
         strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rd
  FROM orders GROUP BY 1, 2, 3
)
SELECT c.month,
  CAST(round(c.rd, 2) AS DOUBLE) AS revenue,
  CAST(round(p.rd, 2) AS DOUBLE) AS prev_year_revenue,
  round(CAST(c.rd AS DOUBLE) / CAST(p.rd AS DOUBLE) - 1.0, 6) AS yoy_growth
FROM mon c LEFT JOIN mon p ON c.y = p.y + 1 AND c.mo = p.mo
"""


@register("yoy_monthly_growth", _YOY_ORACLE)
def q_yoy_monthly_growth(spark, sf_dir):
    """Year-over-year monthly revenue growth — the warehouse staple, built
    as a (year, month)-key SELF-JOIN of the monthly aggregate rather than
    lag(12): a lag over month ROWS silently compares wrong months when any
    month is missing. Revenue sums are exact decimal (rounded in the
    decimal domain, rule 1); the growth ratio divides the same exact
    decimals cast to double on both engines (rule 2). The monthly frame is
    a few hundred rows — the join is metadata-sized at any corpus scale."""
    o = _t(spark, sf_dir, "orders")
    mon = o.groupBy(
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("mo"),
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rd"))
    c = mon.alias("c")
    p = mon.alias("p")
    return c.join(
        p,
        (F.col("c.y") == F.col("p.y") + 1) & (F.col("c.mo") == F.col("p.mo")),
        "left",
    ).select(
        F.col("c.month").alias("month"),
        F.round(F.col("c.rd"), 2).cast("double").alias("revenue"),
        F.round(F.col("p.rd"), 2).cast("double").alias("prev_year_revenue"),
        F.round(
            F.col("c.rd").cast("double") / F.col("p.rd").cast("double") - 1.0, 6
        ).alias("yoy_growth"),
    )


# --------------------------------------------------------------------------
# Zipf slope of the token frequency distribution
# --------------------------------------------------------------------------

ZIPF_TOP = 200


def _zipf_fold_dd(expr_fn: str) -> str:
    """Left fold of a list in DuckDB — matches F.aggregate's order."""
    return f"list_reduce({expr_fn}, (zfa, zfb) -> zfa + zfb)"


_ZIPF_ORACLE = f"""
WITH tk AS (
  SELECT unnest(list_filter(string_split(text, ' '), zt -> zt <> '')) AS t
  FROM documents
),
tc AS (SELECT t, count(*) AS c FROM tk GROUP BY t),
top AS (SELECT t, c FROM tc ORDER BY c DESC, t ASC LIMIT {ZIPF_TOP}),
arr AS (SELECT list(c ORDER BY c DESC, t ASC) AS cnts FROM top),
st AS (
  -- coalesce: DuckDB's list() over zero rows is NULL where Spark's
  -- collect_list is [] — an empty corpus must report n_top = 0 in both
  SELECT CAST(coalesce(len(cnts), 0) AS BIGINT) AS n_top,
    {_zipf_fold_dd("list_transform(generate_series(1, len(cnts)), zi -> ln(CAST(zi AS DOUBLE)))")} AS sx,
    {_zipf_fold_dd("list_transform(generate_series(1, len(cnts)), zi -> ln(CAST(cnts[zi] AS DOUBLE)))")} AS sy,
    {_zipf_fold_dd("list_transform(generate_series(1, len(cnts)), zi -> ln(CAST(zi AS DOUBLE)) * ln(CAST(zi AS DOUBLE)))")} AS sxx,
    {_zipf_fold_dd("list_transform(generate_series(1, len(cnts)), zi -> ln(CAST(zi AS DOUBLE)) * ln(CAST(cnts[zi] AS DOUBLE)))")} AS sxy
  FROM arr
)
SELECT n_top,
  round((CAST(n_top AS DOUBLE) * sxy - sx * sy)
        / (CAST(n_top AS DOUBLE) * sxx - sx * sx), 6) AS zipf_slope,
  round((sy - ((CAST(n_top AS DOUBLE) * sxy - sx * sy)
               / (CAST(n_top AS DOUBLE) * sxx - sx * sx)) * sx)
        / CAST(n_top AS DOUBLE), 6) AS zipf_intercept
FROM st
"""


@register("zipf_slope", _ZIPF_ORACLE)
def q_zipf_slope(spark, sf_dir):
    """Zipf fit over the top-{ZIPF_TOP} token frequencies: OLS slope and
    intercept of ln(freq) on ln(rank). Natural corpora track slope ≈ −1;
    a flat or cliff-shaped fit flags templated/synthetic/boilerplate data
    before any model sees it.

    Plan + exactness: token counts are one map-side-combined exchange;
    the top cut plans as TakeOrderedAndProject (never a full sort); the
    regression runs over ONE rank-sorted array on a single row, with
    every ln() sum folded LEFT-TO-RIGHT (F.aggregate ≡ DuckDB
    list_reduce) so the doubles are bit-identical cross-engine — a
    grouped SUM of doubles would be partition-order-dependent."""
    docs = _t(spark, sf_dir, "documents")
    tk = docs.select(
        F.explode(F.expr("filter(split(text, ' '), zt -> zt <> '')")).alias("t")
    )
    tc = tk.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    top = tc.orderBy(F.col("c").desc(), F.col("t").asc()).limit(ZIPF_TOP)
    arr = top.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(-c AS nc, t))), "
            "zs -> -zs.nc)"
        ).alias("cnts")
    )
    # empty-corpus guard: sequence(1, 0) is DESCENDING in Spark and the
    # element_at(cnts, 1) lookup would ANSI-abort — an empty top list
    # must yield NULL sums like DuckDB's list_reduce over an empty list
    # (degenerate-lake rule)
    fold = (
        lambda body: f"CASE WHEN size(cnts) = 0 THEN NULL"
        f" ELSE aggregate(sequence(1, size(cnts)), CAST(0.0 AS DOUBLE), "
        f"(zfa, zi) -> zfa + ({body})) END"
    )
    st = arr.select(
        F.expr("CAST(size(cnts) AS BIGINT)").alias("n_top"),
        F.expr(fold("ln(CAST(zi AS DOUBLE))")).alias("sx"),
        F.expr(fold("ln(CAST(element_at(cnts, zi) AS DOUBLE))")).alias("sy"),
        F.expr(
            fold("ln(CAST(zi AS DOUBLE)) * ln(CAST(zi AS DOUBLE))")
        ).alias("sxx"),
        F.expr(
            fold(
                "ln(CAST(zi AS DOUBLE)) * ln(CAST(element_at(cnts, zi) AS DOUBLE))"
            )
        ).alias("sxy"),
    )
    slope = (
        "(CAST(n_top AS DOUBLE) * sxy - sx * sy) "
        "/ (CAST(n_top AS DOUBLE) * sxx - sx * sx)"
    )
    return st.select(
        "n_top",
        F.expr(f"round({slope}, 6)").alias("zipf_slope"),
        F.expr(
            f"round((sy - ({slope}) * sx) / CAST(n_top AS DOUBLE), 6)"
        ).alias("zipf_intercept"),
    )


# --------------------------------------------------------------------------
# all-pairs TF-IDF cosine (lexical SemDeDup)
# --------------------------------------------------------------------------

TFIDF_MIN_DF = 2
TFIDF_MAX_DF = 64
TFIDF_T = 0.5
TFIDF_SCALE = 1000

_TFIDF_ORACLE = f"""
WITH tk AS (
  SELECT doc_id AS doc,
    unnest(list_filter(string_split(text, ' '), tt -> tt <> '')) AS term
  FROM documents
),
tf AS (SELECT doc, term, count(*) AS tf FROM tk GROUP BY doc, term),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM documents),
w0 AS (
  SELECT tf.doc, tf.term,
    tf.tf * CAST(round(ln(CAST(nd.n AS DOUBLE) / CAST(dfq.df AS DOUBLE))
                       * {TFIDF_SCALE}) AS BIGINT) AS w
  FROM tf JOIN dfq USING (term) CROSS JOIN nd
  WHERE dfq.df >= {TFIDF_MIN_DF} AND dfq.df <= {TFIDF_MAX_DF}
),
w AS (SELECT * FROM w0 WHERE w <> 0),
nrm AS (SELECT doc, sum(w * w) AS n2 FROM w GROUP BY doc),
dots AS (
  SELECT a.doc AS id_a, b.doc AS id_b, sum(a.w * b.w) AS dot
  FROM w a JOIN w b ON a.term = b.term AND a.doc < b.doc
  GROUP BY a.doc, b.doc
),
sc AS (
  SELECT id_a, id_b,
    round(CAST(dot AS DOUBLE)
          / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
          6) AS tfidf_cosine
  FROM dots
  JOIN nrm na ON na.doc = dots.id_a
  JOIN nrm nb ON nb.doc = dots.id_b
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       tfidf_cosine
FROM sc WHERE tfidf_cosine >= {TFIDF_T}
"""


@register("tfidf_doc_pairs", _TFIDF_ORACLE)
def q_tfidf_doc_pairs(spark, sf_dir):
    """All-pairs TF-IDF cosine ≥ {TFIDF_T} over the mid-df vocabulary —
    rare-term-weighted near-dup detection (operators/retrieval.tfidf_pairs
    carries the plan + fixed-point exactness story; the df window
    [{TFIDF_MIN_DF}, {TFIDF_MAX_DF}] is the same hot-key guard as
    containment's max_df, applied to the vector space itself)."""
    docs = _t(spark, sf_dir, "documents")
    out = RET.tfidf_pairs(
        docs,
        id_col="doc_id",
        text_col="text",
        min_df=TFIDF_MIN_DF,
        max_df=TFIDF_MAX_DF,
        threshold=TFIDF_T,
        idf_scale=TFIDF_SCALE,
    )
    return out.select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), "tfidf_cosine"
    )


# --------------------------------------------------------------------------
# embedding dimension correlation audit
# --------------------------------------------------------------------------

DIMCORR_TOP = 20
DIMCORR_SCALE = 1_000_000

_DIMCORR_ORACLE = f"""
WITH x AS (
  SELECT vec_id, i,
    CAST(round(CAST(embedding[i] AS DOUBLE) * {DIMCORR_SCALE}) AS BIGINT) AS v
  FROM embeddings, unnest(generate_series(1, {EMB_DIM})) AS t(i)
),
mom AS (SELECT i, sum(v) AS sx, sum(v * v) AS sxx FROM x GROUP BY i),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
ps AS (
  SELECT a.i AS dim_i, b.i AS dim_j, sum(a.v * b.v) AS sxy
  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i < b.i
  GROUP BY a.i, b.i
),
cr AS (
  -- zero-variance guard: constant/single-row dimensions make the
  -- denominator 0; NULL corr in both engines (degenerate-lake rule)
  SELECT dim_i, dim_j,
    CASE WHEN CAST(n AS DOUBLE) * CAST(ma.sxx AS DOUBLE)
              - CAST(ma.sx AS DOUBLE) * CAST(ma.sx AS DOUBLE) <= 0.0
           OR CAST(n AS DOUBLE) * CAST(mb.sxx AS DOUBLE)
              - CAST(mb.sx AS DOUBLE) * CAST(mb.sx AS DOUBLE) <= 0.0
      THEN NULL
      ELSE round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(ma.sx AS DOUBLE) * CAST(mb.sx AS DOUBLE))
          / (sqrt(CAST(n AS DOUBLE) * CAST(ma.sxx AS DOUBLE)
                  - CAST(ma.sx AS DOUBLE) * CAST(ma.sx AS DOUBLE))
             * sqrt(CAST(n AS DOUBLE) * CAST(mb.sxx AS DOUBLE)
                    - CAST(mb.sx AS DOUBLE) * CAST(mb.sx AS DOUBLE))),
          6)
    END AS corr
  FROM ps
  JOIN mom ma ON ma.i = ps.dim_i
  JOIN mom mb ON mb.i = ps.dim_j
  CROSS JOIN nn
),
rk AS (
  SELECT *, row_number() OVER (
    ORDER BY abs(corr) DESC, dim_i ASC, dim_j ASC) AS rn
  FROM cr
)
SELECT CAST(dim_i AS INT) AS dim_i, CAST(dim_j AS INT) AS dim_j, corr,
       CAST(rn AS INT) AS rnk
FROM rk WHERE rn <= {DIMCORR_TOP}
"""


@register("embedding_dim_correlations", _DIMCORR_ORACLE)
def q_embedding_dim_correlations(spark, sf_dir):
    """Top-{DIMCORR_TOP} most-correlated embedding dimension pairs — the
    redundancy audit of the representation itself
    (operators/similarity.dim_correlations: exact int64 Gram via an
    Arrow-batched numpy kernel whose d²-cell partials combine map-side —
    the exchange is O(d²) regardless of corpus size)."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.dim_correlations(
        emb, "embedding", dim=EMB_DIM, top=DIMCORR_TOP, scale=DIMCORR_SCALE
    )


# --------------------------------------------------------------------------
# grouped exact quantiles: per-language token-length median / p90
# --------------------------------------------------------------------------

_LENLANG_ORACLE = """
WITH lens AS (
  SELECT lang,
    CAST(len(list_filter(string_split(text, ' '), lt -> lt <> '')) AS BIGINT)
      AS n_tok
  FROM documents
),
hist AS (SELECT lang, n_tok, count(*) AS hn FROM lens GROUP BY lang, n_tok),
cum AS (
  SELECT lang, n_tok, hn,
    sum(hn) OVER (PARTITION BY lang ORDER BY n_tok
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
    sum(hn) OVER (PARTITION BY lang) AS tot
  FROM hist
)
SELECT lang, CAST(max(tot) AS BIGINT) AS n_docs,
  CAST(min(CASE WHEN cw >= (tot + 1) // 2 THEN n_tok END)
       + min(CASE WHEN cw >= (tot + 2) // 2 THEN n_tok END) AS BIGINT)
    AS median_tokens_x2,
  CAST(min(CASE WHEN cw >= (tot * 9 + 9) // 10 THEN n_tok END) AS BIGINT)
    AS p90_tokens
FROM cum GROUP BY lang
"""


@register("doc_length_by_lang", _LENLANG_ORACLE)
def q_doc_length_by_lang(spark, sf_dir):
    """Exact per-language median (×2 fixed point) and p90 of document
    token counts — the length-profile table a mixture planner reads per
    language. This is the GROUPED form of the bounded-histogram rank
    device: the cumulative window partitions BY LANGUAGE, so the stage
    distributes across groups (no single-partition window anywhere) and
    each group's histogram is bounded by the token-count domain, not by
    its row count."""
    docs = _t(spark, sf_dir, "documents")
    lens = docs.select(
        "lang",
        F.expr(
            "CAST(size(filter(split(text, ' '), lt -> lt <> '')) AS BIGINT)"
        ).alias("n_tok"),
    )
    hist = lens.groupBy("lang", "n_tok").agg(F.count(F.lit(1)).alias("hn"))
    wcum = (
        Window.partitionBy("lang")
        .orderBy("n_tok")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cw", F.sum("hn").over(wcum)).withColumn(
        "tot", F.sum("hn").over(Window.partitionBy("lang"))
    )
    return cum.groupBy("lang").agg(
        F.max("tot").cast("long").alias("n_docs"),
        F.expr(
            "CAST(min(CASE WHEN cw >= (tot + 1) DIV 2 THEN n_tok END)"
            " + min(CASE WHEN cw >= (tot + 2) DIV 2 THEN n_tok END) AS BIGINT)"
        ).alias("median_tokens_x2"),
        F.expr(
            "CAST(min(CASE WHEN cw >= (tot * 9 + 9) DIV 10 THEN n_tok END)"
            " AS BIGINT)"
        ).alias("p90_tokens"),
    )


# --------------------------------------------------------------------------
# greedy k-center coreset (diversity sampling)
# --------------------------------------------------------------------------

KCENTER_K = 8
_KC_SCALE = 1_000_000


def _dd_sqdist_fp(a: str, b: str) -> str:
    """Fixed-point squared L2 — the same left fold as the Spark HOF in
    operators/similarity.kcenter_greedy (0-init fold ≡ DuckDB's no-init
    list_reduce because 0.0 + x == x in IEEE)."""
    diff = f"(CAST({a}[ki] AS DOUBLE) - CAST({b}[ki] AS DOUBLE))"
    return (
        f"CAST(round(list_reduce(list_transform(generate_series(1, {EMB_DIM}), "
        f"ki -> {diff} * {diff}), (kr, kt) -> kr + kt) * {_KC_SCALE}) AS BIGINT)"
    )


def _kcenter_oracle() -> str:
    # the center vector rides a one-row CROSS JOIN (DuckDB rejects scalar
    # subqueries inside lambda bodies)
    ctes = [
        "e AS (SELECT vec_id, embedding FROM embeddings)",
        "c0 AS (SELECT vec_id, embedding, CAST(0 AS BIGINT) AS gap "
        "FROM e ORDER BY vec_id ASC LIMIT 1)",
        f"d0 AS (SELECT e.vec_id, e.embedding, "
        f"{_dd_sqdist_fp('e.embedding', 'cc.embedding')} AS dmin "
        f"FROM e CROSS JOIN c0 cc)",
    ]
    for i in range(1, KCENTER_K):
        prev_d = f"d{i - 1}"
        ctes.append(
            f"c{i} AS (SELECT vec_id, embedding, dmin AS gap FROM {prev_d} "
            f"ORDER BY dmin DESC, vec_id ASC LIMIT 1)"
        )
        if i < KCENTER_K - 1:
            dist = _dd_sqdist_fp("p.embedding", "cc.embedding")
            ctes.append(
                f"d{i} AS (SELECT p.vec_id, p.embedding, "
                f"least(p.dmin, {dist}) AS dmin "
                f"FROM {prev_d} p CROSS JOIN c{i} cc)"
            )
    selects = [
        f"SELECT {i + 1} AS rnk, CAST(vec_id AS BIGINT) AS center_id, "
        f"gap AS gap_fp FROM c{i}"
        for i in range(KCENTER_K)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


@register("kcenter_coreset", _kcenter_oracle())
def q_kcenter_coreset(spark, sf_dir):
    """Greedy k-center over the embedding corpus: the {KCENTER_K} most
    mutually-distant vectors plus the selection-gap curve — the diversity
    coreset a curation pipeline uses for representative sampling and for
    sizing dedup radii (operators/similarity.kcenter_greedy: k one-row
    driver round-trips, corpus work fully distributed, fixed-point
    distances so the greedy sequence is bit-reproducible — the oracle
    unrolls the identical chain as {KCENTER_K} chained CTEs)."""
    emb = _t(spark, sf_dir, "embeddings")
    rows = SIM.kcenter_greedy(
        emb, k=KCENTER_K, vec_col="embedding", id_col="vec_id",
        scale=_KC_SCALE,
    )
    return spark.createDataFrame(
        [(r, int(c), int(g)) for r, c, g in rows],
        "rnk int, center_id long, gap_fp long",
    )


# --------------------------------------------------------------------------
# two-sample KS distance matrix between per-source length distributions
# --------------------------------------------------------------------------

_KS_ORACLE = """
WITH lens AS (
  SELECT source,
    CAST(len(list_filter(string_split(text, ' '), kt -> kt <> '')) AS BIGINT)
      AS v
  FROM documents
),
hist AS (SELECT source, v, count(*) AS hn FROM lens GROUP BY source, v),
grid AS (SELECT DISTINCT v FROM lens),
tot AS (SELECT source, count(*) AS n FROM lens GROUP BY source),
full_grid AS (SELECT t.source, g.v, t.n FROM grid g CROSS JOIN tot t),
cdf AS (
  SELECT f.source, f.v, f.n,
    sum(coalesce(h.hn, 0)) OVER (
      PARTITION BY f.source ORDER BY f.v
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
  FROM full_grid f LEFT JOIN hist h ON h.source = f.source AND h.v = f.v
),
diffs AS (
  SELECT a.source AS source_a, b.source AS source_b, a.n AS n_a, b.n AS n_b,
    abs(CAST(a.cw AS DOUBLE) / CAST(a.n AS DOUBLE)
        - CAST(b.cw AS DOUBLE) / CAST(b.n AS DOUBLE)) AS d
  FROM cdf a JOIN cdf b ON a.v = b.v AND a.source < b.source
)
SELECT source_a, source_b, CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b, round(max(d), 6) AS ks_stat
FROM diffs GROUP BY source_a, source_b, n_a, n_b
"""


@register("length_ks_matrix", _KS_ORACLE)
def q_length_ks_matrix(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov distance between every pair of
    sources' token-length distributions — the distribution-drift audit
    that tells a mixture planner which sources are interchangeable and
    which need their own length curriculum. No sampling, no sorting of
    raw rows: per-source histograms (bounded by the length domain) are
    aligned on the shared value grid, CDFs come from a per-source
    cumulative window (distributed across sources), and the sup-distance
    is a max over exact same-op-order division results — deterministic
    cross-engine without any fixed-point scaling."""
    docs = _t(spark, sf_dir, "documents")
    lens = docs.select(
        "source",
        F.expr(
            "CAST(size(filter(split(text, ' '), kt -> kt <> '')) AS BIGINT)"
        ).alias("v"),
    )
    hist = lens.groupBy("source", "v").agg(F.count(F.lit(1)).alias("hn"))
    grid = lens.select("v").distinct()
    tot = lens.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    full_grid = grid.crossJoin(F.broadcast(tot))
    cdf = (
        full_grid.join(hist, ["source", "v"], "left")
        .withColumn(
            "cw",
            F.sum(F.coalesce(F.col("hn"), F.lit(0))).over(
                Window.partitionBy("source")
                .orderBy("v")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .select("source", "v", "n", "cw")
    )
    # both pair-join sides read the CDF frame; it is grid×sources small
    # (domain-bounded), and Catalyst re-derives the histogram build per
    # aliased side without the cut (measured 11 → 3 exchanges)
    cdf = cdf.localCheckpoint(eager=True)
    a = cdf.select(
        F.col("source").alias("source_a"),
        "v",
        F.col("n").alias("n_a"),
        F.col("cw").alias("cw_a"),
    )
    b = cdf.select(
        F.col("source").alias("source_b"),
        "v",
        F.col("n").alias("n_b"),
        F.col("cw").alias("cw_b"),
    )
    diffs = (
        a.join(b, "v")
        .where(F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            F.abs(
                F.col("cw_a").cast("double") / F.col("n_a").cast("double")
                - F.col("cw_b").cast("double") / F.col("n_b").cast("double")
            ).alias("d"),
        )
    )
    return diffs.groupBy("source_a", "source_b", "n_a", "n_b").agg(
        F.round(F.max("d"), 6).alias("ks_stat")
    )


# --------------------------------------------------------------------------
# chi-square independence audit: source × language
# --------------------------------------------------------------------------

_CHI2_ORACLE = """
WITH cells AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS obs
  FROM documents GROUP BY source, lang
),
rt AS (SELECT source, sum(obs) AS r FROM cells GROUP BY source),
ct AS (SELECT lang, sum(obs) AS c FROM cells GROUP BY lang),
nn AS (SELECT sum(obs) AS n FROM cells),
terms AS (
  SELECT cells.source, cells.lang,
    (CAST(obs AS DOUBLE)
     - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
    * (CAST(obs AS DOUBLE)
       - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
    / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS term
  FROM cells JOIN rt USING (source) JOIN ct USING (lang) CROSS JOIN nn
),
folded AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cells,
    list_reduce(list(term ORDER BY source, lang), (ca, cb) -> ca + cb)
      AS chi2
  FROM terms
),
dims AS (
  SELECT CAST((count(DISTINCT source) - 1) * (count(DISTINCT lang) - 1)
              AS BIGINT) AS dof
  FROM cells
)
SELECT n_cells, dof, round(chi2, 6) AS chi2 FROM folded CROSS JOIN dims
"""


@register("source_lang_chi2", _CHI2_ORACLE)
def q_source_lang_chi2(spark, sf_dir):
    """Chi-square independence of the source × language contingency table
    — the mix audit that flags a source whose language profile diverges
    from the corpus (scraper drift, mislabeled feeds). Marginals are
    exact integers off the few-hundred-cell aggregate; the per-cell
    (obs−exp)²/exp terms are mirrored op-for-op, and the final Σ folds
    LEFT-TO-RIGHT over the (source, lang)-sorted term list on both
    engines — never a partition-order-dependent double SUM."""
    docs = _t(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("obs")
    )
    # four consumers (marginals, total, terms, dof) re-derive the cell
    # aggregate without the cut; the frame is a few hundred rows
    cells = cells.localCheckpoint(eager=True)
    rt = cells.groupBy("source").agg(F.sum("obs").alias("r"))
    ct = cells.groupBy("lang").agg(F.sum("obs").alias("c"))
    nn = cells.agg(F.sum("obs").alias("n"))
    exp = (
        F.col("r").cast("double")
        * F.col("c").cast("double")
        / F.col("n").cast("double")
    )
    terms = (
        cells.join(F.broadcast(rt), "source")
        .join(F.broadcast(ct), "lang")
        .crossJoin(F.broadcast(nn))
        .select(
            "source",
            "lang",
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
            "struct(source, lang, term))), cs -> cs.term), "
            "CAST(0.0 AS DOUBLE), (ca, cb) -> ca + cb)"
        ).alias("chi2"),
    )
    dims = cells.agg(
        (
            (F.countDistinct("source") - 1) * (F.countDistinct("lang") - 1)
        )
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
# token packing plan (concat-and-chunk into fixed context windows)
# --------------------------------------------------------------------------

PACK_BUDGET = 256
PACK_SHARDS = 16


def _pack_oracle() -> str:
    from py_datalake_move_files_spark.operators.dedup import hex_value_sql

    hv = hex_value_sql("md5(CAST(doc_id AS VARCHAR))", 2)
    return f"""
WITH lens AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split(text, ' '), pt -> pt <> '')) AS BIGINT)
      AS n_tok,
    CAST(({hv}) % {PACK_SHARDS} AS INT) AS shard,
    md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
seq AS (
  SELECT shard, n_tok,
    sum(n_tok) OVER (PARTITION BY shard ORDER BY h, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      - n_tok AS cum_prev
  FROM lens
),
binned AS (
  SELECT shard, n_tok, cum_prev // {PACK_BUDGET} AS bin_id FROM seq
)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
  CAST(max(bin_id) + 1 AS BIGINT) AS n_bins,
  CAST(count(DISTINCT bin_id) AS BIGINT) AS n_started_bins,
  CAST(sum(n_tok) * 1000000 // ((max(bin_id) + 1) * {PACK_BUDGET})
       AS BIGINT) AS fill_ppm
FROM binned GROUP BY shard
"""


@register("token_packing_plan", _pack_oracle())
def q_token_packing_plan(spark, sf_dir):
    """Concat-and-chunk packing plan — the GPT-style pretraining batcher:
    documents are concatenated in a deterministic md5-shuffled order and
    cut into fixed {PACK_BUDGET}-token context windows; a document's bin
    is ``exclusive_cumsum(tokens) DIV budget`` (documents straddle window
    boundaries — exactly the concat-then-chunk model, where nothing is
    padded and fill is ~100% except each shard's final window). Reports
    per-shard doc/token/bin counts and the integer-ppm fill rate.

    100 TB shape: packing runs INDEPENDENTLY per md5 shard, so the only
    window is partitioned by shard (distributes across the cluster —
    shard count scales with corpus size exactly like training_shard_plan);
    the md5 order inside a shard is the deterministic shuffle the
    curriculum already needs, and the output is a {PACK_SHARDS}-row
    summary. All quantities integer-exact."""
    from py_datalake_move_files_spark.operators.dedup import hex_value

    docs = _t(spark, sf_dir, "documents")
    hv = hex_value("md5(CAST(doc_id AS STRING))", 2)
    lens = docs.select(
        "doc_id",
        F.expr(
            "CAST(size(filter(split(text, ' '), pt -> pt <> '')) AS BIGINT)"
        ).alias("n_tok"),
        F.expr(f"CAST(({hv}) % {PACK_SHARDS} AS INT)").alias("shard"),
        F.expr("md5(CAST(doc_id AS STRING))").alias("h"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = lens.withColumn(
        "cum_prev", F.sum("n_tok").over(w) - F.col("n_tok")
    )
    binned = seq.select(
        "shard", "n_tok", F.expr(f"cum_prev DIV {PACK_BUDGET}").alias("bin_id")
    )
    return binned.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        (F.max("bin_id") + 1).cast("long").alias("n_bins"),
        F.countDistinct("bin_id").cast("long").alias("n_started_bins"),
        F.expr(
            f"CAST(sum(n_tok) * 1000000 DIV ((max(bin_id) + 1) * {PACK_BUDGET})"
            f" AS BIGINT)"
        ).alias("fill_ppm"),
    )


# --------------------------------------------------------------------------
# DAU / WAU stickiness
# --------------------------------------------------------------------------

_DAU_ORACLE = """
WITH ud AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
),
grid AS (SELECT DISTINCT d FROM ud),
dau AS (SELECT d, count(*) AS dau FROM ud GROUP BY d),
wau AS (
  SELECT g.d, count(DISTINCT u.user_id) AS wau
  FROM grid g JOIN ud u
    ON u.d <= g.d AND u.d >= g.d - INTERVAL 6 DAY
  GROUP BY g.d
)
SELECT strftime(dau.d, '%Y-%m-%d') AS day,
       CAST(dau.dau AS BIGINT) AS dau,
       CAST(wau.wau AS BIGINT) AS wau,
       CAST(dau.dau * 1000000 // wau.wau AS BIGINT) AS stickiness_ppm
FROM dau JOIN wau ON dau.d = wau.d
"""


@register("dau_wau_stickiness", _DAU_ORACLE)
def q_dau_wau_stickiness(spark, sf_dir):
    """Daily active users, trailing-7-day weekly active users, and the
    DAU/WAU stickiness ratio — the engagement triple every product
    dashboard leads with. The trailing-window distinct count never
    shuffles raw events per window: the distinct (user, day) activity set
    is built once (one exchange), and each grid day joins its 7-day
    activity slice through a BROADCAST of the day grid (bounded by the
    calendar, not the corpus), with the distinct-user count one
    key-partitioned aggregate. Stickiness is integer ppm."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.select("user_id", F.date_trunc("day", "ts").alias("d")).distinct()
    ud = ud.localCheckpoint(eager=True)
    grid = ud.select("d").distinct().withColumnRenamed("d", "g")
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    wau = (
        ud.join(
            F.broadcast(grid),
            (F.col("d") <= F.col("g"))
            & (F.datediff("g", "d") <= F.lit(6)),
        )
        .groupBy("g")
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
    )
    return dau.join(wau, dau["d"] == wau["g"]).select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "dau",
        "wau",
        F.expr("CAST(dau * 1000000 DIV wau AS BIGINT)").alias(
            "stickiness_ppm"
        ),
    )


# --------------------------------------------------------------------------
# quality-score decile vs exact-dup rate calibration
# --------------------------------------------------------------------------


def _calib_oracle() -> str:
    from py_datalake_move_files_spark.queries import _QUALITY_ORACLE

    return f"""
-- NULL texts have no quality score or digest and are excluded in both
-- arms (a NULL quality bucket sits on opposite ends of the engines'
-- default null ordering inside the decile window)
WITH q AS (SELECT * FROM ({_QUALITY_ORACLE.strip()}) WHERE quality IS NOT NULL),
fp AS (
  SELECT doc_id,
    CASE WHEN count(*) OVER (PARTITION BY md5(text)) > 1 THEN 1 ELSE 0 END
      AS is_dup
  FROM documents WHERE text IS NOT NULL
),
hist AS (SELECT quality, count(*) AS hn FROM q GROUP BY quality),
cum AS (
  SELECT quality, hn,
    sum(hn) OVER (ORDER BY quality
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - hn
      AS below,
    sum(hn) OVER () AS tot
  FROM hist
),
dmap AS (
  SELECT quality, least(9, below * 10 // tot) AS decile FROM cum
),
joined AS (
  SELECT dmap.decile, fp.is_dup
  FROM q JOIN dmap USING (quality) JOIN fp USING (doc_id)
)
SELECT CAST(decile AS INT) AS decile,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(is_dup) AS BIGINT) AS n_dups,
  CAST(sum(is_dup) * 1000000 // count(*) AS BIGINT) AS dup_ppm
FROM joined GROUP BY decile
"""


@register("quality_dup_calibration", _calib_oracle())
def q_quality_dup_calibration(spark, sf_dir):
    """Calibration curve between the heuristic quality score and exact
    duplication: per quality DECILE, the ppm of documents whose content
    digest appears more than once — the cross-check a curation pipeline
    runs before trusting a quality threshold (low-quality deciles should
    carry the boilerplate mass; if they don't, the score is miscalibrated
    for dedup triage).

    Deciles come from the bounded-histogram rank device over DISTINCT
    quality values (6-dp grid → domain-bounded; every doc with the same
    score lands in the same decile — no row_number over the corpus); the
    decile map rides a broadcast back onto the scan, and the dup flag is
    the digest-window count from dedup_exact's device (32-byte digests,
    never text, on the exchange)."""
    from py_datalake_move_files_spark.operators.text import quality_score

    # NULL texts excluded in both arms (see oracle comment)
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    q = quality_score(docs).select("doc_id", "quality").where(
        F.col("quality").isNotNull()
    )
    fp = docs.select(
        "doc_id",
        F.when(
            F.count(F.lit(1)).over(
                Window.partitionBy(F.md5(F.col("text").cast("binary")))
            )
            > 1,
            1,
        )
        .otherwise(0)
        .alias("is_dup"),
    )
    hist = q.groupBy("quality").agg(F.count(F.lit(1)).alias("hn"))
    wcum = Window.orderBy("quality").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        hist.withColumn("below", F.sum("hn").over(wcum) - F.col("hn"))
        .withColumn("tot", F.sum("hn").over(Window.partitionBy()))
    )
    dmap = cum.select(
        "quality",
        F.expr("least(9, below * 10 DIV tot)").alias("decile"),
    )
    joined = (
        q.join(F.broadcast(dmap), "quality")
        .join(fp, "doc_id")
        .select("decile", "is_dup")
    )
    return joined.groupBy(F.col("decile").cast("int").alias("decile")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("is_dup").cast("long").alias("n_dups"),
        F.expr("CAST(sum(is_dup) * 1000000 DIV count(1) AS BIGINT)").alias(
            "dup_ppm"
        ),
    )


# --------------------------------------------------------------------------
# exact grouped trimmed mean (robust stats, histogram rank-overlap device)
# --------------------------------------------------------------------------

_TRIM_ORACLE = """
WITH cents AS (
  SELECT o_orderpriority AS priority,
    CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
),
hist AS (SELECT priority, c, count(*) AS hn FROM cents GROUP BY priority, c),
cum AS (
  SELECT priority, c, hn,
    sum(hn) OVER (PARTITION BY priority ORDER BY c
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
    sum(hn) OVER (PARTITION BY priority) AS n
  FROM hist
),
kept AS (
  SELECT priority, n, n // 10 AS k,
    greatest(0, least(cw, n - n // 10) - greatest(cw - hn, n // 10)) AS kc,
    c
  FROM cum
)
SELECT priority, CAST(max(n) AS BIGINT) AS n_orders,
  CAST(max(n) - 2 * max(k) AS BIGINT) AS n_kept,
  round(CAST(sum(kc * c) AS DOUBLE)
        / (CAST(max(n) - 2 * max(k) AS DOUBLE) * 100.0), 6)
    AS trimmed_mean
FROM kept GROUP BY priority
"""


@register("trimmed_mean_prices", _TRIM_ORACLE)
def q_trimmed_mean_prices(spark, sf_dir):
    """Exact 10%-trimmed mean order value per priority — the robust
    location estimate that survives fat tails where the plain mean
    doesn't, computed WITHOUT sorting or buffering raw rows: values
    quantize to integer cents, each histogram cell's rank span
    ``(cw−hn, cw]`` intersects the kept-rank window ``(k, n−k]``
    (k = n DIV 10), and the trimmed sum is Σ value·overlap — boundary
    cells contribute PARTIALLY, exactly. The grouped form of the
    histogram-rank family: the cumulative window partitions by priority
    (distributes across groups) over a money-bounded domain; every
    quantity is integer until the single final division."""
    o = _t(spark, sf_dir, "orders")
    cents = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    hist = cents.groupBy("priority", "c").agg(F.count(F.lit(1)).alias("hn"))
    wcum = (
        Window.partitionBy("priority")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cw", F.sum("hn").over(wcum)).withColumn(
        "n", F.sum("hn").over(Window.partitionBy("priority"))
    )
    kept = cum.select(
        "priority",
        "n",
        F.expr("n DIV 10").alias("k"),
        F.expr(
            "greatest(0, least(cw, n - n DIV 10)"
            " - greatest(cw - hn, n DIV 10))"
        ).alias("kc"),
        "c",
    )
    return kept.groupBy("priority").agg(
        F.max("n").cast("long").alias("n_orders"),
        (F.max("n") - 2 * F.max("k")).cast("long").alias("n_kept"),
        F.round(
            F.sum(F.col("kc") * F.col("c")).cast("double")
            / ((F.max("n") - 2 * F.max("k")).cast("double") * 100.0),
            6,
        ).alias("trimmed_mean"),
    )


# --------------------------------------------------------------------------
# revenue concentration: exact Gini coefficient over customer revenue
# --------------------------------------------------------------------------

_GINI_ORACLE = """
WITH cr AS (
  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                         AS BIGINT) AS r
  FROM orders GROUP BY o_custkey
),
hist AS (SELECT r, count(*) AS hn FROM cr GROUP BY r),
cum AS (
  SELECT r, hn,
    sum(hn) OVER (ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS cw,
    sum(hn) OVER () AS n
  FROM hist
),
agg AS (
  SELECT max(n) AS n,
    sum(CAST(r AS DECIMAL(38,0)) * hn) AS s,
    sum(CAST(r AS DECIMAL(38,0)) * hn * (cw - hn + 1 + cw)) AS sw2
  FROM cum
)
SELECT CAST(n AS BIGINT) AS n_customers,
  CAST(s AS BIGINT) AS total_revenue_cents,
  round(CAST(sw2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
        - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini
FROM agg
"""


@register("revenue_gini", _GINI_ORACLE)
def q_revenue_gini(spark, sf_dir):
    """Exact Gini coefficient of per-customer revenue — the concentration
    number behind every "top X% of customers drive Y%" claim, computed
    WITHOUT a global sort of customers: revenues quantize to integer
    cents, and the rank-weighted sum Σ i·x_i folds per histogram cell as
    ``x · (first_rank + last_rank) · count / 2`` (equal values commute
    within their rank span, so tie order cannot matter) — the
    rank-weighted generalization of the histogram-rank family. The
    weighted sum accumulates in DECIMAL(38,0) (rank·value·count products
    overflow int64 at ~1e9 customers); the only doubles are the final
    two same-op-order divisions. The cumulative window runs over
    DISTINCT revenue values; coarsen to whole currency units first if
    distinct revenues approach customer count at extreme scale."""
    o = _t(spark, sf_dir, "orders")
    cr = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("r")
    )
    hist = cr.groupBy("r").agg(F.count(F.lit(1)).alias("hn"))
    wcum = Window.orderBy("r").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("cw", F.sum("hn").over(wcum)).withColumn(
        "n", F.sum("hn").over(Window.partitionBy())
    )
    agg = cum.agg(
        F.max("n").alias("n"),
        F.sum(F.col("r").cast("decimal(38,0)") * F.col("hn")).alias("s"),
        F.sum(
            F.col("r").cast("decimal(38,0)")
            * F.col("hn")
            * (F.col("cw") - F.col("hn") + 1 + F.col("cw"))
        ).alias("sw2"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("s").cast("long").alias("total_revenue_cents"),
        F.round(
            F.col("sw2").cast("double")
            / (F.col("n").cast("double") * F.col("s").cast("double"))
            - (F.col("n").cast("double") + 1.0) / F.col("n").cast("double"),
            6,
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# Lorenz point: revenue share of the top decile of customers
# --------------------------------------------------------------------------

_TOPSHARE_ORACLE = """
WITH cr AS (
  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                         AS BIGINT) AS r
  FROM orders GROUP BY o_custkey
),
hist AS (SELECT r, count(*) AS hn FROM cr GROUP BY r),
cum AS (
  SELECT r, hn,
    sum(hn) OVER (ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS cw,
    sum(hn) OVER () AS n
  FROM hist
),
kept AS (
  SELECT n, n // 10 AS k, r,
    greatest(0, cw - greatest(cw - hn, n - n // 10)) AS kc,
    hn
  FROM cum
)
SELECT CAST(max(n) AS BIGINT) AS n_customers,
  CAST(max(k) AS BIGINT) AS top_k,
  round(CAST(sum(kc * r) AS DOUBLE) / CAST(sum(hn * r) AS DOUBLE), 6)
    AS top_decile_share
FROM kept
"""


@register("revenue_top_decile_share", _TOPSHARE_ORACLE)
def q_revenue_top_decile_share(spark, sf_dir):
    """The Lorenz point behind "the top 10% of customers drive X% of
    revenue" — the companion readout to revenue_gini, computed with the
    SAME histogram rank-overlap device as the trimmed mean: the top
    decile is the rank window (n−k, n] (k = n DIV 10), each cell
    contributes ``value · overlap`` exactly (boundary cells partially),
    and the share is one same-op-order double division at the end."""
    o = _t(spark, sf_dir, "orders")
    cr = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("r")
    )
    hist = cr.groupBy("r").agg(F.count(F.lit(1)).alias("hn"))
    wcum = Window.orderBy("r").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("cw", F.sum("hn").over(wcum)).withColumn(
        "n", F.sum("hn").over(Window.partitionBy())
    )
    kept = cum.select(
        "n",
        F.expr("n DIV 10").alias("k"),
        "r",
        F.expr(
            "greatest(0, cw - greatest(cw - hn, n - n DIV 10))"
        ).alias("kc"),
        "hn",
    )
    return kept.agg(
        F.max("n").cast("long").alias("n_customers"),
        F.max("k").cast("long").alias("top_k"),
        F.round(
            F.sum(F.col("kc") * F.col("r")).cast("double")
            / F.sum(F.col("hn") * F.col("r")).cast("double"),
            6,
        ).alias("top_decile_share"),
    )


# --------------------------------------------------------------------------
# inter-arrival burstiness per event type
# --------------------------------------------------------------------------

_BURST_ORACLE = """
WITH seq AS (
  SELECT event_type,
    epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
      PARTITION BY event_type ORDER BY ts, event_id) AS d
  FROM events
),
gaps AS (SELECT event_type, CAST(d AS BIGINT) AS d FROM seq WHERE d IS NOT NULL),
mom AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
    CAST(sum(d) AS BIGINT) AS sd,
    sum(CAST(d AS DECIMAL(38,0)) * d) AS sdd
  FROM gaps GROUP BY event_type
)
SELECT event_type, n_gaps,
  round(CAST(sd AS DOUBLE) / CAST(n_gaps AS DOUBLE), 6) AS mean_gap_ms,
  round(sqrt(CAST(n_gaps AS DOUBLE) * CAST(sdd AS DOUBLE)
             - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
        / CAST(sd AS DOUBLE), 6) AS cv,
  round((sqrt(CAST(n_gaps AS DOUBLE) * CAST(sdd AS DOUBLE)
              - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
         / CAST(sd AS DOUBLE) - 1.0)
        / (sqrt(CAST(n_gaps AS DOUBLE) * CAST(sdd AS DOUBLE)
                - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
           / CAST(sd AS DOUBLE) + 1.0), 6) AS burstiness
FROM mom
"""


@register("interarrival_burstiness", _BURST_ORACLE)
def q_interarrival_burstiness(spark, sf_dir):
    """Inter-arrival burstiness per event type — the Goh-Barabási
    ``B = (CV−1)/(CV+1)`` index (−1 = periodic, 0 = Poisson, →1 =
    bursty) that separates organic traffic from bots and batch imports.
    Gaps come from one lag window PARTITIONED BY TYPE (distributes across
    types; (ts, event_id) ordering is a deterministic total order), and
    the moments are exact: Σd in BIGINT, Σd² in DECIMAL(38,0) (a
    month-long gap squared is ~7e18 — one gap from int64 overflow).
    The only doubles are the final same-op-order CV/burstiness chains."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        (
            F.unix_millis("ts") - F.lag(F.unix_millis("ts")).over(w)
        ).alias("d"),
    ).where(F.col("d").isNotNull())
    mom = seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("d").cast("long").alias("sd"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")).alias("sdd"),
    )
    cv = F.sqrt(
        F.col("n_gaps").cast("double") * F.col("sdd").cast("double")
        - F.col("sd").cast("double") * F.col("sd").cast("double")
    ) / F.col("sd").cast("double")
    return mom.select(
        "event_type",
        "n_gaps",
        F.round(
            F.col("sd").cast("double") / F.col("n_gaps").cast("double"), 6
        ).alias("mean_gap_ms"),
        F.round(cv, 6).alias("cv"),
        F.round((cv - 1.0) / (cv + 1.0), 6).alias("burstiness"),
    )


# --------------------------------------------------------------------------
# RFM customer segmentation (histogram-CDF quintiles, no global sort)
# --------------------------------------------------------------------------

#: shared segment rule — identical CASE text in both engines; first
#: matching arm wins, so arm ORDER is part of the contract.
_RFM_SEGMENT_CASE = """
CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champions'
     WHEN f_score >= 4 AND r_score >= 3 THEN 'loyal'
     WHEN m_score >= 4 THEN 'big_spenders'
     WHEN r_score <= 2 AND (f_score >= 3 OR m_score >= 3) THEN 'at_risk'
     WHEN r_score <= 2 THEN 'hibernating'
     ELSE 'mid_market' END
"""

_RFM_ORACLE = f"""
WITH dated AS (
  -- undated orders carry no recency signal and are excluded in both arms
  -- (a NULL recency bucket sits on opposite ends of the engines' default
  -- null ordering inside the quintile windows)
  SELECT * FROM orders WHERE o_orderdate IS NOT NULL
),
ref AS (SELECT max(o_orderdate) AS refd FROM dated),
base AS (
  SELECT o_custkey,
    date_diff('day', max(o_orderdate), (SELECT refd FROM ref)) AS rec,
    CAST(count(*) AS BIGINT) AS frq,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS mon_c
  FROM dated GROUP BY o_custkey
),
b2 AS (SELECT *, mon_c // 10000 AS mon_bin FROM base),
rh AS (SELECT rec AS v, count(*) AS hn FROM b2 GROUP BY rec),
rsc AS (
  SELECT v, 1 + ((sum(hn) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
          PRECEDING AND CURRENT ROW) - hn) * 5) // (sum(hn) OVER ()) AS s
  FROM rh
),
fh AS (SELECT frq AS v, count(*) AS hn FROM b2 GROUP BY frq),
fsc AS (
  SELECT v, 1 + ((sum(hn) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
          PRECEDING AND CURRENT ROW) - hn) * 5) // (sum(hn) OVER ()) AS s
  FROM fh
),
mh AS (SELECT mon_bin AS v, count(*) AS hn FROM b2 GROUP BY mon_bin),
msc AS (
  SELECT v, 1 + ((sum(hn) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
          PRECEDING AND CURRENT ROW) - hn) * 5) // (sum(hn) OVER ()) AS s
  FROM mh
),
scored AS (
  SELECT CAST(6 - r.s AS BIGINT) AS r_score, CAST(f.s AS BIGINT) AS f_score,
         CAST(m.s AS BIGINT) AS m_score, b.mon_c
  FROM b2 b
  JOIN rsc r ON b.rec = r.v
  JOIN fsc f ON b.frq = f.v
  JOIN msc m ON b.mon_bin = m.v
)
SELECT r_score, f_score, m_score,
  {_RFM_SEGMENT_CASE} AS segment,
  CAST(count(*) AS BIGINT) AS n_customers,
  CAST(sum(mon_c) AS BIGINT) AS total_revenue_cents
FROM scored GROUP BY r_score, f_score, m_score
"""


@register("rfm_customer_segments", _RFM_ORACLE)
def q_rfm_customer_segments(spark, sf_dir):
    """RFM segmentation — the warehouse classic: score every customer 1-5
    on Recency / Frequency / Monetary quintiles and bucket the scores
    into named segments (champions, loyal, big spenders, at-risk, …).

    The usual implementation is three ``ntile(5)`` windows — three
    GLOBAL sorts of the customer table. Here each quintile comes from
    the bounded-histogram rank device instead: a value's score is
    ``1 + 5·(ranks strictly below it) DIV n``, read off the cumulative
    count over DISTINCT values — recency's domain is calendar-bounded,
    frequency's by per-customer order counts, and monetary quantizes to
    $100 bins first (the documented coarsening that keeps the domain
    bounded at any corpus size; tied values share a score by
    construction, which is also what makes the result partition- and
    tie-order-free). The three score maps are metadata-sized and join
    back broadcast; everything else is one aggregate per customer and a
    ≤125-row final rollup. All quantities are exact integers (cents,
    counts, days).

    The per-customer RFM frame is lineage-cut (eager ``localCheckpoint``):
    four branches (three score-map histograms + the scored join) reference
    it, and without the cut Catalyst re-derives the orders scan+aggregate
    per branch — 8 FileScans; with it, the orders table is read twice
    (reference date + the aggregate)."""
    # undated orders excluded in both arms (see oracle comment)
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate").isNotNull())
    ref = o.agg(F.max("o_orderdate").alias("refd"))
    base = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_d"),
        F.count(F.lit(1)).cast("long").alias("frq"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("mon_c"),
    )
    b2 = (
        base.crossJoin(F.broadcast(ref))
        .select(
            "o_custkey",
            F.datediff("refd", "last_d").cast("long").alias("rec"),
            "frq",
            "mon_c",
            F.expr("mon_c div 10000").alias("mon_bin"),
        )
        .localCheckpoint(eager=True)
    )

    def score_map(dim):
        hist = b2.groupBy(F.col(dim).alias("v")).agg(
            F.count(F.lit(1)).alias("hn")
        )
        wcum = Window.orderBy("v").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return (
            hist.withColumn("cw", F.sum("hn").over(wcum))
            .withColumn("n", F.sum("hn").over(Window.partitionBy()))
            .select(
                "v",
                F.expr("1 + (((cw - hn) * 5) div n)").alias("s"),
            )
        )

    rsc = score_map("rec").select(
        F.col("v").alias("rec"), (6 - F.col("s")).cast("long").alias("r_score")
    )
    fsc = score_map("frq").select(
        F.col("v").alias("frq"), F.col("s").cast("long").alias("f_score")
    )
    msc = score_map("mon_bin").select(
        F.col("v").alias("mon_bin"), F.col("s").cast("long").alias("m_score")
    )
    scored = (
        b2.join(F.broadcast(rsc), "rec")
        .join(F.broadcast(fsc), "frq")
        .join(F.broadcast(msc), "mon_bin")
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("mon_c").cast("long").alias("total_revenue_cents"),
        )
        .select(
            "r_score",
            "f_score",
            "m_score",
            F.expr(_RFM_SEGMENT_CASE).alias("segment"),
            "n_customers",
            "total_revenue_cents",
        )
    )


# --------------------------------------------------------------------------
# Hill tail-index estimator over order values (EVT power-tail audit)
# --------------------------------------------------------------------------

_HILL_K = 100

_HILL_ORACLE = f"""
WITH v AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
),
top AS (
  SELECT c, rn FROM (
    SELECT c, row_number() OVER (ORDER BY c DESC, o_orderkey ASC) AS rn
    FROM v
  ) WHERE rn <= {_HILL_K + 1}
),
ref AS (SELECT c AS cref FROM top WHERE rn = {_HILL_K + 1}),
terms AS (
  SELECT CAST(round(ln(CAST(t.c AS DOUBLE) / CAST(r.cref AS DOUBLE))
              * 1000000) AS BIGINT) AS lm
  FROM top t CROSS JOIN ref r WHERE t.rn <= {_HILL_K}
),
s AS (SELECT CAST(sum(lm) AS BIGINT) AS slm FROM terms)
SELECT CAST({_HILL_K} AS BIGINT) AS k,
  CAST(r.cref AS BIGINT) AS x_k1_cents,
  s.slm AS sum_log_micro,
  CAST(s.slm // {_HILL_K} AS BIGINT) AS gamma_micro,
  CAST(CASE WHEN s.slm > 0
       THEN ({_HILL_K} * 1000000000000) // s.slm
       ELSE NULL END AS BIGINT) AS alpha_micro
FROM s CROSS JOIN ref r
"""


@register("hill_tail_index", _HILL_ORACLE)
def q_hill_tail_index(spark, sf_dir):
    """Hill estimator of the order-value tail index — the EVT companion
    to ``zipf_slope``/``revenue_gini``: γ̂ = (1/k)·Σ ln(x_(i)/x_(k+1))
    over the k largest values, α̂ = 1/γ̂. A finite small α means a
    genuinely heavy (Pareto-like) revenue tail — the quantitative check
    behind capping / winsorization decisions that the trimmed-mean query
    applies downstream.

    Only the top k+1 values exist anywhere in the plan: Spark compiles
    the orderBy+limit to TakeOrderedAndProject (per-partition heaps, k+1
    rows to the driver), so there is NO global sort at any corpus size —
    the oracle's full row_number() is DuckDB-side only. The k+1-row tail
    then feeds a single-partition row_number (bounded by the LIMIT, not
    the corpus), each log-excess term is rounded to integer micro-nats
    BEFORE the order-free sum, and the final γ/α divisions are integer
    DIV on one row."""
    o = _t(spark, sf_dir, "orders")
    v = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    top = v.orderBy(F.col("c").desc(), F.col("o_orderkey").asc()).limit(
        _HILL_K + 1
    )
    w = Window.orderBy(F.col("c").desc(), F.col("o_orderkey").asc())
    t = top.withColumn("rn", F.row_number().over(w))
    ref = t.where(F.col("rn") == _HILL_K + 1).select(
        F.col("c").alias("cref")
    )
    terms = (
        t.where(F.col("rn") <= _HILL_K)
        .crossJoin(F.broadcast(ref))
        .select(
            F.round(
                F.log(F.col("c").cast("double") / F.col("cref").cast("double"))
                * 1000000
            )
            .cast("long")
            .alias("lm")
        )
    )
    s = terms.agg(F.sum("lm").cast("long").alias("slm"))
    return s.crossJoin(ref).select(
        F.lit(_HILL_K).cast("long").alias("k"),
        F.col("cref").cast("long").alias("x_k1_cents"),
        F.col("slm").alias("sum_log_micro"),
        F.expr(f"CAST(slm div {_HILL_K} AS BIGINT)").alias("gamma_micro"),
        F.expr(
            f"CAST(CASE WHEN slm > 0 THEN ({_HILL_K} * 1000000000000)"
            f" div slm ELSE NULL END AS BIGINT)"
        ).alias("alpha_micro"),
    )


# --------------------------------------------------------------------------
# A/B experiment analysis: two-proportion z-test over hash-assigned arms
# --------------------------------------------------------------------------

#: final scalar chain — identical text in both engines, computed from the
#: four exact integer sufficient statistics on ONE row.
_AB_Z_EXPR = """
CASE WHEN n_a = 0 OR n_b = 0
       OR x_a + x_b = 0 OR x_a + x_b = n_a + n_b
     THEN NULL
     ELSE
(CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
 - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
/ sqrt((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
       * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
       * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
END
"""

_AB_ORACLE = f"""
WITH u AS (
  SELECT user_id,
    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::BIGINT % 2 AS arm,
    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
s AS (
  SELECT
    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS x_a,
    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS x_b
  FROM u
)
SELECT n_a, x_a, n_b, x_b,
  CAST(CASE WHEN n_a = 0 THEN NULL
            ELSE x_a * 1000000 // n_a END AS BIGINT) AS rate_a_ppm,
  CAST(CASE WHEN n_b = 0 THEN NULL
            ELSE x_b * 1000000 // n_b END AS BIGINT) AS rate_b_ppm,
  round({_AB_Z_EXPR}, 6) AS z_score,
  abs({_AB_Z_EXPR}) > 1.959964 AS significant
FROM s
"""


@register("ab_conversion_ztest", _AB_ORACLE)
def q_ab_conversion_ztest(spark, sf_dir):
    """Two-proportion z-test over hash-assigned experiment arms — the
    experimentation primitive every product warehouse runs: users split
    A/B by a deterministic md5 parity of their id (exactly how real
    assignment services bucket stable ids), conversion = the user ever
    fired a purchase event, and the pooled two-proportion z statistic
    decides the arm difference at α = 0.05.

    Plan shape: one per-user aggregate (map-side combined), then ONE
    further aggregate folding the four sufficient statistics (n, x per
    arm) as exact integers — the corpus is touched once, nothing after
    the first aggregate exceeds one row. The z expression is a textually
    shared single-row scalar chain; arm rates are integer ppm. The md5
    parity pair (Spark conv(substring(md5..)) ≡ DuckDB '0x'||substr)
    is the repo's standard cross-engine hash device."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.expr(
            "conv(substring(md5(CAST(user_id AS STRING)), 1, 4), 16, 10)"
            " % 2"
        ).cast("long").alias("arm"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    s = u.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("x_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("x_b"),
    )
    return s.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        F.expr(
            "CAST(CASE WHEN n_a = 0 THEN NULL"
            " ELSE x_a * 1000000 div n_a END AS BIGINT)"
        ).alias("rate_a_ppm"),
        F.expr(
            "CAST(CASE WHEN n_b = 0 THEN NULL"
            " ELSE x_b * 1000000 div n_b END AS BIGINT)"
        ).alias("rate_b_ppm"),
        F.round(F.expr(_AB_Z_EXPR), 6).alias("z_score"),
        F.expr(f"abs({_AB_Z_EXPR}) > 1.959964").alias("significant"),
    )


# --------------------------------------------------------------------------
# cohort lifetime-value matrix (revenue by acquisition month x age)
# --------------------------------------------------------------------------

_LTV_ORACLE = """
WITH dated AS (
  -- undated orders can neither seed a cohort nor land in an age cell;
  -- excluded in both arms (a NULL age cell sits on opposite ends of the
  -- engines' default null ordering inside the cumulative window)
  SELECT * FROM orders WHERE o_orderdate IS NOT NULL
),
fo AS (
  SELECT o_custkey, date_trunc('month', min(o_orderdate)) AS cohort
  FROM dated GROUP BY o_custkey
),
r AS (
  SELECT f.cohort,
    CAST(date_diff('month', f.cohort, date_trunc('month', o.o_orderdate))
         AS BIGINT) AS age_months,
    o.o_custkey,
    CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM dated o JOIN fo f ON o.o_custkey = f.o_custkey
),
cell AS (
  SELECT CAST(cohort AS DATE) AS cohort_month, age_months,
    CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_active,
    CAST(sum(cents) AS BIGINT) AS revenue_cents
  FROM r GROUP BY cohort, age_months
)
SELECT cohort_month, age_months, n_active, revenue_cents,
  CAST(sum(revenue_cents) OVER (PARTITION BY cohort_month ORDER BY age_months
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS cum_revenue_cents
FROM cell
"""


@register("cohort_ltv_matrix", _LTV_ORACLE)
def q_cohort_ltv_matrix(spark, sf_dir):
    """Cohort lifetime-value matrix — the revenue companion to
    ``retention_cohorts``: customers grouped by acquisition month (first
    order), each cohort's revenue laid out by age-in-months, with the
    running cumulative that LTV curves are read off.

    One aggregate finds each customer's cohort, one join stamps it onto
    orders (both sides keyed on custkey — co-partitioned shuffle, or a
    broadcast while the customer projection fits), one aggregate builds
    the calendar-bounded cell matrix (months × months — metadata-sized
    at ANY corpus size), and the cumulative window partitions BY COHORT
    over that bounded frame. Revenue folds as exact integer cents
    end-to-end."""
    # undated orders excluded in both arms (see oracle comment)
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate").isNotNull())
    fo = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    r = o.join(fo, "o_custkey").select(
        "cohort",
        F.months_between(
            F.date_trunc("month", F.col("o_orderdate")), F.col("cohort")
        )
        .cast("long")
        .alias("age_months"),
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cell = r.groupBy(
        F.col("cohort").cast("date").alias("cohort_month"), "age_months"
    ).agg(
        F.countDistinct("o_custkey").cast("long").alias("n_active"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )
    wc = (
        Window.partitionBy("cohort_month")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cell.withColumn(
        "cum_revenue_cents", F.sum("revenue_cents").over(wc).cast("long")
    )
