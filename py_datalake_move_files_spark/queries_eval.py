"""Evaluation / measurement tier (round 9): ranking-quality metrics,
distribution tests, corpus-law fits, and recency weighting — the
measurement layer a training-data pipeline runs NEXT TO curation (is the
retriever any good? did this source's length distribution shift? does the
corpus obey Zipf? how much effective data is left after recency decay?).

New devices over the earlier tiers:

- ``ndcg_retrieval_eval`` — graded ranking metrics (DCG/NDCG@10, MRR,
  AP@10) of the engine's own BM25 runs over THREE fixed queries, with
  relevance graded by query-term coverage. All metric arithmetic is
  integer: rank discounts 1/log2(i+1) are injected as the SAME micro-unit
  literals into both engines (no engine log in the metric path — the
  ``benford_order_values`` rule) and gains are 2^rel−1 literals, so
  DCG/IDCG are exact BIGINT sums and the ratios are integer ppm division.
- ``ks_test_doc_lengths`` — exact two-sample Kolmogorov–Smirnov D between
  two languages' doc-length distributions, ALL-INTEGER: D's numerator is
  max|cumA·nB − cumB·nA| over the merged value spine, and the 95%
  rejection test compares D_num² against c(α)²·nA·nB·(nA+nB) in ppm —
  no float CDF ever exists, so the result is layout-invariant by
  construction.
- ``zipf_slope_tokens`` — OLS fit of ln(freq) on ln(rank) over the
  top-200 corpus tokens (the Zipf law audit every web-scale corpus gets).
  Per-point logs are micro-rounded BEFORE the order-free integer sums
  (the ``dim_label_mutual_info`` device); the closed-form slope /
  intercept / r² come from those exact sums only at the end.
- ``temporal_decay_weights`` — half-life recency weighting of the event
  stream (the recency-sampling prior of a continually-trained model):
  per-row weight 2^(−age/half_life) micro-rounded then integer-summed
  per event type; emits the effective-sample share per type.

Scale notes: every query is one or two map-side-combined aggregates over
a scan; the widest intermediate is the KS value spine (distinct lengths)
and the top-200 token list (TakeOrdered, never a full sort). The eval
corpus for ranking metrics is whatever ``documents`` holds — at 100 TB
you run it on the labeled eval slice, not the train corpus.
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from py_datalake_move_files_spark.functions.scaling import ensure_parallelism
from py_datalake_move_files_spark.queries import _t, register

# --------------------------------------------------------------------------
# graded ranking metrics over the BM25 runs
# --------------------------------------------------------------------------

#: three fixed queries over the harness vocabulary; query ids are stable
EVAL_QUERIES: dict[int, tuple[str, str, str]] = {
    1: ("spark", "merge", "vector"),
    2: ("join", "window", "sort"),
    3: ("stream", "filter", "hash"),
}
EVAL_K = 10
#: rank discounts 1/log2(i+1), i = 1..10, in MICRO units — computed ONCE
#: here and injected as literals into BOTH engines (no engine log in the
#: metric path)
_DISC_MICRO = [round(1_000_000 / math.log2(i + 1)) for i in range(1, EVAL_K + 1)]
#: graded gain 2^rel − 1 for rel = 0..3 (rel = # distinct query terms in doc)
_GAIN = [0, 1, 3, 7]


def _rel_sql(terms: tuple[str, ...], split_fn: str) -> str:
    """# of distinct query terms present — identical text both engines
    modulo the engine's array-contains spelling."""
    parts = [
        f"(CASE WHEN {split_fn.format(term=t)} THEN 1 ELSE 0 END)" for t in terms
    ]
    return " + ".join(parts)


def _dd_bm25_run(qid: int, terms: tuple[str, ...]) -> str:
    """DuckDB CTE body reproducing bm25_topk for one query (same shared
    score SQL, same round-before-rank, same doc_id tie-break)."""
    from py_datalake_move_files_spark.operators.retrieval import bm25_score_sql

    stats = ", ".join(
        f"CAST(sum(CASE WHEN list_contains(string_split(text, ' '), '{t}') "
        f"THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i, t in enumerate(terms)
    )
    tf = ", ".join(
        f"CAST(len(list_filter(string_split(text, ' '), x{i} -> x{i} = '{t}')) "
        f"AS BIGINT) AS tf{i}"
        for i, t in enumerate(terms)
    )
    return f"""
  SELECT {qid} AS query_id, doc_id, rn AS rnk FROM (
    SELECT d.doc_id,
           row_number() OVER (ORDER BY {bm25_score_sql(len(terms))} DESC,
                              d.doc_id ASC) AS rn
    FROM (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl, {tf}
      FROM documents
    ) d CROSS JOIN (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS avgdl,
             {stats}
      FROM documents
    ) s
  ) WHERE rn <= {EVAL_K}
"""


#: DuckDB spelling of "term present in the split text" — filled per term
#: via str.format (kept OUT of f-strings: nested-brace hazard)
_DD_HAS_TERM = "list_contains(string_split(text, ' '), '{term}')"


def _ndcg_oracle() -> str:
    runs = " UNION ALL ".join(
        _dd_bm25_run(q, ts) for q, ts in EVAL_QUERIES.items()
    )
    rel_rows = []
    for q, ts in EVAL_QUERIES.items():
        frag = _rel_sql(ts, _DD_HAS_TERM)
        rel_rows.append(
            f"  SELECT {q} AS query_id, doc_id, {frag} AS rel FROM documents"
        )
    rels = " UNION ALL ".join(rel_rows)
    disc = ", ".join(str(d) for d in _DISC_MICRO)
    gain = ", ".join(str(g) for g in _GAIN)
    return f"""
WITH runs AS ({runs}),
rels AS ({rels}),
lits AS (SELECT [{disc}] AS disc, [{gain}] AS gain),
run_g AS (
  SELECT r.query_id, r.rnk, l.gain[rel + 1] AS g, l.disc[r.rnk] AS d
  FROM runs r JOIN rels USING (query_id, doc_id) CROSS JOIN lits l
),
dcg AS (
  SELECT query_id, CAST(sum(g * d) AS BIGINT) AS dcg_micro FROM run_g GROUP BY 1
),
ideal AS (
  SELECT query_id, rel,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rel DESC, doc_id ASC) AS irn
  FROM rels
),
idcg AS (
  SELECT i.query_id,
         CAST(sum(l.gain[i.rel + 1] * l.disc[i.irn]) AS BIGINT) AS idcg_micro
  FROM ideal i CROSS JOIN lits l WHERE i.irn <= {EVAL_K} GROUP BY 1
),
hits AS (
  SELECT r.query_id, r.rnk,
         CASE WHEN rel > 0 THEN 1 ELSE 0 END AS hit
  FROM runs r JOIN rels USING (query_id, doc_id)
),
mrr AS (
  SELECT query_id,
         CAST(coalesce(1000000 // min(CASE WHEN hit = 1 THEN rnk END), 0)
              AS BIGINT) AS mrr_ppm
  FROM hits GROUP BY 1
),
prec AS (
  SELECT query_id, rnk, hit,
         sum(hit) OVER (PARTITION BY query_id ORDER BY rnk) AS h_at
  FROM hits
),
ap AS (
  SELECT p.query_id,
         CAST(sum(CASE WHEN p.hit = 1 THEN 1000000 * p.h_at // p.rnk
                       ELSE 0 END)
              // least((SELECT count(*) FROM rels x
                        WHERE x.query_id = p.query_id AND x.rel > 0),
                       {EVAL_K}) AS BIGINT) AS ap_ppm
  FROM prec p GROUP BY 1
)
SELECT CAST(d.query_id AS INT) AS query_id, d.dcg_micro, i.idcg_micro,
       CAST(CASE WHEN i.idcg_micro > 0
            THEN d.dcg_micro * 1000000 // i.idcg_micro ELSE 0 END AS BIGINT)
         AS ndcg_ppm,
       m.mrr_ppm, a.ap_ppm
FROM dcg d JOIN idcg i USING (query_id) JOIN mrr m USING (query_id)
JOIN ap a USING (query_id)
"""


@register("ndcg_retrieval_eval", _ndcg_oracle())
def q_ndcg_retrieval_eval(spark, sf_dir):
    """Ranking-quality scorecard of the engine's own BM25 retrieval
    (``bm25_doc_retrieval``'s operator) over three fixed queries:
    DCG@10 / NDCG@10 (graded, gain 2^rel−1), MRR, and AP@10, with
    relevance graded by query-term coverage (0–3 distinct terms present).

    Metric arithmetic is ALL-INTEGER: rank discounts are micro-unit
    literals shared with the oracle, gains are literals, so DCG and IDCG
    are exact BIGINT sums and every ratio is integer-ppm division — no
    engine log and no float fold order anywhere in the metric path (the
    BM25 score itself is the shared round-before-rank chain of
    ``operators/retrieval.bm25_score_sql``).

    100 TB shape — SINGLE-PASS multi-query: one wide per-doc projection
    computes every query's term frequencies and relevance grade, ONE
    corpus-stats aggregate broadcasts all dfs back, and a 3-way struct
    explode yields (query_id, score, rel) rows; ranks (by score), ideal
    ranks (by rel), and the cumulative-hit counter are three windows over
    the SAME query_id partitioning (one exchange), folded by one grouped
    aggregate. The first cut ran each query as its own bm25_topk subtree
    and Catalyst re-derived the corpus scan per branch — 33 FileScans; this
    shape plans 2 (stats + main) at any query-set size. Ranking eval runs
    on the labeled eval slice, not the train corpus — the fixed three-query
    set stands in for that slice. Per-query results are bit-identical to
    chaining ``operators/retrieval.bm25_topk`` (same score text, same
    round-before-rank, same tie-breaks — pinned by the tier test)."""
    from py_datalake_move_files_spark.operators.retrieval import bm25_score_sql

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    disc_arr = "array(" + ", ".join(str(d) for d in _DISC_MICRO) + ")"
    gain_arr = "array(" + ", ".join(str(g) for g in _GAIN) + ")"

    toks = docs.withColumn("__toks", F.split("text", " "))
    wide_cols = [
        F.col("doc_id"),
        F.size("__toks").cast("long").alias("dl"),
    ]
    stat_aggs = [
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (
            F.sum(F.size("__toks").cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    ]
    for qid, terms in EVAL_QUERIES.items():
        for i, t in enumerate(terms):
            wide_cols.append(
                F.expr(
                    f"CAST(size(filter(__toks, q{qid}t{i} -> q{qid}t{i} = '{t}'))"
                    " AS BIGINT)"
                ).alias(f"tf_q{qid}_{i}")
            )
            stat_aggs.append(
                F.sum(F.when(F.array_contains("__toks", t), 1).otherwise(0))
                .cast("long")
                .alias(f"df_q{qid}_{i}")
            )
        wide_cols.append(
            F.expr(
                _rel_sql(terms, "array_contains(__toks, '{term}')")
            ).alias(f"rel_q{qid}")
        )
    wide = toks.select(*wide_cols)
    stats = toks.agg(*stat_aggs)

    structs = []
    for qid, terms in EVAL_QUERIES.items():
        score = bm25_score_sql(len(terms))
        for i in range(len(terms)):
            score = score.replace(f"tf{i}", f"tf_q{qid}_{i}").replace(
                f"df{i}", f"df_q{qid}_{i}"
            )
        structs.append(
            f"struct({qid} AS query_id, ({score}) AS score,"
            f" rel_q{qid} AS rel)"
        )
    e = (
        wide.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.explode(F.expr("array(" + ", ".join(structs) + ")")).alias("q"),
        )
        .select("doc_id", "q.query_id", "q.score", "q.rel")
        .withColumn("hit", F.when(F.col("rel") > 0, 1).otherwise(0))
    )
    w_rnk = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    w_irn = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("doc_id").asc()
    )
    e = e.withColumn("rnk", F.row_number().over(w_rnk)).withColumn(
        "irn", F.row_number().over(w_irn)
    )
    w_hat = Window.partitionBy("query_id").orderBy("rnk")
    e = e.withColumn(
        "h_at",
        F.sum(
            F.when((F.col("hit") == 1) & (F.col("rnk") <= EVAL_K), 1).otherwise(0)
        ).over(w_hat),
    )
    in_run = F.col("rnk") <= EVAL_K
    agg = e.groupBy("query_id").agg(
        F.sum(
            F.when(
                in_run,
                F.expr(f"element_at({gain_arr}, rel + 1)")
                * F.expr(f"element_at({disc_arr}, rnk)"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("dcg_micro"),
        F.sum(
            F.when(
                F.col("irn") <= EVAL_K,
                F.expr(f"element_at({gain_arr}, rel + 1)")
                * F.expr(f"element_at({disc_arr}, irn)"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("idcg_micro"),
        F.min(F.when(in_run & (F.col("hit") == 1), F.col("rnk"))).alias("__mr"),
        F.sum(
            F.when(
                in_run,
                F.expr(
                    "CASE WHEN hit = 1 THEN (1000000 * h_at) div rnk"
                    " ELSE CAST(0 AS BIGINT) END"
                ),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("__s"),
        F.least(F.sum("hit"), F.lit(EVAL_K).cast("long")).alias("__r"),
    )
    return agg.select(
        F.col("query_id").cast("int"),
        "dcg_micro",
        "idcg_micro",
        F.expr(
            "CAST(CASE WHEN idcg_micro > 0 THEN (dcg_micro * 1000000)"
            " div idcg_micro ELSE 0 END AS BIGINT)"
        ).alias("ndcg_ppm"),
        # integer div (not double /) so the ppm mirrors DuckDB's //
        F.expr("CAST(coalesce(1000000 div __mr, 0) AS BIGINT)").alias(
            "mrr_ppm"
        ),
        F.expr("CAST(__s div __r AS BIGINT)").alias("ap_ppm"),
    )


# --------------------------------------------------------------------------
# two-sample Kolmogorov–Smirnov over doc lengths
# --------------------------------------------------------------------------

_KS_A = "en"
_KS_B = "de"
#: Kolmogorov c(0.05)² in ppm (1.358² = 1.844164): reject at 95% when
#: D_num² · 1e6 ≥ this · nA · nB · (nA + nB)
_KS_C2_PPM = 1_844_164

_KS_ORACLE = f"""
WITH a AS (SELECT n_chars AS x FROM documents WHERE lang = '{_KS_A}'),
b AS (SELECT n_chars AS x FROM documents WHERE lang = '{_KS_B}'),
n AS (SELECT (SELECT count(*) FROM a) AS na, (SELECT count(*) FROM b) AS nb),
vals AS (SELECT DISTINCT x FROM (SELECT x FROM a UNION ALL SELECT x FROM b)),
cnt AS (
  SELECT v.x,
         (SELECT count(*) FROM a WHERE a.x <= v.x) AS ca,
         (SELECT count(*) FROM b WHERE b.x <= v.x) AS cb
  FROM vals v
),
d AS (
  SELECT max(abs(ca * (SELECT nb FROM n) - cb * (SELECT na FROM n))) AS d_num
  FROM cnt
)
SELECT CAST((SELECT na FROM n) AS BIGINT) AS n_a,
       CAST((SELECT nb FROM n) AS BIGINT) AS n_b,
       CAST(d_num AS BIGINT) AS d_num,
       -- empty-group guards: a one-language corpus (or empty lake) has
       -- no defined D; NULL, never a div-0 (degenerate-lake rule)
       CASE WHEN (SELECT na FROM n) = 0 OR (SELECT nb FROM n) = 0 THEN NULL
         ELSE CAST(d_num * 1000000 // ((SELECT na FROM n) * (SELECT nb FROM n))
              AS BIGINT) END AS d_ppm,
       CASE WHEN (SELECT na FROM n) = 0 OR (SELECT nb FROM n) = 0 THEN NULL
         ELSE CAST(d_num AS DOUBLE) * CAST(d_num AS DOUBLE) >=
           {_KS_C2_PPM / 1_000_000!r} * CAST((SELECT na FROM n) AS DOUBLE)
             * CAST((SELECT nb FROM n) AS DOUBLE)
             * (CAST((SELECT na FROM n) AS DOUBLE)
                + CAST((SELECT nb FROM n) AS DOUBLE)) END AS reject_95
FROM d
"""


@register("ks_test_doc_lengths", _KS_ORACLE)
def q_ks_test_doc_lengths(spark, sf_dir):
    """Exact two-sample Kolmogorov–Smirnov test between the '{_KS_A}' and
    '{_KS_B}' doc-length distributions — the distribution-shift monitor a
    corpus pipeline runs per ingest batch (PSI's ``value_drift_psi``
    cousin, but bin-free and with an exact rejection rule).

    INTEGER STATISTIC: both empirical CDFs live on the merged value spine
    as cumulative counts; D's numerator is max|cumA·nB − cumB·nA| (the
    common denominator nA·nB never divides until the final ppm render) —
    no float CDF, so the statistic is partition-layout-invariant and
    bit-identical across engines. The 95% DECISION compares D_num²
    against c(0.05)²·nA·nB·(nA+nB) in doubles with identical op order on
    both engines (the all-BIGINT form overflows int64 at ~3k docs per
    group — an ANSI-mode query failure in Spark 4 while DuckDB promotes
    to HUGEINT; fixed r9); exact integer
    inputs < 2^53 make the comparison deterministic at any corpus size.

    100 TB shape: two filtered map-side count aggregates keyed by value
    (the spine is distinct LENGTHS, bounded by the value domain, not row
    count), one window cumsum over that spine, one max. The integer
    d_ppm render is exact while D_num·10⁶ fits int64 (≈3·10⁶ docs per
    group); beyond that render in double too."""
    docs = _t(spark, sf_dir, "documents")
    per_val = (
        docs.where(F.col("lang").isin(_KS_A, _KS_B))
        .groupBy(F.col("n_chars").alias("x"))
        .agg(
            F.sum(F.when(F.col("lang") == _KS_A, 1).otherwise(0))
            .cast("long")
            .alias("fa"),
            F.sum(F.when(F.col("lang") == _KS_B, 1).otherwise(0))
            .cast("long")
            .alias("fb"),
        )
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_val.select(
        F.sum("fa").over(w).alias("ca"), F.sum("fb").over(w).alias("cb")
    )
    # coalesce: empty groups must report 0 like the oracle's count(*)
    # (sum over an empty frame is NULL)
    totals = per_val.agg(
        F.coalesce(F.sum("fa"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.sum("fb"), F.lit(0)).cast("long").alias("n_b"),
    )
    dn = cum.crossJoin(F.broadcast(totals)).agg(
        F.max(F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")))
        .cast("long")
        .alias("d_num"),
    )
    d = totals.crossJoin(F.broadcast(dn))
    return d.select(
        "n_a",
        "n_b",
        "d_num",
        # one-language / empty guards mirror the oracle (ANSI div-0)
        F.expr(
            "CASE WHEN n_a = 0 OR n_b = 0 THEN NULL"
            " ELSE CAST((d_num * 1000000) div (n_a * n_b) AS BIGINT) END"
        ).alias("d_ppm"),
        # the decision runs in DOUBLE with identical op order on both
        # engines: the all-BIGINT form (d_num² · 1e6 ≥ c²ppm·nA·nB·(nA+nB))
        # overflows int64 at ~3k docs per group — under Spark 4's default
        # ANSI mode that THROWS at stress scale (ANSI off would wrap and
        # flip the boolean; DuckDB promotes to HUGEINT) — an
        # engine-divergence bug either way. Exact-integer inputs < 2^53
        # convert identically and the product chain rounds identically per
        # IEEE, so the boolean stays deterministic cross-engine at any
        # size.
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.col("d_num").cast("double") * F.col("d_num").cast("double")
            >= F.lit(_KS_C2_PPM / 1_000_000)
            * F.col("n_a").cast("double")
            * F.col("n_b").cast("double")
            * (F.col("n_a").cast("double") + F.col("n_b").cast("double")),
        ).alias("reject_95"),
    )


# --------------------------------------------------------------------------
# Zipf-law fit over corpus token frequencies
# --------------------------------------------------------------------------

_ZIPF_TOP = 200

_ZIPF_ORACLE = f"""
WITH tf AS (
  SELECT tok, count(*) AS f FROM (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
  ) GROUP BY tok
),
top AS (
  SELECT tok, f, row_number() OVER (ORDER BY f DESC, tok ASC) AS r
  FROM tf ORDER BY f DESC, tok ASC LIMIT {_ZIPF_TOP}
),
pts AS (
  SELECT CAST(round(ln(r) * 1000000) AS BIGINT) AS x,
         CAST(round(ln(f) * 1000000) AS BIGINT) AS y
  FROM top
),
s AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_tokens,
  round(CAST(n * sxy - sx * sy AS DOUBLE)
        / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
  round((CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE)
        / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        / CAST(n AS DOUBLE) / 1000000.0, 6) AS intercept,
  round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
        / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)),
        6) AS r2
FROM s
"""


@register("zipf_slope_tokens", _ZIPF_ORACLE)
def q_zipf_slope_tokens(spark, sf_dir):
    """Zipf-law audit: OLS fit of ln(frequency) on ln(rank) over the
    top-{_ZIPF_TOP} corpus tokens — slope ≈ −1 is the signature of natural
    text; fabricated/templated corpora flatten or kink the curve (a
    standard web-corpus health check next to ``benford_order_values``).

    Determinism: ranks tie-break on token text; per-point ln values are
    micro-rounded BEFORE the sums (order-free integer Σx, Σy, Σxy, Σx²,
    Σy² — the ``dim_label_mutual_info`` device), and slope/intercept/r²
    are computed from those exact integers only in the final projection.

    100 TB shape: token counting is one map-side-combined aggregate (the
    ``heavy_hitter_tokens`` scan); the top-{_ZIPF_TOP} is
    TakeOrderedAndProject (never a full sort); the fit is a single-row
    aggregate over 200 points."""
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    tf = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    top = tf.orderBy(F.col("f").desc(), F.col("tok").asc()).limit(_ZIPF_TOP)
    w = Window.orderBy(F.col("f").desc(), F.col("tok").asc())
    pts = top.withColumn("r", F.row_number().over(w)).select(
        F.round(F.log(F.col("r").cast("double")) * 1_000_000)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("f").cast("double")) * 1_000_000)
        .cast("long")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = num / den
    return s.select(
        F.col("n").alias("n_tokens"),
        F.round(slope, 6).alias("slope"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
            / 1_000_000.0,
            6,
        ).alias("intercept"),
        F.round(num * num / (den * deny), 6).alias("r2"),
    )


# --------------------------------------------------------------------------
# half-life recency weighting of the event stream
# --------------------------------------------------------------------------

_DECAY_REF_US = 1_706_745_600_000_000  # 2024-02-01 00:00:00 UTC in micros
_DECAY_HALF_LIFE_DAYS = 7.0

_DECAY_ORACLE = f"""
WITH w AS (
  SELECT event_type,
    CAST(round(pow(2.0,
      -((CAST({_DECAY_REF_US} AS DOUBLE) - CAST(epoch_us(ts) AS DOUBLE))
        / 86400000000.0) / {_DECAY_HALF_LIFE_DAYS}) * 1000000) AS BIGINT)
      AS w_micro,
    value
  FROM events
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(w_micro) AS BIGINT) AS w_sum_micro,
  CAST(sum(CAST(round(value * w_micro) AS BIGINT)) AS BIGINT) AS wv_sum_micro,
  CAST(sum(w_micro) // count(*) AS BIGINT) AS effective_share_ppm
FROM w GROUP BY event_type
"""


@register("temporal_decay_weights", _DECAY_ORACLE)
def q_temporal_decay_weights(spark, sf_dir):
    """Half-life recency weighting (the recency-sampling prior of a
    continually-trained model): each event gets weight 2^(−age/half_life)
    against a FIXED reference instant, aggregated per event type into the
    effective sample share (Σw/n) and the recency-weighted value mass.

    Determinism: age is exact integer MICROSECONDS (unix_micros /
    epoch_us — the nanos-gotcha-safe pair); the single pow() per row is
    mirrored op-for-op and micro-rounded BEFORE the order-free integer
    sums, so no float fold order exists. Reference instant and half-life
    are pinned literals (a production run passes the batch watermark).

    100 TB shape: pure map-side arithmetic + one combined aggregate keyed
    by event type — no joins, no window, one shuffle of |types| rows."""
    ev = _t(spark, sf_dir, "events")
    age_days = (
        F.lit(float(_DECAY_REF_US)) - F.unix_micros("ts").cast("double")
    ) / 86_400_000_000.0
    w_micro = F.round(
        F.pow(F.lit(2.0), -age_days / _DECAY_HALF_LIFE_DAYS) * 1_000_000
    ).cast("long")
    weighted = ev.select(
        "event_type",
        w_micro.alias("w_micro"),
        F.round(F.col("value") * w_micro).cast("long").alias("wv_micro"),
    )
    return (
        weighted.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("w_micro").cast("long").alias("w_sum_micro"),
            F.sum("wv_micro").cast("long").alias("wv_sum_micro"),
        )
        .select(
            "event_type",
            "n_events",
            "w_sum_micro",
            "wv_sum_micro",
            F.expr("CAST(w_sum_micro div n_events AS BIGINT)").alias(
                "effective_share_ppm"
            ),
        )
    )


# --------------------------------------------------------------------------
# profile drift between two ingest windows
# --------------------------------------------------------------------------

_DRIFT_SPLIT = "1995-06-01"
_DRIFT_COLS = ["o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice"]

_DRIFT_ORACLE = " UNION ALL ".join(
    f"""
SELECT '{c}' AS column, rows_a, rows_b, distinct_a, distinct_b,
  -- empty-window guards (ADVICE r9): an empty before/after window or a
  -- zero-distinct column must yield NULL for that ratio, not abort the
  -- whole report on ANSI div-by-zero
  CASE WHEN distinct_a = 0 THEN NULL
       ELSE CAST((distinct_b * 1000000) // distinct_a AS BIGINT)
  END AS distinct_ratio_ppm,
  CASE WHEN rows_a = 0 OR rows_b = 0 THEN NULL
       ELSE CAST((nulls_a * 1000000) // rows_a
               - (nulls_b * 1000000) // rows_b AS BIGINT)
  END AS null_drift_ppm
FROM (
  SELECT
    CAST(count(CASE WHEN o_orderdate <  DATE '{_DRIFT_SPLIT}' THEN 1 END) AS BIGINT) AS rows_a,
    CAST(count(CASE WHEN o_orderdate >= DATE '{_DRIFT_SPLIT}' THEN 1 END) AS BIGINT) AS rows_b,
    CAST(count(DISTINCT CASE WHEN o_orderdate <  DATE '{_DRIFT_SPLIT}' THEN {c} END) AS BIGINT) AS distinct_a,
    CAST(count(DISTINCT CASE WHEN o_orderdate >= DATE '{_DRIFT_SPLIT}' THEN {c} END) AS BIGINT) AS distinct_b,
    CAST(count(CASE WHEN o_orderdate <  DATE '{_DRIFT_SPLIT}' AND {c} IS NULL THEN 1 END) AS BIGINT) AS nulls_a,
    CAST(count(CASE WHEN o_orderdate >= DATE '{_DRIFT_SPLIT}' AND {c} IS NULL THEN 1 END) AS BIGINT) AS nulls_b
  FROM orders
)
"""
    for c in _DRIFT_COLS
)


@register("profile_drift_report", _DRIFT_ORACLE)
def q_profile_drift_report(spark, sf_dir):
    """Schema/profile drift between two ingest windows of ``orders``
    (before/after a pinned split date): per column, row counts, exact
    distinct cardinalities, the B/A distinct ratio, and the null-rate
    drift — the per-batch ingest gate that catches a upstream producer
    silently dropping a category or starting to emit nulls.
    ``value_drift_psi`` monitors VALUE distributions; this monitors the
    PROFILE (cardinality/null structure).

    One aggregate pass over the table: every per-window figure is a
    conditional aggregate (CASE inside count / count DISTINCT), so the
    plan is a single Expand + one shuffle — the ``table_profile_orders``
    shape, never two scans. Ratios are integer-ppm divisions. Scale
    policy mirrors ``table_profile_orders``: for a 100 TB audit swap the
    exact distincts for ``approx_count_distinct`` (the
    ``table_profile_orders_approx`` path) — drift cares about ratios, so
    5% HLL error is immaterial."""
    orders = _t(spark, sf_dir, "orders")
    in_a = F.col("o_orderdate") < F.lit(_DRIFT_SPLIT).cast("date")
    in_b = ~in_a
    out = None
    aggs = []
    for c in _DRIFT_COLS:
        aggs.extend(
            [
                F.count(F.when(in_a, 1)).cast("long").alias(f"__ra_{c}"),
                F.count(F.when(in_b, 1)).cast("long").alias(f"__rb_{c}"),
                F.countDistinct(F.when(in_a, F.col(c)))
                .cast("long")
                .alias(f"__da_{c}"),
                F.countDistinct(F.when(in_b, F.col(c)))
                .cast("long")
                .alias(f"__db_{c}"),
                F.count(F.when(in_a & F.col(c).isNull(), 1))
                .cast("long")
                .alias(f"__na_{c}"),
                F.count(F.when(in_b & F.col(c).isNull(), 1))
                .cast("long")
                .alias(f"__nb_{c}"),
            ]
        )
    row = orders.agg(*aggs)
    # empty-window guards mirrored from the oracle (ADVICE r10): under
    # ANSI mode (Spark 4 default) an unguarded `div 0` aborts the report
    # where the oracle returns NULL — an empty before/after window or a
    # zero-distinct column must NULL the ratio, not throw DIVIDE_BY_ZERO
    parts = ", ".join(
        f"'{c}', __ra_{c}, __rb_{c}, __da_{c}, __db_{c}, "
        f"CASE WHEN __da_{c} = 0 THEN NULL"
        f" ELSE CAST((__db_{c} * 1000000) div __da_{c} AS BIGINT) END, "
        f"CASE WHEN __ra_{c} = 0 OR __rb_{c} = 0 THEN NULL"
        f" ELSE CAST((__na_{c} * 1000000) div __ra_{c}"
        f" - (__nb_{c} * 1000000) div __rb_{c} AS BIGINT) END"
        for c in _DRIFT_COLS
    )
    out = row.selectExpr(
        f"stack({len(_DRIFT_COLS)}, {parts}) AS (column, rows_a, rows_b,"
        " distinct_a, distinct_b, distinct_ratio_ppm, null_drift_ppm)"
    )
    return out


# --------------------------------------------------------------------------
# l-diversity privacy audit
# --------------------------------------------------------------------------

_LDIV_BUCKET = 1000.0

_LDIV_ORACLE = f"""
WITH cls AS (
  SELECT c_nationkey, c_mktsegment,
         count(*) AS k,
         count(DISTINCT CAST(floor(c_acctbal / {_LDIV_BUCKET}) AS BIGINT)) AS l
  FROM customer GROUP BY 1, 2
)
SELECT CAST(count(*) AS BIGINT) AS n_classes,
  CAST(min(k) AS BIGINT) AS min_k,
  CAST(min(l) AS BIGINT) AS min_l,
  CAST(sum(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT) AS classes_l_lt_2,
  CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT) AS classes_l_lt_3,
  CAST(sum(CASE WHEN l < 3 THEN k ELSE 0 END) AS BIGINT) AS rows_at_risk
FROM cls
"""


@register("l_diversity_audit", _LDIV_ORACLE)
def q_l_diversity_audit(spark, sf_dir):
    """l-diversity audit (Machanavajjhala et al. 2007) — the companion of
    ``k_anonymity_audit``: k-anonymity bounds re-identification, but a
    quasi-identifier class whose SENSITIVE attribute (here the account-
    balance kilo-bucket) takes a single value still leaks it to anyone who
    places a person in the class. Reports the minimum class size k, the
    minimum diversity l, and how many classes / rows sit below l = 2 / 3.

    Shape: one grouped aggregate on the quasi-identifier pair (count +
    count DISTINCT — a single Expand pass) and a one-row roll-up; all
    integer. At 100 TB this is the same two-shuffle plan; the sensitive
    bucketing is a map-side floor()."""
    cust = _t(spark, sf_dir, "customer")
    cls = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.countDistinct(
            F.floor(F.col("c_acctbal") / _LDIV_BUCKET).cast("long")
        )
        .cast("long")
        .alias("l"),
    )
    return cls.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("k").cast("long").alias("min_k"),
        F.min("l").cast("long").alias("min_l"),
        F.sum(F.when(F.col("l") < 2, 1).otherwise(0))
        .cast("long")
        .alias("classes_l_lt_2"),
        F.sum(F.when(F.col("l") < 3, 1).otherwise(0))
        .cast("long")
        .alias("classes_l_lt_3"),
        F.sum(F.when(F.col("l") < 3, F.col("k")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
    )


# --------------------------------------------------------------------------
# stratified k-fold assignment
# --------------------------------------------------------------------------

_KFOLD_K = 5

_KFOLD_ORACLE = f"""
WITH h AS (
  SELECT lang, doc_id,
         md5(CAST(doc_id AS VARCHAR)) AS hx
  FROM documents
),
a AS (
  SELECT lang,
         (row_number() OVER (PARTITION BY lang ORDER BY hx, doc_id) - 1)
           % {_KFOLD_K} AS fold
  FROM h
),
f AS (SELECT lang, fold, count(*) AS n FROM a GROUP BY 1, 2)
SELECT lang, CAST(fold AS INT) AS fold, CAST(n AS BIGINT) AS n,
  (max(n) OVER (PARTITION BY lang) - min(n) OVER (PARTITION BY lang)) <= 1
    AS stratum_balanced
FROM f
"""


@register("stratified_kfold_assignment", _KFOLD_ORACLE)
def q_stratified_kfold_assignment(spark, sf_dir):
    """Deterministic stratified k-fold split (k = {_KFOLD_K}) for
    cross-validation over ``documents``: within each language stratum,
    docs are ordered by an md5 hash of their id (a seedless deterministic
    shuffle both engines spell identically) and dealt round-robin, so
    every stratum's folds differ in size by at most one — asserted by the
    emitted ``stratum_balanced`` flag.

    100 TB note: the per-stratum ``row_number`` is one ordered window per
    stratum — fine while strata are few and large (languages); for
    millions of tiny strata use plain ``hash(id) % k`` (approximately
    balanced, zero windows) or the per-stratum histogram decomposition
    used by ``quantile_normalize_lengths``. Exact balance is a FOLD
    property, so the audit flag is the contract either way."""
    docs = _t(spark, sf_dir, "documents")
    h = docs.select(
        "lang", "doc_id", F.md5(F.col("doc_id").cast("string")).alias("hx")
    )
    w = Window.partitionBy("lang").orderBy("hx", "doc_id")
    a = h.select(
        "lang",
        ((F.row_number().over(w) - 1) % _KFOLD_K).alias("fold"),
    )
    f = a.groupBy("lang", "fold").agg(F.count(F.lit(1)).cast("long").alias("n"))
    sw = Window.partitionBy("lang")
    return f.select(
        "lang",
        F.col("fold").cast("int"),
        "n",
        ((F.max("n").over(sw) - F.min("n").over(sw)) <= 1).alias(
            "stratum_balanced"
        ),
    )


# --------------------------------------------------------------------------
# token burstiness (variance-to-mean of per-doc counts)
# --------------------------------------------------------------------------

_BURST_TOP = 50

_BURST_ORACLE = f"""
WITH n AS (SELECT count(*) AS nd FROM documents),
c AS (
  SELECT doc_id, tok, count(*) AS c FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
  ) GROUP BY 1, 2
),
t AS (
  SELECT tok, count(*) AS df, sum(c) AS tf,
    sum(CAST(c AS DECIMAL(19,0)) * c) AS tf2
  FROM c GROUP BY tok
)
SELECT tok, CAST(df AS BIGINT) AS df, CAST(tf AS BIGINT) AS tf,
  CAST(floor((CAST((SELECT nd FROM n) AS DOUBLE) * CAST(tf2 AS DOUBLE)
              - CAST(tf AS DOUBLE) * CAST(tf AS DOUBLE)) * 1000000.0
             / (CAST((SELECT nd FROM n) AS DOUBLE) * CAST(tf AS DOUBLE)))
       AS BIGINT) AS vmr_ppm
FROM t ORDER BY tf DESC, tok ASC LIMIT {_BURST_TOP}
"""


@register("token_burstiness", _BURST_ORACLE)
def q_token_burstiness(spark, sf_dir):
    """Token burstiness: variance-to-mean ratio (Fano factor) of per-doc
    counts for the top-{_BURST_TOP} tokens. VMR ≈ 1 is Poisson scatter
    (function words); VMR ≫ 1 marks bursty content/boilerplate tokens
    that concentrate in few documents — a standard corpus-linguistics
    screen for template contamination that frequency alone
    (``heavy_hitter_tokens``) can't see.

    Exactness: with N docs and integer Σc over the token's doc counts
    (absent docs contribute zero), VMR = var/mean = (N·Σc² − (Σc)²)/
    (N·Σc). Σc² runs in DECIMAL(38,0) (per-doc counts of a web-scale
    corpus square past int64) and the final ratio is the identical-text
    DOUBLES device (r10 overflow audit, replacing the r9 BIGINT ppm
    whose N·Σc²·10⁶ < 2⁶³ bound died at ~10⁸ docs): both engines cast
    the exact aggregates to DOUBLE and evaluate the same expression
    text, so the floor()ed ppm is bit-identical. The BIGINT render is
    total for feasible corpora: VMR ≤ max per-doc count (Σc² ≤ C·Σc), so
    vmr_ppm ≤ ~10¹² — the r10 hypothesis suite pins this by generating
    only Cauchy–Schwarz-consistent aggregates. Shape: two map-side-
    combined aggregates ((doc, tok) then tok) and a TakeOrdered
    top-{_BURST_TOP}."""
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    c = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    t = c.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("c").cast("long").alias("tf"),
        F.expr("sum(CAST(c AS DECIMAL(19,0)) * c)").alias("tf2"),
    )
    return (
        t.crossJoin(F.broadcast(nd))
        .select(
            "tok",
            "df",
            "tf",
            F.expr(
                "CAST(floor((CAST(nd AS DOUBLE) * CAST(tf2 AS DOUBLE)"
                " - CAST(tf AS DOUBLE) * CAST(tf AS DOUBLE)) * 1000000.0"
                " / (CAST(nd AS DOUBLE) * CAST(tf AS DOUBLE)))"
                " AS BIGINT)"
            ).alias("vmr_ppm"),
        )
        .orderBy(F.col("tf").desc(), F.col("tok").asc())
        .limit(_BURST_TOP)
    )


# --------------------------------------------------------------------------
# Poisson-bootstrap confidence interval for the mean
# --------------------------------------------------------------------------

_BOOT_B = 200
#: Poisson(1) CDF in ppm for k = 0..8 (P(X <= k) rounded) — the weight for
#: a replicate draw is the count of thresholds <= u, u uniform on [0, 1e6)
_POIS_CDF_PPM = [
    367_879,
    735_759,
    919_699,
    981_012,
    996_340,
    999_406,
    999_917,
    999_990,
    999_999,
]
#: order statistics for the 2.5% / 97.5% bounds over B = 200 replicate means
_BOOT_LO_RN = 5
_BOOT_HI_RN = 196

_POIS_DD = "[" + ", ".join(str(t) for t in _POIS_CDF_PPM) + "]"

_BOOT_ORACLE = f"""
WITH reps AS (SELECT unnest(generate_series(1, {_BOOT_B})) AS b),
w AS (
  SELECT r.b, d.n_chars,
    len(list_filter({_POIS_DD}, t ->
      ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':' ||
                          CAST(r.b AS VARCHAR)), 1, 12))::BIGINT % 1000000
      >= t)) AS wgt
  FROM documents d CROSS JOIN reps r
),
m AS (
  SELECT b, CAST(sum(wgt * n_chars) * 1000000 // sum(wgt) AS BIGINT)
           AS mean_micro
  FROM w GROUP BY b HAVING sum(wgt) > 0
),
o AS (
  SELECT mean_micro, row_number() OVER (ORDER BY mean_micro, b) AS rn FROM m
)
SELECT CAST({_BOOT_B} AS BIGINT) AS n_replicates,
  (SELECT CAST(sum(n_chars) * 1000000 // count(*) AS BIGINT) FROM documents)
    AS mean_micro,
  (SELECT mean_micro FROM o WHERE rn = {_BOOT_LO_RN}) AS ci_lo_micro,
  (SELECT mean_micro FROM o WHERE rn = {_BOOT_HI_RN}) AS ci_hi_micro
"""


@register("bootstrap_ci_mean", _BOOT_ORACLE)
def q_bootstrap_ci_mean(spark, sf_dir):
    """Poisson-bootstrap 95% CI for the mean document length — THE
    distributed bootstrap (Chamandy et al., Google 2012): instead of
    resampling n rows with replacement (which needs global coordination),
    every row draws an independent Poisson(1) weight per replicate, which
    converges to multinomial resampling and keeps the whole procedure one
    map-side pass. ``jackknife_mean_quality`` gives the delete-one
    variance; the bootstrap gives the full percentile interval.

    Determinism: the per-(row, replicate) weight inverts the Poisson CDF
    at a 48-bit md5 uniform (the cross-engine hash idiom), so both
    engines draw the SAME resamples; replicate means are exact integer
    ppm divisions; the CI bounds are exact order statistics (ranks
    {_BOOT_LO_RN}/{_BOOT_HI_RN} of {_BOOT_B}) with replicate-id
    tie-breaks.

    100 TB shape: the replicate fan-out is a map-side explode (B rows per
    input row, no shuffle until the aggregate), and the aggregate is
    map-side-combined to B partials per partition — the shuffle carries
    B × partitions tiny rows regardless of data size."""
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    pois = "array(" + ", ".join(str(t) for t in _POIS_CDF_PPM) + ")"
    w = docs.select(
        "doc_id",
        "n_chars",
        F.explode(F.expr(f"sequence(1, {_BOOT_B})")).alias("b"),
    ).select(
        "b",
        "n_chars",
        F.expr(
            f"size(filter({pois}, t -> "
            "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', "
            "CAST(b AS STRING))), 1, 12), 16, 10) AS BIGINT) % 1000000 >= t))"
        ).alias("wgt"),
    )
    m = (
        w.groupBy("b")
        .agg(
            F.sum(F.col("wgt") * F.col("n_chars")).alias("__swx"),
            F.sum("wgt").alias("__sw"),
        )
        .where(F.col("__sw") > 0)
        .select(
            "b",
            F.expr("CAST((__swx * 1000000) div __sw AS BIGINT)").alias(
                "mean_micro"
            ),
        )
    )
    o = m.withColumn(
        "rn", F.row_number().over(Window.orderBy("mean_micro", "b"))
    )
    bounds = o.agg(
        F.max(F.when(F.col("rn") == _BOOT_LO_RN, F.col("mean_micro"))).alias(
            "ci_lo_micro"
        ),
        F.max(F.when(F.col("rn") == _BOOT_HI_RN, F.col("mean_micro"))).alias(
            "ci_hi_micro"
        ),
    )
    point = docs.agg(
        F.sum("n_chars").alias("__sx"), F.count(F.lit(1)).alias("__n")
    ).select(
        F.lit(_BOOT_B).cast("long").alias("n_replicates"),
        F.expr("CAST((__sx * 1000000) div __n AS BIGINT)").alias("mean_micro"),
    )
    return point.crossJoin(F.broadcast(bounds))


# --------------------------------------------------------------------------
# randomization test for a two-group mean difference
# --------------------------------------------------------------------------

_PERM_P = 199
_PERM_A = "purchase"
_PERM_B = "click"

_PERM_ORACLE = f"""
WITH ev AS (
  SELECT event_id, event_type,
         CAST(round(value * 1000000) AS BIGINT) AS v_micro
  FROM events WHERE event_type IN ('{_PERM_A}', '{_PERM_B}')
),
obs_s AS (
  SELECT
    sum(CASE WHEN event_type = '{_PERM_A}' THEN v_micro ELSE 0 END) AS sa,
    sum(CASE WHEN event_type = '{_PERM_A}' THEN 1 ELSE 0 END) AS na,
    sum(CASE WHEN event_type = '{_PERM_B}' THEN v_micro ELSE 0 END) AS sb,
    sum(CASE WHEN event_type = '{_PERM_B}' THEN 1 ELSE 0 END) AS nb
  FROM ev
),
-- DuckDB // on BIGINT truncates toward zero exactly like Spark div
-- (-9//5 = -1, not a floor), so plain // is already the mirror even on
-- negative sums (ADVICE r11: the earlier sign-split device was a no-op
-- built on a floor-semantics misreading)
obs AS (
  SELECT abs((sa // na) - (sb // nb)) AS d FROM obs_s
),
perms AS (SELECT unnest(generate_series(1, {_PERM_P})) AS p),
lab AS (
  SELECT p.p, e.v_micro,
    ('0x' || substr(md5(CAST(e.event_id AS VARCHAR) || ':' ||
                        CAST(p.p AS VARCHAR)), 1, 12))::BIGINT % 2 AS g
  FROM ev e CROSS JOIN perms p
),
pd_s AS (
  SELECT p,
    sum(CASE WHEN g = 0 THEN v_micro ELSE 0 END) AS sa,
    sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS na,
    sum(CASE WHEN g = 1 THEN v_micro ELSE 0 END) AS sb,
    sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS nb
  FROM lab GROUP BY p
),
pd AS (
  SELECT p, abs((sa // na) - (sb // nb)) AS d FROM pd_s
)
SELECT CAST((SELECT d FROM obs) AS BIGINT) AS observed_diff_micro,
  CAST({_PERM_P} AS BIGINT) AS n_permutations,
  CAST(sum(CASE WHEN pd.d >= (SELECT d FROM obs) THEN 1 ELSE 0 END) AS BIGINT)
    AS n_ge_observed,
  CAST((1 + sum(CASE WHEN pd.d >= (SELECT d FROM obs) THEN 1 ELSE 0 END))
       * 1000000 // (1 + {_PERM_P}) AS BIGINT) AS p_value_ppm
FROM pd
"""


@register("permutation_test_events", _PERM_ORACLE)
def q_permutation_test_events(spark, sf_dir):
    """Randomization test for the '{_PERM_A}' vs '{_PERM_B}' mean-value
    difference: {_PERM_P} deterministic Bernoulli(½) relabelings of the
    pooled events (hash-seeded, so both engines draw identical
    pseudo-permutations), p = (1 + #{{|diff| ≥ observed}}) / (1 + P) —
    the standard add-one randomization p-value. Bernoulli relabeling
    (rather than size-preserving permutation) is the distributed-friendly
    variant: valid under the same exchangeability null, and each relabel
    is a pure map-side hash — no global shuffle of labels exists.

    Determinism: values go to integer micros BEFORE any sum; group means
    are integer divisions, SIGN-SPLIT in the oracle (Spark ``div``
    truncates toward zero, DuckDB ``//`` floors — refund-valued negative
    sums would diverge by 1 micro otherwise; ADVICE r9); the relabel bit
    is the 48-bit md5 idiom.
    100 TB shape: one P-way map-side explode + one combined aggregate to
    P partials per partition (the ``bootstrap_ci_mean`` shape); the
    observed arm is a second tiny aggregate broadcast into the final
    one-row comparison. int64 headroom: group sums need Σ|v_micro| < 2⁶³
    (≈9·10¹² rows at typical per-event values); ANSI fails loud beyond —
    drop the micro scale a decade per 10× rows past that."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type").isin(_PERM_A, _PERM_B))
        .select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 1_000_000).cast("long").alias("v_micro"),
        )
    )
    ev = ensure_parallelism(ev)

    def _diff(df, flag):
        return df.agg(
            F.sum(F.when(flag, F.col("v_micro")).otherwise(0)).alias("__sa"),
            F.sum(F.when(flag, 1).otherwise(0)).alias("__na"),
            F.sum(F.when(~flag, F.col("v_micro")).otherwise(0)).alias("__sb"),
            F.sum(F.when(~flag, 1).otherwise(0)).alias("__nb"),
        )

    obs = _diff(ev, F.col("event_type") == _PERM_A).select(
        F.expr("abs(__sa div __na - __sb div __nb)").alias("obs_d")
    )
    lab = ev.select(
        "event_id",
        "v_micro",
        F.explode(F.expr(f"sequence(1, {_PERM_P})")).alias("p"),
    ).select(
        "p",
        "v_micro",
        F.expr(
            "CAST(conv(substring(md5(concat(CAST(event_id AS STRING), ':', "
            "CAST(p AS STRING))), 1, 12), 16, 10) AS BIGINT) % 2"
        ).alias("g"),
    )
    pd = (
        lab.groupBy("p")
        .agg(
            F.sum(F.when(F.col("g") == 0, F.col("v_micro")).otherwise(0)).alias(
                "__sa"
            ),
            F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).alias("__na"),
            F.sum(F.when(F.col("g") == 1, F.col("v_micro")).otherwise(0)).alias(
                "__sb"
            ),
            F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("__nb"),
        )
        .select(F.expr("abs(__sa div __na - __sb div __nb)").alias("d"))
    )
    cmp = pd.crossJoin(F.broadcast(obs)).agg(
        F.max("obs_d").alias("observed_diff_micro"),
        F.sum(F.when(F.col("d") >= F.col("obs_d"), 1).otherwise(0))
        .cast("long")
        .alias("n_ge_observed"),
    )
    return cmp.select(
        F.col("observed_diff_micro").cast("long"),
        F.lit(_PERM_P).cast("long").alias("n_permutations"),
        "n_ge_observed",
        F.expr(
            f"CAST(((1 + n_ge_observed) * 1000000) div (1 + {_PERM_P})"
            " AS BIGINT)"
        ).alias("p_value_ppm"),
    )


# --------------------------------------------------------------------------
# corpus bigram conditional entropy (entropy rate)
# --------------------------------------------------------------------------

_BCE_ORACLE = """
WITH n AS (
  SELECT CAST(sum(CASE WHEN len(string_split(text, ' ')) >= 2
                  THEN len(string_split(text, ' ')) - 1 ELSE 0 END)
              AS BIGINT) AS n
  FROM documents
),
t AS (SELECT string_split(text, ' ') AS toks FROM documents),
idx AS (
  SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM t
),
bg AS (SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM idx),
c12 AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
wc AS (
  SELECT w1, c, sum(c) OVER (PARTITION BY w1) AS c1 FROM c12
),
agg AS (
  SELECT
    CAST(sum(CAST(round(c * ln(CAST(c1 AS DOUBLE) / c) * 1000000)
                  AS BIGINT)) AS BIGINT) AS s_cond,
    CAST(sum(CAST(round(c * ln(CAST((SELECT n FROM n) AS DOUBLE) / c1)
                        * 1000000) AS BIGINT)) AS BIGINT) AS s_uni,
    CAST(count(*) AS BIGINT) AS n_bigram_types,
    CAST(count(DISTINCT w1) AS BIGINT) AS vocab
  FROM wc
)
SELECT (SELECT n FROM n) AS n_bigrams,
  vocab, n_bigram_types,
  CAST(s_uni // (SELECT n FROM n) AS BIGINT) AS h_unigram_micro_nats,
  CAST(s_cond // (SELECT n FROM n) AS BIGINT) AS h_cond_micro_nats,
  CAST(floor(CAST(s_cond AS DOUBLE) * 1000000.0
             / CAST(s_uni AS DOUBLE)) AS BIGINT) AS entropy_ratio_ppm
FROM agg
"""


@register("bigram_conditional_entropy", _BCE_ORACLE)
def q_bigram_conditional_entropy(spark, sf_dir):
    """Corpus entropy rate: conditional entropy H(W₂|W₁) of the bigram
    model next to the unigram entropy H(W) over the SAME bigram-position
    marginals — the information-theoretic redundancy audit (Shannon 1951):
    natural text shows H(W₂|W₁) well below H(W); a ratio near 1 means the
    corpus has no sequential structure (shuffled/templated tokens), near 0
    means heavy boilerplate. Complements per-doc ``bigram_lm_scores``
    (this is the corpus-level constant) and ``char_entropy_stats``
    (character- vs word-level).

    Determinism (the ``dim_label_mutual_info`` device): every per-type
    term c·ln(·) is micro-rounded BEFORE the order-free integer sum;
    entropies are integer micro-nats via one final div. Marginals come
    from the bigram table itself (Σ_w₂ c(w₁,w₂) via a window over the
    type counts), so H(W) and H(W₂|W₁) are measured on the identical
    sample space, and the unigram sum is carried row-level
    (Σ_rows c·ln(N/c1) ≡ Σ_w1 c1·ln(N/c1) since Σ_w₂ c = c1).

    100 TB shape — two corpus scans, no type-table re-derivation: N is a
    plain no-explode scan aggregate (Σ max(len−1, 0)); the main tree is
    explode (per-row HOF, small-doc CASE-guarded — the
    descending-``sequence`` gotcha) → ONE (w1,w2) map-side-combined
    aggregate → marginals as a window co-partitioned on w1 → a one-row
    reduce. The first cut hung c1/N/uni/cond off the c12 subtree and
    Catalyst re-derived the explode per branch (5 scans, 7 exchanges);
    this shape is 2 scans, 3 exchanges at any corpus size. int64
    headroom: the micro-nat sums need N·H·10⁶ < 2⁶³ (≈2.8·10¹²
    bigrams); past that drop the micro scale a decade per decade of
    corpus (H is a ratio of the two sums, so the scale cancels)."""
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    t = docs.select(F.split("text", " ").alias("__toks"))
    n = t.agg(
        F.sum(
            F.when(F.size("__toks") >= 2, F.size("__toks") - 1).otherwise(0)
        )
        .cast("long")
        .alias("n")
    )
    bg = t.select(
        F.explode(
            F.expr(
                "CASE WHEN size(__toks) < 2 THEN"
                " array() ELSE transform(sequence(0, size(__toks) - 2),"
                " i -> struct(__toks[i] AS w1, __toks[i + 1] AS w2)) END"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wc = c12.withColumn(
        "c1", F.sum("c").over(Window.partitionBy("w1")).cast("long")
    )
    agg = wc.crossJoin(F.broadcast(n)).agg(
        F.sum(
            F.round(
                F.col("c")
                * F.log(F.col("c1").cast("double") / F.col("c"))
                * 1_000_000
            ).cast("long")
        )
        .cast("long")
        .alias("s_cond"),
        F.sum(
            F.round(
                F.col("c")
                * F.log(F.col("n").cast("double") / F.col("c1"))
                * 1_000_000
            ).cast("long")
        )
        .cast("long")
        .alias("s_uni"),
        F.count(F.lit(1)).cast("long").alias("n_bigram_types"),
        F.countDistinct("w1").cast("long").alias("vocab"),
        F.max("n").cast("long").alias("n_bigrams"),
    )
    return agg.select(
        "n_bigrams",
        "vocab",
        "n_bigram_types",
        F.expr("CAST(s_uni div n_bigrams AS BIGINT)").alias(
            "h_unigram_micro_nats"
        ),
        F.expr("CAST(s_cond div n_bigrams AS BIGINT)").alias(
            "h_cond_micro_nats"
        ),
        # ratio in DOUBLE (identical text both engines): s_cond·1e6
        # overflows int64 past ~9·10¹² micro-nat-bigrams — caught LIVE by
        # the sf1 stress run as an ANSI ARITHMETIC_OVERFLOW (the KS device)
        F.expr(
            "CAST(floor(CAST(s_cond AS DOUBLE) * 1000000.0"
            " / CAST(s_uni AS DOUBLE)) AS BIGINT)"
        ).alias("entropy_ratio_ppm"),
    )


# --------------------------------------------------------------------------
# linear-kernel MMD between two label groups' embedding distributions
# --------------------------------------------------------------------------

_MMD_A = 0
_MMD_B = 1

_MMD_ORACLE = f"""
WITH e AS (
  SELECT label, i AS dim,
         -- CAST to DOUBLE before the micro-encode: unnest(list<float>)
         -- yields FLOAT, and floor(x*1000000+0.5) in 32-bit diverges from
         -- Spark's DOUBLE path on ~0.3% of elements (ADVICE r9, verified
         -- on sf0.01) — same convention as oracle_ivf/oracle_knn encodes
         CAST(CASE WHEN x >= 0
              THEN floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
              ELSE -floor(-CAST(x AS DOUBLE) * 1000000 + 0.5)
              END AS BIGINT) AS v
  FROM (
    SELECT label, unnest(embedding) AS x,
           unnest(generate_series(1, len(embedding))) AS i
    FROM embeddings WHERE label IN ({_MMD_A}, {_MMD_B})
  )
),
s AS (
  SELECT dim,
    sum(CASE WHEN label = {_MMD_A} THEN v ELSE 0 END) AS sa,
    sum(CASE WHEN label = {_MMD_A} THEN 1 ELSE 0 END) AS na,
    sum(CASE WHEN label = {_MMD_B} THEN v ELSE 0 END) AS sb,
    sum(CASE WHEN label = {_MMD_B} THEN 1 ELSE 0 END) AS nb
  FROM e GROUP BY dim
),
d AS (
  -- absent-group guard: a lake missing one label makes na/nb = 0; the
  -- per-dim mean difference is undefined (NULL), never a div-0 split
  SELECT dim,
    -- BIGINT // truncates toward zero like Spark div (ADVICE r11), so
    -- plain division mirrors even when a sum is negative
    CASE WHEN na = 0 OR nb = 0 THEN NULL
      ELSE CAST((sa // na) - (sb // nb) AS BIGINT)
    END AS diff
  FROM s
)
SELECT CAST((SELECT max(na) FROM s) AS BIGINT) AS n_a,
  CAST((SELECT max(nb) FROM s) AS BIGINT) AS n_b,
  CAST(sum(diff * diff) AS BIGINT) AS mmd2_micro2,
  CAST((SELECT dim FROM d WHERE diff IS NOT NULL
        ORDER BY abs(diff) DESC, dim ASC LIMIT 1) AS INT)
    AS top_dim,
  CAST((SELECT diff FROM d WHERE diff IS NOT NULL
        ORDER BY abs(diff) DESC, dim ASC LIMIT 1)
       AS BIGINT) AS top_dim_diff_micro
FROM d
"""


@register("embedding_mean_shift_mmd", _MMD_ORACLE)
def q_embedding_mean_shift_mmd(spark, sf_dir):
    """Linear-kernel MMD² between two label groups' embedding
    distributions: ‖μ_A − μ_B‖² over the per-dimension means — the
    cheapest member of the kernel two-sample family (Gretton et al. 2012)
    and the standard embedding-space drift monitor between corpus slices
    (``ks_test_doc_lengths`` watches a scalar; this watches the vector
    space). Also names the most-shifted dimension.

    Determinism: coordinates go to fixed-point micros HALF-AWAY-FROM-ZERO
    (the ``gram_moments`` encoding) so per-dim sums are exact BIGINTs;
    per-dim means use truncating integer division (Spark ``div`` and
    DuckDB BIGINT ``//`` both truncate toward zero — no sign handling
    needed); MMD² is an exact integer Σdiff².

    100 TB shape: one posexplode (×dim, map-side) + one combined
    aggregate to |dims| rows + a |dims|-row reduce. No join touches row
    count; the shuffle carries dims × partials regardless of corpus
    size."""
    emb = _t(spark, sf_dir, "embeddings").where(
        F.col("label").isin(_MMD_A, _MMD_B)
    )
    e = emb.select(
        "label", F.posexplode("embedding").alias("dim0", "x")
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.expr(
            "CAST(CASE WHEN x >= 0 THEN floor(CAST(x AS DOUBLE) * 1000000 + 0.5)"
            " ELSE -floor(-CAST(x AS DOUBLE) * 1000000 + 0.5) END AS BIGINT)"
        ).alias("v"),
    )
    s = e.groupBy("dim").agg(
        F.sum(F.when(F.col("label") == _MMD_A, F.col("v")).otherwise(0)).alias(
            "sa"
        ),
        F.sum(F.when(F.col("label") == _MMD_A, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("label") == _MMD_B, F.col("v")).otherwise(0)).alias(
            "sb"
        ),
        F.sum(F.when(F.col("label") == _MMD_B, 1).otherwise(0)).alias("nb"),
    )
    d = s.select(
        "dim",
        "na",
        "nb",
        # Spark div truncates toward zero — as does the oracle's BIGINT
        # //; absent-group guard mirrors the oracle (ANSI div-0)
        F.expr(
            "CASE WHEN na = 0 OR nb = 0 THEN NULL"
            " ELSE CAST(sa div na - sb div nb AS BIGINT) END"
        ).alias("diff"),
    )
    # arg-max via struct-min INSIDE the aggregate (not orderBy+limit+cross
    # join): always ONE row — an empty/labelless lake yields NULLs like
    # the oracle's scalar subqueries instead of zero rows (degenerate rule)
    best = F.min(
        F.when(
            F.col("diff").isNotNull(),
            F.struct(
                (-F.abs(F.col("diff"))).alias("nd"),
                F.col("dim").alias("dim"),
                F.col("diff").alias("diff"),
            ),
        )
    )
    return d.agg(
        F.max("na").cast("long").alias("n_a"),
        F.max("nb").cast("long").alias("n_b"),
        F.sum(F.col("diff") * F.col("diff")).cast("long").alias("mmd2_micro2"),
        best.getField("dim").cast("int").alias("top_dim"),
        best.getField("diff").cast("long").alias("top_dim_diff_micro"),
    )


# --------------------------------------------------------------------------
# grouped higher-moment profile (skewness / excess kurtosis)
# --------------------------------------------------------------------------

#: shared double chain from the exact power sums — identical TEXT on both
#: engines, so the float ops replay bit-for-bit (the q1 money rule, one
#: level up): mean = s1/n, central moments by binomial expansion.
_MOM_EXPR = {
    "mean": "(s1 / n)",
    "m2": "(s2 / n - (s1 / n) * (s1 / n))",
    "m3": (
        "(s3 / n - 3.0 * (s1 / n) * (s2 / n)"
        " + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))"
    ),
    "m4": (
        "(s4 / n - 4.0 * (s1 / n) * (s3 / n)"
        " + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)"
        " - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))"
    ),
}

_MOMENTS_ORACLE = f"""
WITH s AS (
  SELECT lang,
    CAST(count(*) AS DOUBLE) AS n,
    CAST(sum(CAST(n_chars AS DECIMAL(38,0))) AS DOUBLE) AS s1,
    CAST(sum(CAST(n_chars * n_chars AS DECIMAL(38,0))) AS DOUBLE) AS s2,
    CAST(sum(CAST(n_chars * n_chars * n_chars AS DECIMAL(38,0))) AS DOUBLE)
      AS s3,
    CAST(sum(CAST(n_chars * n_chars * n_chars * n_chars AS DECIMAL(38,0)))
         AS DOUBLE) AS s4
  FROM documents GROUP BY lang
)
SELECT lang, CAST(n AS BIGINT) AS n_docs,
  round({_MOM_EXPR['mean']}, 6) AS mean_chars,
  round(sqrt({_MOM_EXPR['m2']}), 6) AS stddev_pop,
  -- zero-variance guard: Spark ANSI aborts even DOUBLE x/0 where DuckDB
  -- yields NULL (degenerate-lake rule) — shape moments are undefined at
  -- zero variance in both engines
  CASE WHEN {_MOM_EXPR['m2']} <= 0.0 THEN NULL
    ELSE round({_MOM_EXPR['m3']} / pow({_MOM_EXPR['m2']}, 1.5), 6)
  END AS skewness,
  CASE WHEN {_MOM_EXPR['m2']} <= 0.0 THEN NULL
    ELSE round({_MOM_EXPR['m4']} / ({_MOM_EXPR['m2']} * {_MOM_EXPR['m2']})
               - 3.0, 6)
  END AS excess_kurtosis
FROM s
"""


@register("doc_length_moments", _MOMENTS_ORACLE)
def q_doc_length_moments(spark, sf_dir):
    """Per-language higher-moment profile of document lengths: population
    mean, stddev, skewness, and excess kurtosis — the distribution-shape
    screen behind length-based quality gates (heavy right skew = a
    boilerplate/concatenation tail; negative kurtosis = truncation).

    Determinism: the four power sums Σy..Σy⁴ accumulate EXACTLY in
    DECIMAL(38,0) (y ≤ 10⁴ keeps even y⁴ terms well inside int64 and the
    sums inside 38 digits through ~10¹² rows); the central-moment algebra
    then runs in doubles from those exact sums through the SAME expression
    text on both engines, so no partition order or fold order exists
    anywhere. One map-side-combined aggregate, |langs| output rows."""
    docs = _t(spark, sf_dir, "documents")
    y = F.col("n_chars")
    s = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(y.cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum((y * y).cast("decimal(38,0)")).cast("double").alias("s2"),
        F.sum((y * y * y).cast("decimal(38,0)")).cast("double").alias("s3"),
        F.sum((y * y * y * y).cast("decimal(38,0)")).cast("double").alias("s4"),
    )
    return s.select(
        "lang",
        F.col("n").cast("long").alias("n_docs"),
        F.expr(f"round({_MOM_EXPR['mean']}, 6)").alias("mean_chars"),
        F.expr(f"round(sqrt({_MOM_EXPR['m2']}), 6)").alias("stddev_pop"),
        # zero-variance guard mirrors the oracle (ANSI aborts double x/0)
        F.expr(
            f"CASE WHEN {_MOM_EXPR['m2']} <= 0.0 THEN NULL"
            f" ELSE round({_MOM_EXPR['m3']} / pow({_MOM_EXPR['m2']}, 1.5), 6)"
            " END"
        ).alias("skewness"),
        F.expr(
            f"CASE WHEN {_MOM_EXPR['m2']} <= 0.0 THEN NULL"
            f" ELSE round({_MOM_EXPR['m4']}"
            f" / ({_MOM_EXPR['m2']} * {_MOM_EXPR['m2']}) - 3.0, 6) END"
        ).alias("excess_kurtosis"),
    )


# --------------------------------------------------------------------------
# Neyman optimal sample allocation across strata
# --------------------------------------------------------------------------

_NEYMAN_BUDGET = 100

_NEYMAN_ORACLE = f"""
WITH s AS (
  SELECT lang, count(*) AS nh,
    CAST(sum(CAST(n_chars AS DECIMAL(38,0))) AS DOUBLE) AS s1,
    CAST(sum(CAST(n_chars * n_chars AS DECIMAL(38,0))) AS DOUBLE) AS s2
  FROM documents GROUP BY lang
),
w AS (
  SELECT lang, nh,
    nh * CAST(round(sqrt(s2 / nh - (s1 / nh) * (s1 / nh)) * 1000000)
              AS BIGINT) AS w_micro
  FROM s
),
tot AS (SELECT sum(w_micro) AS wt FROM w),
base AS (
  SELECT lang, nh, w_micro,
    ({_NEYMAN_BUDGET} * w_micro) // (SELECT wt FROM tot) AS n_base,
    ({_NEYMAN_BUDGET} * w_micro) % (SELECT wt FROM tot) AS rem
  FROM w
),
rk AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, lang ASC) AS r,
    (SELECT {_NEYMAN_BUDGET} - sum(n_base) FROM base) AS short
  FROM base
)
SELECT lang, CAST(nh AS BIGINT) AS stratum_n,
  CAST(w_micro AS BIGINT) AS weight_micro,
  CAST(n_base + CASE WHEN r <= short THEN 1 ELSE 0 END AS BIGINT)
    AS n_alloc
FROM rk
"""


@register("neyman_allocation_plan", _NEYMAN_ORACLE)
def q_neyman_allocation_plan(spark, sf_dir):
    """Neyman optimal allocation of a {_NEYMAN_BUDGET}-doc sampling budget
    across language strata: n_h ∝ N_h·S_h (big AND variable strata get
    more) — the variance-minimizing design for stratified estimation, and
    the principled upgrade to proportional sampling when planning
    eval-set draws or annotation budgets over a corpus.

    Determinism: per-stratum variance comes from exact DECIMAL power sums
    (the ``doc_length_moments`` device); S_h is one mirrored sqrt
    micro-rounded into an integer weight; integer shares use
    largest-remainder apportionment (Hamilton's method — div base + the
    top remainders take the shortfall, ties on stratum name), so the
    allocations sum EXACTLY to the budget by construction.

    100 TB shape: one map-side-combined aggregate to |strata| rows, then
    all apportionment runs on that metadata-sized frame. int64 headroom:
    budget·w_micro < 2⁶³ with w_micro = N_h·S_micro — exact through
    N_h·S ≈ 10¹¹·budget⁻¹; ANSI fails loud beyond (drop the micro scale
    a decade, the apportionment is scale-invariant)."""
    docs = _t(spark, sf_dir, "documents")
    y = F.col("n_chars")
    s = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("nh"),
        F.sum(y.cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum((y * y).cast("decimal(38,0)")).cast("double").alias("s2"),
    )
    w = s.select(
        "lang",
        "nh",
        (
            F.col("nh")
            * F.round(
                F.expr("sqrt(s2 / nh - (s1 / nh) * (s1 / nh))") * 1_000_000
            ).cast("long")
        ).alias("w_micro"),
    )
    tot = w.agg(F.sum("w_micro").alias("wt"))
    base = w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "nh",
        "w_micro",
        # wt = 0 (every stratum zero-variance) -> NULL shares, matching
        # DuckDB's NULL integer division (Spark ANSI would abort)
        F.expr(
            f"CASE WHEN wt = 0 THEN NULL"
            f" ELSE ({_NEYMAN_BUDGET} * w_micro) div wt END"
        ).alias("n_base"),
        F.expr(
            f"CASE WHEN wt = 0 THEN NULL"
            f" ELSE ({_NEYMAN_BUDGET} * w_micro) % wt END"
        ).alias("rem"),
    )
    short = base.agg(
        (F.lit(_NEYMAN_BUDGET) - F.sum("n_base")).alias("short")
    )
    rk = base.withColumn(
        "r",
        F.row_number().over(Window.orderBy(F.col("rem").desc(), F.col("lang"))),
    ).crossJoin(F.broadcast(short))
    return rk.select(
        "lang",
        F.col("nh").cast("long").alias("stratum_n"),
        F.col("w_micro").cast("long").alias("weight_micro"),
        (F.col("n_base") + F.when(F.col("r") <= F.col("short"), 1).otherwise(0))
        .cast("long")
        .alias("n_alloc"),
    )
