"""Lexical retrieval operators.

BM25 (Robertson-Spärck Jones, the TREC-era public formula) as a Spark
plan: corpus statistics (N, avgdl, one document frequency per query term)
are ONE map-side-combined aggregate producing a single row, broadcast back
onto the scoring scan; the per-document score is pure column arithmetic
inside whole-stage codegen; the global top-k plans as
TakeOrderedAndProject. ZERO hash exchanges end to end — at 100 TB the
corpus is scanned once and never shuffled (pinned in
tests/test_plans.test_bm25_scoring_scan_never_shuffles).

Cross-engine exactness: term df / tf / doc lengths are exact integer
aggregates; the only doubles are the final per-term chain, emitted as ONE
SQL text (:func:`bm25_score_sql`) that runs verbatim on Spark SQL and
DuckDB — same ln/division associativity — and is rounded to 6 dp BEFORE
ranking so a boundary tie can never rank differently across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from py_datalake_move_files_spark.functions.scaling import ensure_parallelism

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_term_sql(term_idx: int) -> str:
    """One term's BM25 contribution — IDENTICAL text runs on Spark SQL and
    DuckDB (ln/round/casts shared):
    idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)), with
    idf = ln((N − df + 0.5)/(df + 0.5) + 1). Expects columns
    ``n_docs, avgdl, dl, tf{i}, df{i}`` in scope."""
    tf, df = f"tf{term_idx}", f"df{term_idx}"
    idf = f"ln((CAST(n_docs AS DOUBLE) - {df} + 0.5) / ({df} + 0.5) + 1.0)"
    return (
        f"({idf}) * (CAST({tf} AS DOUBLE) * {BM25_K1 + 1.0}) / "
        f"(CAST({tf} AS DOUBLE) + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * "
        f"(CAST(dl AS DOUBLE) / avgdl)))"
    )


def bm25_score_sql(n_terms: int) -> str:
    """Σ over the fixed term list, left-associative in list order, rounded
    to 6 dp (ranking happens on the rounded value on both engines)."""
    chain = None
    for i in range(n_terms):
        piece = bm25_term_sql(i)
        chain = piece if chain is None else f"({chain}) + ({piece})"
    return f"round({chain}, 6)"


def bm25_topk(
    docs: DataFrame,
    terms: tuple[str, ...] | list[str],
    *,
    k: int = 10,
) -> DataFrame:
    """Top-k documents by BM25 for a fixed bag-of-words query. Output:
    (doc_id, score, rnk) — ties break on the lower document id. ``terms``
    must not contain SQL-special characters (they are embedded as string
    literals into codegen'd filter lambdas)."""
    toks = ensure_parallelism(docs).withColumn(
        "__toks", F.expr("split(text, ' ')")
    )
    stats = toks.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (
            F.sum(F.size("__toks").cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
        *[
            F.sum(F.when(F.array_contains("__toks", t), 1).otherwise(0))
            .cast("long")
            .alias(f"df{i}")
            for i, t in enumerate(terms)
        ],
    )
    perdoc = toks.select(
        "doc_id",
        F.size("__toks").cast("long").alias("dl"),
        *[
            F.expr(
                f"CAST(size(filter(__toks, bmt{i} -> bmt{i} = '{t}')) AS BIGINT)"
            ).alias(f"tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    scored = perdoc.crossJoin(F.broadcast(stats)).select(
        "doc_id", F.expr(bm25_score_sql(len(terms))).alias("score")
    )
    from pyspark.sql import Window

    top = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.withColumn("rnk", F.row_number().over(w)).select(
        F.col("doc_id").cast("long"), "score", F.col("rnk").cast("int")
    )


def tfidf_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
    max_df: int = 64,
    threshold: float = 0.5,
    idf_scale: int = 1000,
) -> DataFrame:
    """All-pairs TF-IDF cosine similarity ≥ threshold — the LEXICAL cousin
    of SemDeDup: near-duplicate and templated-page detection weighted so
    shared RARE terms count for more than shared stopwords, which plain
    Jaccard treats equally.

    Vectors live over the mid-frequency vocabulary only
    (``min_df <= df <= max_df``): singleton terms can't link pairs, and
    ultra-hot terms are both semantically useless (idf→0) and the Σ df²
    blowup of any inverted-index self-join — the same hot-key guard as
    containment_pairs' ``max_df``, applied here to the VECTOR SPACE
    itself so scores and candidates agree by construction (norms are
    computed over the same capped vocabulary the pair dot-products use).

    Cross-engine exactness: weights are INTEGER fixed-point —
    ``w = tf · round(ln(N/df)·idf_scale)`` — so per-pair dot products
    and per-doc squared norms are exact BIGINT sums (order-free); the
    only double is the final ``dot / (sqrt(na)·sqrt(nb))``, computed
    with identical operation order on both engines and rounded to 6 dp.
    Overflow headroom at idf_scale=1000: w ≤ tf·~20k, w² ≤ ~4e14·tf²,
    safely inside int64 for corpus-realistic tf.

    100 TB plan shape: one exchange builds (doc, term, tf); df rides a
    window over the SAME term key (co-partitioned, no extra exchange);
    the weighted postings table (doc, term, w — three scalar columns) is
    materialized ONCE via localCheckpoint because four consumers read it
    (both pair-join sides + both norm sides) and Catalyst does not reuse
    the exchange across the aliased subtrees (measured 30 → 6 exchanges);
    the pair stage shuffles postings bounded by Σ min(df, max_df)²; norms
    join back on the id key (plain join — a per-doc side is corpus-sized,
    never broadcast)."""
    from pyspark.sql import Window

    toks = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc"),
        F.explode(F.expr(f"filter(split({text_col}, ' '), t -> t <> '')")).alias(
            "term"
        ),
    )
    tf = toks.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = docs.select(F.countDistinct(id_col).alias("n")).alias("nd")
    wt = Window.partitionBy("term")
    weighted = (
        tf.withColumn("df", F.count(F.lit(1)).over(wt))
        .where((F.col("df") >= min_df) & (F.col("df") <= max_df))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc",
            "term",
            (
                F.col("tf")
                * F.round(
                    F.log(F.col("n").cast("double") / F.col("df").cast("double"))
                    * idf_scale
                ).cast("long")
            ).alias("w"),
        )
    )
    # df == N terms weigh ln(1) = 0 (and df≈N can round to 0): a doc whose
    # every term is universal would otherwise carry a zero vector and
    # divide by zero in the cosine — zero-weight postings contribute
    # nothing to dots or norms, so dropping them is exact
    weighted = weighted.where(F.col("w") != 0)
    weighted = weighted.localCheckpoint(eager=True)
    norms = weighted.groupBy("doc").agg(
        F.sum(F.col("w") * F.col("w")).alias("n2")
    )
    dots = (
        weighted.alias("a")
        .join(weighted.alias("b"), "term")
        .where(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    return (
        dots.join(norms.withColumnRenamed("doc", "id_a").withColumnRenamed("n2", "na"), "id_a")
        .join(norms.withColumnRenamed("doc", "id_b").withColumnRenamed("n2", "nb"), "id_b")
        .withColumn(
            "tfidf_cosine",
            F.round(
                F.col("dot").cast("double")
                / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))),
                6,
            ),
        )
        .where(F.col("tfidf_cosine") >= threshold)
        .select("id_a", "id_b", "tfidf_cosine")
    )


# --- query-likelihood language-model retrieval ------------------------------

QL_MU = 2000.0


def ql_term_sql(term_idx: int) -> str:
    """One term's query-likelihood contribution under Dirichlet smoothing
    (Zhai & Lafferty 2001, the standard LM retrieval model):
    ln((tf + μ·cf/|C|) / (dl + μ)). IDENTICAL text runs on Spark SQL and
    DuckDB. Expects columns ``coll_tokens, dl, tf{i}, cf{i}`` in scope.
    ``cf`` (collection term frequency) is never 0 for query terms drawn
    from the corpus vocabulary; a zero-cf term would send the score to
    -inf on every document equally, so ranking is unaffected either way."""
    tf, cf = f"tf{term_idx}", f"cf{term_idx}"
    # nullif: a term absent from the ENTIRE corpus (tf = cf = 0 — only a
    # degenerate lake) makes the smoothed probability exactly 0; Spark's
    # ln(0) is NULL where DuckDB ABORTS, and this text is shared by both
    # engines, so the guard keeps them agreeing (no-op when the arg > 0)
    return (
        f"ln(nullif((CAST({tf} AS DOUBLE) + {QL_MU} * (CAST({cf} AS DOUBLE) /"
        f" CAST(coll_tokens AS DOUBLE))) / (CAST(dl AS DOUBLE) + {QL_MU}),"
        " 0.0))"
    )


def ql_score_sql(n_terms: int) -> str:
    """Σ over the fixed term list, left-associative in list order, rounded
    to 6 dp before ranking (the bm25_score_sql discipline)."""
    if n_terms < 1:  # else the SQL is the invalid 'round(None, 6)' (ADVICE r8)
        raise ValueError("at least one term required")
    chain = None
    for i in range(n_terms):
        piece = ql_term_sql(i)
        chain = piece if chain is None else f"({chain}) + ({piece})"
    return f"round({chain}, 6)"


def ql_dirichlet_topk(
    docs: DataFrame,
    terms: tuple[str, ...] | list[str],
    *,
    k: int = 10,
) -> DataFrame:
    """Top-k documents by Dirichlet-smoothed query likelihood — the
    language-model complement of :func:`bm25_topk` (RRF fusion of the two
    is the classic hybrid). Same 100 TB shape as BM25: corpus statistics
    (total token count, one collection frequency per term) are ONE
    map-side-combined aggregate broadcast onto the scoring scan; the
    per-document score is codegen column arithmetic; global top-k is
    TakeOrderedAndProject. The corpus never shuffles."""
    if not terms:  # fail fast, not an opaque parse error at execution (ADVICE r8)
        raise ValueError("at least one term required")
    toks = ensure_parallelism(docs).withColumn(
        "__toks", F.expr("split(text, ' ')")
    )
    stats = toks.agg(
        F.sum(F.size("__toks").cast("long")).cast("long").alias("coll_tokens"),
        *[
            F.sum(
                F.expr(
                    f"CAST(size(filter(__toks, qlt{i} -> qlt{i} = '{t}'))"
                    " AS BIGINT)"
                )
            )
            .cast("long")
            .alias(f"cf{i}")
            for i, t in enumerate(terms)
        ],
    )
    perdoc = toks.select(
        "doc_id",
        F.size("__toks").cast("long").alias("dl"),
        *[
            F.expr(
                f"CAST(size(filter(__toks, qld{i} -> qld{i} = '{t}')) AS BIGINT)"
            ).alias(f"tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    scored = perdoc.crossJoin(F.broadcast(stats)).select(
        "doc_id", F.expr(ql_score_sql(len(terms))).alias("score")
    )
    from pyspark.sql import Window

    top = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.withColumn("rnk", F.row_number().over(w)).select(
        F.col("doc_id").cast("long"), "score", F.col("rnk").cast("int")
    )
