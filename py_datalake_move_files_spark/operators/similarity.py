"""Embedding similarity search over ``array<float>`` columns.

Two tiers:

- :func:`brute_force_topk` — exact cosine top-k. The query side is tiny and
  broadcast; the corpus is never shuffled: the plan is broadcast-nested-loop
  join → per-row dot product (codegen ``zip_with``/``aggregate``, all
  JVM-side) → per-query top-k via window. At 100 TB the corpus scan is
  embarrassingly parallel and the only shuffle is the final top-k (k rows per
  partition after partial sort — Spark's TakeOrderedAndProject pattern).
- :func:`lsh_bucketed_topk` — sign-random-projection (hyperplane) LSH: each
  vector gets a ``n_planes``-bit bucket from deterministic md5-derived ±1
  hyperplanes; queries only compare against their own bucket. Recall is
  approximate; at scale the bucket join replaces the full corpus scan.

All arithmetic is double-precision, left-to-right over the array — the
DuckDB oracle reproduces it exactly (queries.py embeds the same hyperplane
constants in the SQL).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from py_datalake_move_files_spark.functions.scaling import ensure_parallelism
from py_datalake_move_files_spark.functions.worker import make_worker_preamble


_UNIQ = iter(range(10**9))


def _u() -> str:
    """Unique lambda-variable suffix.

    CRITICAL: higher-order functions here are built as SQL text via
    ``F.expr`` with UNIQUE lambda variable names, never as PySpark Python
    lambdas — multiple python-lambda HOFs in one projection silently corrupt
    values (observed on Spark 4.1: colliding ``namedlambdavariable`` ids;
    see tests/test_lambda_safety.py)."""
    return str(next(_UNIQ))


def dot_sql(a: str, b: str) -> str:
    """SQL text of Σ a[i]·b[i], double, sequential fold — args are SQL
    expressions (column refs or lambda-variable fields). :func:`dot` and
    the HOFs that score pairs inside an array (SemDeDup's member lists)
    share this text, so both run the oracle's IEEE order."""
    u = _u()
    return (
        f"aggregate(zip_with({a}, {b}, (x{u}, y{u}) -> "
        f"CAST(x{u} AS DOUBLE) * CAST(y{u} AS DOUBLE)), 0D, "
        f"(acc{u}, v{u}) -> acc{u} + v{u})"
    )


def dot(a: str, b: str) -> Column:
    """Σ a[i]·b[i] as a column (:func:`dot_sql`)."""
    return F.expr(dot_sql(a, b))


def norm_sql(a: str) -> str:
    """SQL text of sqrt(Σ a[i]²), double, sequential fold."""
    u = _u()
    return (
        f"sqrt(aggregate({a}, 0D, (acc{u}, v{u}) -> "
        f"acc{u} + CAST(v{u} AS DOUBLE) * CAST(v{u} AS DOUBLE)))"
    )


def norm(a: str) -> Column:
    """:func:`norm_sql` as a column."""
    return F.expr(norm_sql(a))


# NOTE: there is deliberately no cosine(a, b) convenience helper — it would
# recompute both norms per candidate PAIR (3x the HOF flops on exactly the
# quadratic stage). Every call site materializes norms once per row and
# scores with dot(a, b) / (na * nb); new operators must do the same.


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    corpus_extra: dict[str, Column | str] | None = None,
    query_extra: dict[str, Column | str] | None = None,
    pair_predicate: Column | None = None,
    extra_out: list[str] | None = None,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    ``corpus`` must have (vec_id, embedding) and ``queries``
    (query_id, embedding). Similarity is rounded to
    6 dp for stable cross-engine comparison; ties break on neighbor id.
    Self-matches (query_id == neighbor id) are excluded.

    Norms are computed ONCE per row on each side before the join (not per
    pair): the pair expression is a single dot product — 3x fewer HOF
    flops on the quadratic stage, bit-identical values (same sequential
    folds, same ``dot/(nq*nc)`` IEEE order the oracle uses).

    Filtered-pair variants (hard-negative mining and friends) reuse THIS
    pipeline instead of re-implementing it (ADVICE r4 — one place for
    tie-break/rounding changes): ``corpus_extra`` / ``query_extra`` carry
    additional aliased columns through the join ({out_alias: source column
    name or Column}), ``pair_predicate`` filters candidate pairs BEFORE
    the top-k window (so ranks are over surviving pairs only), and
    ``extra_out`` names which carried aliases appear in the output, after
    ``neighbor_id``."""
    def _cols(extra: dict[str, Column | str] | None) -> list[Column]:
        if not extra:
            return []
        return [
            (F.col(src) if isinstance(src, str) else src).alias(name)
            for name, src in extra.items()
        ]

    q = F.broadcast(
        queries.select(
            "query_id",
            F.col("embedding").alias("q_vec"),
            *_cols(query_extra),
        ).withColumn("q_nrm", norm("q_vec"))
    )
    pairs = (
        ensure_parallelism(corpus)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_vec"),
            *_cols(corpus_extra),
        )
        .withColumn("c_nrm", norm("c_vec"))
        .crossJoin(q)
        .where(F.col("neighbor_id") != F.col("query_id"))
    )
    if pair_predicate is not None:
        pairs = pairs.where(pair_predicate)
    out_cols = ["query_id", "neighbor_id", *(extra_out or [])]
    scored = pairs.select(
        *out_cols,
        F.round(
            dot("q_vec", "c_vec") / (F.col("q_nrm") * F.col("c_nrm")), 6
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(*out_cols, "cosine_sim", "rnk")
    )


def hyperplanes(n_planes: int, dim: int, *, table: int = 0) -> list[list[int]]:
    """Deterministic ±1 hyperplanes from md5 — reproducible in any engine
    (and embedded as literals into the oracle SQL). ``table`` seeds an
    independent plane family per LSH hash table (table 0 keeps the original
    seeds, so single-table plans and their oracles are unchanged).

    Scaling guidance (100 TB): pick ``n_planes ≈ log2(N / B)`` for a corpus
    of N vectors and a target bucket size B — 8 planes = 256 buckets is a
    test-scale setting; a 10^10-vector corpus wanting ~10^4-vector buckets
    needs ~20 planes. Recall lost to finer buckets is bought back with
    ``n_tables`` (independent tables, union of candidates), the standard
    LSH recall/cost dial."""
    planes = []
    prefix = "" if table == 0 else f"t{table}:"
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{prefix}plane{p}:{d}".encode()).hexdigest()
            row.append(1 if int(h[0], 16) < 8 else -1)
        planes.append(row)
    return planes


#: Unique suffix for the always-on cap metric so several capped stages can
#: coexist in one query plan (observed-metric names must be plan-unique).
_CAP_OBS = iter(range(10**9))


def _observe_cap(
    flagged: DataFrame, n_col: str, max_n: int, observation=None
) -> tuple[DataFrame, str]:
    """Attach the cap's ``CollectMetrics`` node to ``flagged``, a frame
    carrying each row's bucket size in ``n_col``; returns the observed frame
    and the SQL text of the per-row ``dropped`` predicate (bucket size >
    ``max_n``).

    Metrics: ``rows_dropped`` = rows in capped buckets (NULL on an empty
    frame), ``buckets_capped`` = number of capped buckets (0 even on empty),
    ``max_bucket_n`` = the largest bucket (NULL on empty). Without an
    ``observation`` the node gets an auto-unique ``bucket_cap:<n>`` name."""
    dropped = f"{n_col} > {max_n}"
    obs = observation if observation is not None else f"bucket_cap:{next(_CAP_OBS)}"
    observed = flagged.observe(
        obs,
        F.expr(f"sum(CAST({dropped} AS BIGINT)) AS rows_dropped"),
        # DISTINCT is illegal in observed metrics; each dropped bucket's
        # rows sum 1/n → exactly 1 per bucket (round() absorbs FP)
        F.expr(
            f"CAST(round(coalesce(sum(CASE WHEN {dropped} THEN 1.0D / {n_col} END), "
            f"0.0D)) AS BIGINT) AS buckets_capped"
        ),
        F.expr(f"max({n_col}) AS max_bucket_n"),
    )
    return observed, dropped


def _flag_bucket_size(
    df: DataFrame,
    keys: list[str],
    max_bucket: int,
    observation=None,
) -> tuple[DataFrame, str]:
    """The bucket-cap device without its filter: one window count over
    ``keys`` into ``__bucket_n``, then the :func:`_observe_cap` metric node.
    Returns the observed frame (every row kept) and the SQL text of the
    per-row ``dropped`` predicate. :func:`_cap_bucket_size` filters on it;
    a caller that aggregates over the same keys instead
    (``semantic_dedup_summary``) keeps the count and groups on the window's
    partitioning, so the two share one exchange."""
    part = ", ".join(f"`{k}`" for k in keys)
    return _observe_cap(
        df.selectExpr("*", f"count(1) OVER (PARTITION BY {part}) AS __bucket_n"),
        "__bucket_n",
        max_bucket,
        observation,
    )


def _cap_bucket_size(
    df: DataFrame,
    keys: list[str],
    max_bucket: int,
    observation=None,
) -> DataFrame:
    """Hard guard for degenerate buckets: drop rows in buckets larger than
    ``max_bucket`` BEFORE the self/bucket join, bounding candidate counts at
    O(max_bucket²) per bucket instead of O(N²) when a corpus collapses into
    one bucket (e.g. near-constant embeddings). One window count over the
    same keys the join shuffles on (:func:`_flag_bucket_size`) —
    co-partitioned, no extra exchange pattern. The window groups NULL keys
    into one bucket, so a NULL-key bucket is capped like any other. AQE
    skew-split is the soft complement (it splits oversized partitions);
    this cap is the semantic bound. Oversized buckets should be handled
    upstream (exact dedup collapses identical payloads first).

    No-silent-caps (VERDICT r8 #3): the drop is never invisible — a
    ``CollectMetrics`` node (:func:`_observe_cap`) is ALWAYS attached
    between the bucket count and the filter, emitting ``rows_dropped`` /
    ``buckets_capped`` / ``max_bucket_n`` with every action on the frame.
    Pass a :class:`pyspark.sql.Observation` as ``observation`` to read the
    values directly (``obs.get`` after the action — how tests assert it);
    without one the metric still fires under an auto-unique name, visible
    to any ``QueryExecutionListener``/metrics sink in production. The node
    is a pass-through: result schema, row set, and exchange count are
    unchanged (the ``ann_recall_*`` queries quantify the recall side)."""
    flagged, dropped = _flag_bucket_size(df, keys, max_bucket, observation)
    return flagged.where(f"NOT ({dropped})").drop("__bucket_n")


def bucket_expr(vec_col: str, planes: list[list[int]]) -> Column:
    """LSH bucket id: bit p = sign(v · plane_p), packed into a long."""
    bits = []
    for p, row in enumerate(planes):
        consts = "array(" + ", ".join(f"{v}D" for v in row) + ")"
        u = _u()
        d = F.expr(
            f"aggregate(zip_with({vec_col}, {consts}, (x{u}, y{u}) -> "
            f"cast(x{u} as double) * y{u}), 0D, (acc{u}, v{u}) -> acc{u} + v{u})"
        )
        bits.append(F.when(d > 0, F.lit(2**p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def _multi_bucketed(
    df: DataFrame,
    out_id: str,
    out_vec: str,
    id_col: str,
    vec_col: str,
    planes_per_table: list[list[list[int]]],
) -> tuple[DataFrame, list[str]]:
    """(frame, join_keys): one pass over ``df`` computing every table's
    bucket, exploded to one row per (vector, table). Single-table stays a
    plain bucket column — identical plan to the original single-table op."""
    base = df.select(F.col(id_col).alias(out_id), F.col(vec_col).alias(out_vec))
    if len(planes_per_table) == 1:
        return (
            base.withColumn("bucket", bucket_expr(out_vec, planes_per_table[0])),
            ["bucket"],
        )
    tb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("tbl"),
                    bucket_expr(out_vec, planes).alias("bucket"),
                )
                for t, planes in enumerate(planes_per_table)
            ]
        )
    ).alias("tb")
    return (
        base.select(out_id, out_vec, tb).select(
            out_id, out_vec, F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket")
        ),
        ["tbl", "bucket"],
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_planes: int | None = 8,
    dim: int = 64,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate cosine top-k: candidates limited to the query's LSH
    bucket(s).

    Same output shape as :func:`brute_force_topk`; queries whose buckets hold
    fewer than ``k`` neighbors return fewer rows (classic LSH recall trade).
    ``n_tables`` > 1 unions candidates from independent hyperplane families
    (multi-table LSH — recall recovery; see :func:`hyperplanes` for the
    n_planes/n_tables scaling rule); the corpus is scanned ONCE and exploded
    per table, never re-read. ``n_planes=None`` sizes the index with
    :func:`auto_n_planes` from the corpus count (the log2(N/B) rule as the
    in-code default; registered queries pass their oracle-pinned value)."""
    if n_planes is None:
        n_planes = auto_n_planes(corpus.count())
    planes_per_table = [hyperplanes(n_planes, dim, table=t) for t in range(n_tables)]
    c, keys = _multi_bucketed(
        ensure_parallelism(corpus), "neighbor_id", "c_vec", "vec_id", "embedding",
        planes_per_table,
    )
    c = c.withColumn("c_nrm", norm("c_vec"))
    q, _ = _multi_bucketed(queries, "query_id", "q_vec", "query_id", "embedding",
                           planes_per_table)
    q = q.withColumn("q_nrm", norm("q_vec"))
    scored = (
        c.join(F.broadcast(q), keys)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            # per-row norms precomputed above: one dot per candidate pair
            F.round(
                dot("q_vec", "c_vec") / (F.col("q_nrm") * F.col("c_nrm")), 6
            ).alias("cosine_sim"),
        )
    )
    if n_tables > 1:
        # the same pair can meet in several tables — one candidate each
        scored = scored.distinct()
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rnk")
    )


def lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    m_probes: int = 2,
) -> DataFrame:
    """Multi-probe LSH (Lv et al. 2007): each query searches its own bucket
    PLUS the ``m_probes`` buckets reached by flipping its least-confident
    hyperplane bits (smallest |v·plane| margin — the bits most likely to
    disagree for a true neighbor). Buys back the recall that finer buckets
    cost WITHOUT the extra index copies of multi-table LSH: the corpus is
    bucketed and stored ONCE; only the query side fans out, m+1 broadcast
    probe rows per query.

    100 TB shape: corpus bucketing is the same zero-shuffle map stage as
    single-probe; probes (|queries|·(m+1) rows) broadcast onto the bucket
    join, so the corpus is never shuffled; the probe ranking is a window
    over n_planes rows per query (query side is tiny by contract). Probes
    are distinct buckets, so no pair meets twice — no dedup stage. Margin
    ordering ties break on the plane index, and every margin is the same
    sequential fold the oracle mirrors, so probe sets are deterministic
    cross-engine."""
    planes = hyperplanes(n_planes, dim)
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    )
    c = (
        ensure_parallelism(c)
        .withColumn("bucket", bucket_expr("c_vec", planes))
        .withColumn("c_nrm", norm("c_vec"))
    )

    # query side: materialize each plane's signed margin ONCE as a real
    # column (HOF-CSE rule), derive bucket + probe ranking from those
    q = queries.select(
        "query_id", F.col("embedding").alias("q_vec")
    )
    for p, row in enumerate(planes):
        consts = "array(" + ", ".join(f"{v}D" for v in row) + ")"
        u = _u()
        q = q.withColumn(
            f"__d{p}",
            F.expr(
                f"aggregate(zip_with(q_vec, {consts}, (x{u}, y{u}) -> "
                f"cast(x{u} as double) * y{u}), 0D, (acc{u}, v{u}) -> acc{u} + v{u})"
            ),
        )
    bucket = None
    for p in range(n_planes):
        bit = F.when(F.col(f"__d{p}") > 0, F.lit(2**p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    q = q.withColumn("qb", bucket.cast("long")).withColumn("q_nrm", norm("q_vec"))

    home = q.select("query_id", "q_vec", "q_nrm", F.col("qb").alias("bucket"))
    margins = q.select(
        "query_id",
        "q_vec",
        "q_nrm",
        "qb",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.abs(F.col(f"__d{p}")).alias("a"), F.lit(p).alias("p")
                    )
                    for p in range(n_planes)
                ]
            )
        ).alias("mp"),
    )
    wflip = Window.partitionBy("query_id").orderBy(
        F.col("mp.a").asc(), F.col("mp.p").asc()
    )
    flips = (
        margins.withColumn("__rn", F.row_number().over(wflip))
        .where(F.col("__rn") <= m_probes)
        .select(
            "query_id",
            "q_vec",
            "q_nrm",
            F.expr("qb ^ shiftleft(CAST(1 AS BIGINT), mp.p)").alias("bucket"),
        )
    )
    probes = F.broadcast(home.unionByName(flips))

    scored = (
        c.join(probes, "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot("q_vec", "c_vec") / (F.col("q_nrm") * F.col("c_nrm")), 6
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rnk")
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    *,
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH buckets: only vectors in
    the same bucket are compared (no all-pairs at scale); exact cosine then
    filters to ≥ threshold."""
    b = (
        ensure_parallelism(corpus)
        .select(F.col("vec_id").alias("vid"), F.col("embedding").alias("vec"))
        .withColumn("bucket", bucket_expr("vec", hyperplanes(n_planes, dim)))
        .withColumn("nrm", norm("vec"))
    )
    return (
        b.alias("a")
        .join(b.alias("x"), "bucket")
        .where(F.col("a.vid") < F.col("x.vid"))
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("x.vid").alias("id_b"),
            # per-row norms precomputed above: one dot per candidate pair
            F.round(
                dot("a.vec", "x.vec") / (F.col("a.nrm") * F.col("x.nrm")), 6
            ).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN index — the centroid-partitioned scale path
# --------------------------------------------------------------------------

def auto_n_lists(n_vectors: int) -> int:
    """The FAISS sizing rule as code, not docs (VERDICT r11 #3):
    ``n_lists ≈ sqrt(N)``, rounded UP to a power of two, never below
    8. Candidate volume in an all-vectors kNN join is
    ``N²·n_probe/n_lists``, so n_lists must track sqrt(N) to keep the
    join ~N^1.5 — the round-11 sf10 sweep priced the alternative: the
    kNN edge artifact at a FIXED test-scale n_lists=16 over 200k vectors
    took ~30 min to build. Power-of-two rounding keeps centroid counts
    cache-friendly and the growth monotone in N (the unit-test contract).

    Registered queries PIN their n_lists (the oracle must recompute the
    identical index in SQL); this auto default is for artifact builds and
    un-oracled production use, where the corpus size is the right input.
    """
    import math

    if n_vectors <= 1:
        return 8
    return max(8, 2 ** math.ceil(math.log2(math.sqrt(n_vectors))))


def auto_n_planes(n_vectors: int) -> int:
    """The hyperplane-LSH twin of :func:`auto_n_lists`:
    ``n_planes ≈ log2(N / 1024)`` (the :func:`hyperplanes`
    docstring rule, now executable) — each plane halves the expected
    bucket, so this holds expected bucket size ≈ 1024 as the
    corpus grows; recall lost to finer buckets is bought back with
    ``n_tables``. Clamped to [4, 24] (2^24 buckets is plenty for
    any corpus this engine will see; below 2^4 the index is a scan).
    """
    import math

    if n_vectors <= 1024:
        return 4
    return min(24, max(4, math.ceil(math.log2(n_vectors / 1024))))


def ivf_centroids(
    corpus: DataFrame,
    *,
    n_lists: int | None = 8,
) -> list[tuple[int, list[float]]]:
    """Deterministic IVF 'training': the ``n_lists`` corpus vectors with the
    lexicographically smallest ``md5(id)`` become centroids — a reproducible
    pseudo-random sample (k-means|| would refine these offline in a real
    deployment; the sample IS the standard k-means init). Returned sorted by
    centroid id so downstream argmin tie-breaks are well-defined.

    Driver-side collect is ``n_lists`` rows (k·dim floats — small relative
    to any corpus, though MBs once k reaches the tens of thousands). How
    the collected centroids re-enter the plan depends on k — see
    :func:`ivf_assign`: a closed-form struct-argmin over centroid literals
    up to ``IVF_LITERAL_MAX_K`` (fastest, zero shuffles, linear in k), a
    broadcast centroid table above it (constant-size plan; a literal plan
    embeds k·dim constants and outgrows expression-tree budgets long
    before data volume matters).

    ``n_lists=None`` applies :func:`auto_n_lists` to the corpus count —
    the sqrt(N) FAISS sizing as the in-code default for artifact builds
    (one metadata-cheap count at train time; registered queries pass
    their oracle-pinned value instead)."""
    if n_lists is None:
        n_lists = auto_n_lists(corpus.count())
    rows = (
        corpus.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
        .orderBy(F.md5(F.col("cid").cast("string")).asc())
        .limit(n_lists)
        .collect()
    )
    return sorted((r["cid"], [float(v) for v in r["cv"]]) for r in rows)


def _centroid_norm(cv: list[float]) -> float:
    """A centroid's norm, in Python, with the left-associative chain the
    Spark fold and the oracle's SQL chain run (same IEEE ops, same value)."""
    import math

    acc = 0.0
    for v in cv:
        acc = acc + v * v
    return math.sqrt(acc)


def _double_array_sql(values: list[float]) -> str:
    """SQL text of a constant ``ARRAY<DOUBLE>``: one string literal, split
    and cast. Spark's SQL parser spends ~90 µs on every numeric literal (a
    64-dim ``array(…D, …)`` takes 6 ms to parse), while one string literal
    is one token; the optimizer's ConstantFolding turns the cast into the
    same literal array before anything runs. ``repr`` is the shortest
    string that Python parses back to the same double, and Java's
    ``Double.parseDouble`` rounds it the same way, so the values are
    bit-identical."""
    return (
        "CAST(split('" + ",".join(repr(float(v)) for v in values) + "', ',') "
        "AS ARRAY<DOUBLE>)"
    )


def _centroid_sims(
    vec_col: str, nrm_col: str, centroids: list[tuple[int, list[float]]]
) -> str:
    """SQL text of the literal-path probe array: per centroid, the struct
    ``(neg = -round(cosine(vec, centroid), 6), cid)``, so ``array_min``
    picks the nearest centroid (ties to the lowest cid) and ``array_sort``
    ranks them. The row norm is read from ``nrm_col``, a column the caller
    computes once per row (Catalyst does not share the per-centroid copies
    of a HOF norm: each has its own lambda names). Centroid norms are
    :func:`_centroid_norm` literals and each centroid vector is one
    :func:`_double_array_sql` string. The whole array is one SQL text, not
    k Column trees, so building it costs no Py4J calls per centroid."""
    structs = []
    for cid, cv in centroids:
        consts = _double_array_sql(cv)
        u = _u()
        d = (
            f"aggregate(zip_with({vec_col}, {consts}, (x{u}, y{u}) -> "
            f"cast(x{u} as double) * y{u}), 0D, (acc{u}, v{u}) -> acc{u} + v{u})"
        )
        cos = f"round({d} / ({nrm_col} * {_centroid_norm(cv)!r}D), 6)"
        structs.append(f"named_struct('neg', -{cos}, 'cid', {int(cid)})")
    return "array(" + ", ".join(structs) + ")"


#: Above this k, ivf_assign switches from centroid LITERALS (one cosine
#: expression per centroid, folded by a struct argmin — fastest at small
#: k and linear in k, but the expression tree embeds k·dim constants and
#: outgrows plan/codegen budgets at k in the thousands) to a broadcast
#: centroid TABLE whose plan size is constant in k.
IVF_LITERAL_MAX_K = 64


def _probe_lists(
    q: DataFrame,
    centroids: list[tuple[int, list[float]]],
    *,
    n_probe: int,
    vec_col: str = "q_vec",
    nrm_col: str = "q_nrm",
) -> DataFrame:
    """Per-query probe lists: the ``n_probe`` nearest centroid ids, ties
    to the lowest cid — one exploded ``list_id`` row per (query, probe).
    Shared by :func:`ivf_topk` and :func:`knn_graph`, and — like
    :func:`ivf_assign` — dispatched on centroid count:

    - ``k <= IVF_LITERAL_MAX_K``: per-centroid literal cosine expressions
      over the row norm in ``nrm_col`` + struct sort (zero shuffle, fastest
      while codegen-friendly).
    - ``k > IVF_LITERAL_MAX_K``: the whole centroid table rides ONE broadcast
      single-row ``array<struct>`` column and the ranking is a HOF loop
      (``transform`` → ``array_sort`` → ``slice``) — constant plan size,
      tiny bytecode, still ZERO shuffle at any n_lists. This is the
      regime :func:`auto_n_lists` reaches (512 lists at 200k vectors):
      the r12 re-pricing found the unrolled literal path compiles 512
      aggregate expressions past the 64 KB codegen budget and falls back
      to interpreted eval — the r4 "literal-table expressions as HOF
      loops" rule applied to probing. Rounded cosines are bit-identical
      between paths (same zip_with/aggregate fold, same ``nrm_col`` row
      norm, same Python-side centroid norm chain)."""
    if len(centroids) <= IVF_LITERAL_MAX_K:
        sims = _centroid_sims(vec_col, nrm_col, centroids)
        return q.selectExpr(
            "*", f"explode(slice(array_sort({sims}), 1, {n_probe}).cid) AS list_id"
        )
    rows = [
        (int(cid), [float(v) for v in cv], _centroid_norm(cv))
        for cid, cv in sorted(centroids)
    ]
    cdf = q.sparkSession.createDataFrame(
        [(rows,)],
        "___cents array<struct<___cid: bigint, ___cv: array<double>, ___cn: double>>",
    )
    u = _u()
    elem = (
        f"named_struct('neg', -round(aggregate(zip_with({vec_col}, "
        f"c{u}.___cv, (x{u}, y{u}) -> cast(x{u} as double) * y{u}), 0D, "
        f"(acc{u}, v{u}) -> acc{u} + v{u}) / ({nrm_col} * c{u}.___cn), 6), "
        f"'cid', c{u}.___cid)"
    )
    return (
        q.crossJoin(F.broadcast(cdf))
        .withColumn(
            "list_id",
            F.explode(
                F.expr(
                    f"slice(array_sort(transform(___cents, c{u} -> {elem}))"
                    f", 1, {n_probe})"
                ).getField("cid")
            ),
        )
        .drop("___cents")
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    *,
    vec_col: str = "embedding",
    out: str = "list_id",
) -> DataFrame:
    """Assign every vector to its nearest centroid (max rounded cosine, ties
    to the lowest centroid id). Vectors and centroids are assumed
    non-zero-norm (cosine is undefined at zero norm; a NaN similarity
    orders differently between the two dispatch paths below, so zero
    vectors must be dropped or exact-deduped upstream). Two physically
    different plans, identical results (same IEEE fold order, same
    rounding, same tie-break):

    - ``k <= IVF_LITERAL_MAX_K``: pure column expressions over centroid
      literals — ZERO shuffles, an embarrassingly parallel map stage, the
      core property that makes IVF the scale path (each query then scans
      n_probe/n_lists of the corpus instead of all). Fastest while the
      k-branch expression tree stays codegen-friendly. Built as two
      projections of SQL text: the row norm, then one
      ``array_min(array(named_struct('neg', -round(dot/(nrm*cn), 6),
      'cid', cid), …)).cid`` (:func:`_centroid_sims`) — two analyzer
      passes and no per-centroid Column objects.
    - ``k > IVF_LITERAL_MAX_K``: the centroids ride one broadcast
      single-row ``array<struct>`` column and the argmin is a per-row HOF
      loop over it. Plan size is CONSTANT in k — the regime a real large-k
      IVF deployment (k ~ sqrt(N), thousands+) needs — and still zero
      shuffles.
    """
    if not centroids:
        # empty training set -> the index has no lists: assign NOTHING
        # (an empty frame with the output schema), so every downstream
        # probe/aggregate is empty on both engines instead of an
        # array_min-over-empty analysis error (degenerate-lake rule)
        return corpus.where(F.lit(False)).withColumn(
            out, F.lit(None).cast("int")
        )
    if len(centroids) <= IVF_LITERAL_MAX_K:
        # argmin of (-sim, cid) structs: every centroid cosine is evaluated
        # exactly ONCE (array construction), and struct ordering encodes
        # the (max rounded sim, ties to lowest cid) rule. The previous
        # greatest(...) + when-chain re-evaluated each interpreted HOF dot
        # O(k) times — O(k²) dots per row, measured 0.33 s (k=8) →
        # 4.2 s (k=32) on 2k×64-dim; this form is linear in k (0.8 s at
        # k=32, see tests/test_ivf path-parity coverage). The row norm is
        # its own column: CollapseProject keeps a multi-referenced HOF
        # un-inlined, so it runs once per row instead of once per centroid.
        nrm = f"___nrm{_u()}"
        keep = [f"`{c}`" for c in corpus.columns if c != out]
        sims = _centroid_sims(vec_col, nrm, centroids)
        return corpus.selectExpr("*", f"{norm_sql(vec_col)} AS {nrm}").selectExpr(
            *keep, f"array_min({sims}).cid AS `{out}`"
        )
    return _ivf_assign_broadcast(corpus, centroids, vec_col=vec_col, out=out)


def _ivf_assign_broadcast(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    *,
    vec_col: str,
    out: str,
) -> DataFrame:
    """Large-k assignment via a broadcast centroid table (see ivf_assign).

    Centroid norms are precomputed in Python with the identical
    left-associative chain (:func:`_centroid_norm`), and ``dot`` emits the same
    sequential zip_with/aggregate fold — the rounded cosines are
    bit-identical to the literal path's, so the argmin (and therefore the
    assignment) agrees exactly between the two plans."""
    rows = [
        (int(cid), [float(v) for v in cv], _centroid_norm(cv))
        for cid, cv in sorted(centroids)
    ]
    cdf = corpus.sparkSession.createDataFrame(
        [(rows,)],
        "___cents array<struct<___cid: bigint, ___cv: array<double>, ___cn: double>>",
    )
    # per-ROW argmin via one HOF loop over the broadcast centroid array —
    # no k-times row explode, no argmin shuffle, no join-back (the r12
    # re-pricing found the previous crossJoin+max_by shape materialized
    # N·k rows and two N-row exchanges; at 200k×512 those fixed stages
    # dominated the whole index build). array_min of (−sim, cid) structs
    # is the literal path's exact argmax/tie-break; the dot is the same
    # sequential zip_with/aggregate fold, so assignments stay
    # bit-identical between all three paths.
    u = _u()
    elem = (
        f"named_struct('neg', -round(aggregate(zip_with({vec_col}, "
        f"c{u}.___cv, (x{u}, y{u}) -> cast(x{u} as double) * y{u}), 0D, "
        f"(acc{u}, v{u}) -> acc{u} + v{u}) / (___nrm{u} * c{u}.___cn), 6), "
        f"'cid', c{u}.___cid)"
    )
    return (
        corpus.withColumn(f"___nrm{u}", norm(vec_col))
        .crossJoin(F.broadcast(cdf))
        .withColumn(
            out,
            F.expr(f"array_min(transform(___cents, c{u} -> {elem}))").getField(
                "cid"
            ),
        )
        .drop("___cents", f"___nrm{u}")
    )


def kmeans_refine(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    *,
    iters: int = 2,
    scale: int = 1_000_000,
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means refinement of an IVF init — the aggregate-then-iterate
    shape (like pagerank_nation_flow): per round, assignment is a ZERO-shuffle
    map stage over centroid literals and the centroid update is ONE groupBy
    producing k rows (map-side combined: the shuffle carries k·(dim+1) partial
    sums per task, not vectors), collected k-rows-small to the driver exactly
    like :func:`ivf_centroids`.

    Per-dimension sums accumulate FIXED-POINT (``round(v·scale)`` as BIGINT,
    one ``sum`` expression per dimension — no explode, so no dim-times row
    inflation): integer addition is associative, making the refined centroids
    independent of partition order/count — bit-identical across engines and
    cluster layouts, which floating-point summation cannot guarantee. The
    new component is then ONE IEEE division ``double(sum)/double(scale·n)``.
    Exact until cluster mass reaches 2^63/scale ≈ 9.2e12 unit-scaled rows per
    dimension; raise ``scale`` down or shard clusters past that.

    Clusters that lose every member die (standard Lloyd's-with-death), so
    the return may be shorter than the input. Returned sorted by centroid id.
    """
    if not centroids:
        # nothing to refine: an empty init stays empty (degenerate rule —
        # downstream ivf_assign/pq consumers all handle [] as "no index")
        return []
    dim = len(centroids[0][1])
    cents = sorted(centroids)
    for _ in range(iters):
        assigned = ivf_assign(corpus, cents, out="__c")
        aggs = [F.count(F.lit(1)).cast("long").alias("__n")] + [
            F.sum(
                F.round(
                    F.element_at(F.col("embedding"), i + 1).cast("double")
                    * F.lit(float(scale))
                ).cast("long")
            )
            .cast("long")
            .alias(f"__s{i}")
            for i in range(dim)
        ]
        rows = assigned.groupBy("__c").agg(*aggs).collect()
        cents = sorted(
            (
                r["__c"],
                [
                    float(r[f"__s{i}"]) / float(scale * r["__n"])
                    for i in range(dim)
                ],
            )
            for r in rows
        )
    return cents


def kmeans_profile(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    *,
    scale: int = 1_000_000,
) -> DataFrame:
    """Cluster-quality report over a (refined) centroid set: per cluster,
    member count and mean cosine-to-centroid. The mean is computed over
    fixed-point quantized cosines (the 6-dp rounded cosine ×1e6 as BIGINT)
    so the aggregate is partition-order-independent — same engine-portable
    trick as :func:`kmeans_refine`. Map-only until the k-row aggregate."""
    # ONE argmin struct, materialized as a real column, feeds BOTH the
    # assignment and the winning-cosine column: every centroid cosine HOF
    # is evaluated exactly once per row (Catalyst cannot CSE
    # structurally-unequal lambda trees, so re-deriving either column
    # separately would double the HOF work); the row norm is its own
    # column for the same reason (:func:`_centroid_sims`)
    if not centroids:
        # no clusters to profile: empty report (degenerate-lake rule)
        return (
            corpus.where(F.lit(False))
            .select(
                F.lit(None).cast("long").alias("cluster_id"),
                F.lit(None).cast("long").alias("n_vectors"),
                F.lit(None).cast("double").alias("mean_cos"),
            )
        )
    sims = _centroid_sims("embedding", "__nrm", centroids)
    assigned = (
        corpus.selectExpr("embedding", f"{norm_sql('embedding')} AS __nrm")
        .selectExpr(f"array_min({sims}) AS __best")
        .selectExpr(
            "__best.cid AS cluster_id",
            f"CAST(round(-__best.neg * {float(scale)!r}D) AS BIGINT) AS __qc",
        )
    )
    return (
        assigned
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum("__qc").cast("long").alias("__sq"),
        )
        .select(
            F.col("cluster_id").cast("long"),
            "n_vectors",
            F.round(
                F.col("__sq").cast("double")
                / (F.lit(scale).cast("long") * F.col("n_vectors")).cast("double"),
                6,
            ).alias("mean_cos"),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_lists: int = 8,
    n_probe: int = 2,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: each query probes its ``n_probe`` nearest
    centroid lists and ranks only those lists' vectors.

    Plan shape (the 100 TB story): corpus assignment is map-only; the probe
    pairs (|queries|·n_probe rows) broadcast; the candidate join is a
    broadcast hash join on ``list_id`` — the corpus is never shuffled and
    never fully scanned per query; the only exchange is the final per-query
    top-k window. Recall/cost dial: n_probe/n_lists fraction of the corpus
    scanned per query (n_lists ~ sqrt(N) and n_probe 1-10% of n_lists are
    the classic FAISS-style settings)."""
    cents = centroids if centroids is not None else ivf_centroids(
        corpus, n_lists=n_lists
    )
    if not cents:
        # no lists to probe: empty result with the output schema
        return (
            queries.select("query_id")
            .where(F.lit(False))
            .select(
                "query_id",
                F.lit(None).cast("long").alias("neighbor_id"),
                F.lit(None).cast("double").alias("cosine_sim"),
                F.lit(None).cast("int").alias("rnk"),
            )
        )
    assigned = ivf_assign(
        ensure_parallelism(corpus).select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
        ),
        cents,
        vec_col="c_vec",
    ).withColumn("c_nrm", norm("c_vec"))
    # per-query probe lists: sort (−sim, cid) structs, take first n_probe
    q = queries.select(
        "query_id", F.col("embedding").alias("q_vec")
    ).withColumn("q_nrm", norm("q_vec"))
    probes = _probe_lists(q, cents, n_probe=n_probe)
    scored = (
        assigned.join(F.broadcast(probes), "list_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            # per-row norms precomputed above: one dot per candidate pair
            F.round(
                dot("q_vec", "c_vec") / (F.col("q_nrm") * F.col("c_nrm")), 6
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rnk")
    )


# --------------------------------------------------------------------------
# PQ (product quantization) — the compressed-corpus ANN scale path
# --------------------------------------------------------------------------

def pq_codebook(
    corpus: DataFrame,
    *,
    k: int = 16,
) -> list[list[float]]:
    """Deterministic PQ 'training': the ``k`` corpus vectors with the
    smallest ``md5(id)`` become the shared codeword pool; codeword ``c`` of
    subspace ``j`` is the ``j``-th slice of pool vector ``c``. (Production
    PQ runs k-means per subspace — :func:`kmeans_refine` shows that shape;
    the md5 sample is the standard init and keeps the whole index exactly
    oracle-checkable.) Driver-side collect is ``k`` rows — KBs.

    Returns the pool ordered by (md5(id), id): index in the list IS the
    code id, mirrored by ``row_number() OVER (ORDER BY md5(id), id) - 1``
    in the SQL oracle."""
    rows = (
        corpus.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
        .orderBy(F.md5(F.col("cid").cast("string")).asc(), F.col("cid").asc())
        .limit(k)
        .collect()
    )
    return [[float(v) for v in r["cv"]] for r in rows]


def _pq_cb_subspace_sql(codebook: list[list[float]], j: int, subdim: int) -> str:
    """Literal ``array<array<double>>`` of subspace ``j``'s codewords."""
    words = []
    for w in codebook:
        vals = ", ".join(f"{float(w[j * subdim + i])!r}D" for i in range(subdim))
        words.append(f"array({vals})")
    return "array(" + ", ".join(words) + ")"


def pq_subdist_sql(vec_sql: str, cbj_sql: str, code1_sql: str, j: int, subdim: int) -> str:
    """Spark-SQL text for the FIXED-POINT squared L2 distance between
    subspace ``j`` of ``vec_sql`` and codeword ``code1_sql`` (1-based) of
    the literal subspace codebook ``cbj_sql``: a sequential
    ``zip_with``/``aggregate`` fold (left-associative, starting at 0 — the
    exact IEEE order of the oracle's explicit ``+`` chain), scaled x1e6 and
    rounded to BIGINT. Integer distances make every downstream sum/argmin
    associativity-free — the same trick :func:`kmeans_refine` uses for
    exact cross-engine parity. HOF loops (not unrolled literals) keep the
    generated bytecode far below the JVM's 64 KB method limit, so the
    whole pipeline stays inside whole-stage codegen."""
    u = _u()
    return (
        f"CAST(round(aggregate(zip_with(slice({vec_sql}, {j * subdim + 1}, {subdim}), "
        f"element_at({cbj_sql}, {code1_sql}), (x{u}, y{u}) -> "
        f"(CAST(x{u} AS DOUBLE) - y{u}) * (CAST(x{u} AS DOUBLE) - y{u})), 0D, "
        f"(a{u}, v{u}) -> a{u} + v{u}) * 1000000) AS BIGINT)"
    )


def pq_encode(
    corpus: DataFrame,
    codebook: list[list[float]],
    *,
    m: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector into ``m`` sub-codes (nearest codeword per
    subspace, fixed-point distances, ties to the lowest code id via struct
    ``array_min``). Pure column expressions over codeword literals — ZERO
    shuffles, embarrassingly parallel at 100 TB, and the encoded corpus is
    ``m`` BYTES per row (codes are TINYINT, valid for codebooks up to 128
    codewords) instead of dim floats — 8 B vs 256 B for a 64-dim float32
    vector, the 32x compression that lets a 1000-executor cluster hold a
    trillion-vector index in RAM."""
    if not codebook:
        # empty training set -> no codewords: encode NOTHING (empty frame
        # with the codes column), the degenerate-lake rule
        return (
            ensure_parallelism(corpus)
            .where(F.lit(False))
            .withColumn("codes", F.lit(None).cast("array<tinyint>"))
        )
    dim = len(codebook[0])
    if dim % m:
        raise ValueError(f"m={m} must divide the vector dim {dim}")
    k = len(codebook)
    if k > 128:  # codes are 0..k-1; 127 is the TINYINT max
        raise ValueError("codebook larger than 128 needs a wider code type")
    subdim = dim // m
    code_cols = []
    for j in range(m):
        cbj = _pq_cb_subspace_sql(codebook, j, subdim)
        u = _u()
        sd = pq_subdist_sql(vec_col, cbj, f"c{u} + 1", j, subdim)
        code_cols.append(
            F.expr(
                f"array_min(transform(sequence(0, {k - 1}), c{u} -> "
                f"named_struct('d', {sd}, 'c', c{u}))).c"
            ).cast("tinyint")
        )
    return ensure_parallelism(corpus).withColumn("codes", F.array(*code_cols))


def pq_adc_topk(
    encoded: DataFrame,
    queries: DataFrame,
    codebook: list[list[float]],
    *,
    k: int = 10,
    m: int = 8,
) -> DataFrame:
    """Asymmetric-distance (ADC) PQ search: rank the encoded corpus by the
    sum over subspaces of the distance between the QUERY's subvector and
    the codeword the NEIGHBOR chose — the FAISS ADC scan.

    Plan shape: the per-query distance tables (m x |codebook| fixed-point
    ints) are expressions over the broadcast query vector, so the scan is a
    broadcast-nested-loop over the encoded corpus with a per-row lookup
    ``element_at(table_j, code_j + 1)`` and an integer-chain sum — the
    corpus is never shuffled, never decoded, and only the final per-query
    top-k exchanges. The full-precision vectors are NOT read by this scan
    (column pruning drops them): at 100 TB the scan touches only the 8-byte
    code column."""
    if not codebook:
        # no codewords -> no distance tables: empty result (degenerate rule)
        return (
            queries.select("query_id")
            .where(F.lit(False))
            .select(
                "query_id",
                F.lit(None).cast("long").alias("neighbor_id"),
                F.lit(None).cast("double").alias("approx_dist"),
                F.lit(None).cast("int").alias("rnk"),
            )
        )
    dim = len(codebook[0])
    if dim % m:
        raise ValueError(f"m={m} must divide the vector dim {dim}")
    subdim = dim // m
    q = F.broadcast(
        queries.select(
            "query_id", F.col("embedding").alias("q_vec")
        )
    )
    approx = None
    for j in range(m):
        cbj = _pq_cb_subspace_sql(codebook, j, subdim)
        term = F.expr(
            pq_subdist_sql(
                "q_vec", cbj, f"element_at(codes, {j + 1}) + 1", j, subdim
            )
        )
        approx = term if approx is None else approx + term
    scored = (
        encoded.select(F.col("vec_id").alias("neighbor_id"), "codes")
        .crossJoin(q)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(approx.cast("double") / 1000000.0, 6).alias("approx_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "approx_dist", "rnk")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebook: list[list[float]],
    *,
    k: int = 10,
    rerank: int = 20,
    n_probe: int = 2,
    m: int = 8,
) -> DataFrame:
    """IVF+PQ composed ANN with exact re-ranking — the full FAISS-style
    architecture, assembled from this module's pieces:

    1. IVF routing: each query probes its ``n_probe`` nearest centroid
       lists (broadcast probe pairs; corpus never shuffled).
    2. ADC scan: candidates in probed lists are ranked by the compressed
       PQ distance — integer-exact, reads codes not vectors.
    3. Re-rank: the top ``rerank`` survivors per query are re-scored at
       full precision (one broadcast join back to the vector column) and
       the final top ``k`` returned, comparable to the other ANN paths.

    At 100 TB this is THE serving shape: the big scan touches n_probe /
    n_lists of an m-byte-per-vector index, and full-precision vectors are
    fetched for |queries|·rerank rows only (here via a broadcast join; a
    real deployment point-looks-up a vector store). Every stage is
    deterministic, so the composition has an exact DuckDB oracle."""
    if not centroids or not codebook:
        # empty index (no lists and/or no codewords): empty result with
        # the output schema (degenerate-lake rule)
        return (
            queries.select("query_id")
            .where(F.lit(False))
            .select(
                "query_id",
                F.lit(None).cast("long").alias("neighbor_id"),
                F.lit(None).cast("double").alias("cosine_sim"),
                F.lit(None).cast("int").alias("rnk"),
            )
        )
    assigned = ivf_assign(
        ensure_parallelism(corpus).select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
        ),
        centroids,
        vec_col="c_vec",
    )
    enc = pq_encode(assigned, codebook, m=m, vec_col="c_vec").select(
        "neighbor_id", "list_id", "codes"
    )

    q = queries.select(
        "query_id", F.col("embedding").alias("q_vec")
    ).withColumn("q_nrm", norm("q_vec"))
    probes = _probe_lists(q, centroids, n_probe=n_probe)

    dim = len(codebook[0])
    subdim = dim // m
    di = None
    for j in range(m):
        cbj = _pq_cb_subspace_sql(codebook, j, subdim)
        term = F.expr(
            pq_subdist_sql("q_vec", cbj, f"element_at(codes, {j + 1}) + 1", j, subdim)
        )
        di = term if di is None else di + term
    wa = Window.partitionBy("query_id").orderBy(
        F.col("__di").asc(), F.col("neighbor_id").asc()
    )
    survivors = (
        enc.join(F.broadcast(probes), "list_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("__di", di)
        .withColumn("__rn", F.row_number().over(wa))
        .where(F.col("__rn") <= rerank)
        .select("query_id", "neighbor_id", "q_vec", "q_nrm")
    )

    full = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("r_vec")
    ).withColumn("r_nrm", norm("r_vec"))
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        full.join(F.broadcast(survivors), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot("q_vec", "r_vec") / (F.col("q_nrm") * F.col("r_nrm")), 6
            ).alias("cosine_sim"),
        )
        .withColumn("rnk", F.row_number().over(wr))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rnk")
    )


def rp_project_sql(vec_sql: str, planes: list[list[int]]) -> str:
    """Spark-SQL text projecting ``vec_sql`` onto deterministic ±1
    hyperplanes (:func:`hyperplanes`) — the Achlioptas/JL random
    projection, as one HOF loop over a literal plane matrix (array
    constructors keep generated bytecode tiny where an unrolled
    per-dimension expression tree would blow the JVM 64 KB codegen
    limit). Output: ``array<double>`` of ``len(planes)`` dots, each a
    sequential left fold — IEEE-identical to the oracle's explicit
    left-associative chains. Map-only: dimensionality reduction at 100 TB
    is a projection inside the scan, no shuffle, no driver state."""
    planes_lit = "array(" + ", ".join(
        "array(" + ", ".join(f"{v}.0D" for v in row) + ")" for row in planes
    ) + ")"
    u = _u()
    return (
        f"transform({planes_lit}, rp{u}p -> "
        f"aggregate(zip_with({vec_sql}, rp{u}p, (rp{u}x, rp{u}y) -> "
        f"CAST(rp{u}x AS DOUBLE) * rp{u}y), 0D, "
        f"(rp{u}a, rp{u}v) -> rp{u}a + rp{u}v))"
    )


def sq_encode(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization (the FAISS
    ``SQ8``-style storage path): ``scale = max|x| / 127`` (1 for the zero
    vector), ``codes[i] = round(x[i] / scale)`` ∈ [-127, 127], plus the
    integer code norm the asymmetric scan divides by.

    The per-VECTOR scale cancels out of cosine similarity — cos(q, scale·c)
    = cos(q, c) — so :func:`sq_topk` scores queries directly against the
    integer codes and never needs the scale at serving time. Map-only
    (zero shuffles): the same class of zero-shuffle signature stage as
    minhash/pq_encode, and at 100 TB the persisted (id, int8-codes, norm)
    index is ~4x smaller scan IO than the float32 vectors."""
    u = _u()
    mx = F.expr(
        f"aggregate({vec_col}, 0D, (sq{u}a, sq{u}x) -> "
        f"greatest(sq{u}a, abs(CAST(sq{u}x AS DOUBLE))))"
    )
    out = corpus.withColumn(
        "__sq_scale",
        F.when(mx == 0.0, F.lit(1.0)).otherwise(mx / 127.0),
    )
    v = _u()
    return out.withColumn(
        "codes",
        F.expr(
            f"transform({vec_col}, sq{v}v -> "
            f"CAST(round(CAST(sq{v}v AS DOUBLE) / __sq_scale) AS INT))"
        ),
    ).drop("__sq_scale")


def sq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    rerank: int = 20,
) -> DataFrame:
    """Scalar-quantized ANN with exact re-ranking — the int8 serving path
    that completes the compression spectrum beside :func:`pq_adc_topk`
    (SQ keeps per-dimension resolution at 1 byte/dim; PQ trades dimensions
    for codebook bits at ~1 bit/dim).

    1. Asymmetric scan: float queries (broadcast) score against the int8
       code vectors — the per-vector scale cancels in cosine, so
       ``approx_sim = dot(q, codes) / (|q|·|codes|)`` needs only the codes.
       Corpus is never shuffled; only the per-query top-``rerank`` window
       exchanges.
    2. Re-rank: survivors are re-scored at full precision via one
       broadcast join back to the float vectors; final top ``k`` matches
       the output shape of every other ANN path.

    Here encode fuses into the scan (one map stage over the parquet
    scan); a deployment persists :func:`sq_encode`'s output once and the
    serving scan reads 1/4 the bytes. Deterministic end-to-end (fixed
    IEEE fold order, 6-dp rounding, id tie-breaks) → exact DuckDB oracle."""
    enc = sq_encode(
        ensure_parallelism(corpus).select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
        ),
        vec_col="c_vec",
    ).select("neighbor_id", "codes")
    enc = enc.withColumn("code_nrm", norm("codes"))
    q = F.broadcast(
        queries.select(
            "query_id", F.col("embedding").alias("q_vec")
        ).withColumn("q_nrm", norm("q_vec"))
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id").asc()
    )
    survivors = (
        enc.crossJoin(q)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "q_vec",
            "q_nrm",
            F.round(
                dot("q_vec", "codes") / (F.col("q_nrm") * F.col("code_nrm")), 6
            ).alias("approx_sim"),
        )
        .withColumn("__rn", F.row_number().over(wa))
        .where(F.col("__rn") <= rerank)
        .select("query_id", "neighbor_id", "q_vec", "q_nrm")
    )
    full = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("r_vec")
    ).withColumn("r_nrm", norm("r_vec"))
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        full.join(F.broadcast(survivors), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot("q_vec", "r_vec") / (F.col("q_nrm") * F.col("r_nrm")), 6
            ).alias("cosine_sim"),
        )
        .withColumn("rnk", F.row_number().over(wr))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rnk")
    )


def recall_vs_exact(
    approx: DataFrame,
    exact: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact baseline —
    the ONE definition every index eval (IVF, refined IVF, PQ, IVF+PQ)
    shares, so the metrics stay comparable by construction. Both inputs
    must carry (query_id, neighbor_id); ``queries`` supplies the per-query
    left spine so zero-hit queries still report recall 0.

    Both sides are capped at their top ``k`` via the ``rnk`` column when
    present — the same ``rn <= k`` cut the SQL twin (``dd_recall_tail``)
    applies, so an over-full ranking (e.g. a k=20 search scored at k=10)
    cannot push recall past 1.0 on one engine only."""
    if "rnk" in approx.columns:
        approx = approx.where(F.col("rnk") <= k)
    if "rnk" in exact.columns:
        exact = exact.where(F.col("rnk") <= k)
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(
            exact.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        queries.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(F.coalesce(F.col("n"), F.lit(0)) / float(k), 6).alias(
                f"recall_at_{k}"
            ),
        )
    )


def knn_graph(
    corpus: DataFrame,
    *,
    k: int = 5,
    n_lists: int | None = None,
    n_probe: int = 2,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH: top-``k`` neighbors for EVERY
    corpus vector, via IVF candidate bucketing. The all-vectors analogue of
    :func:`ivf_topk` — the structure behind kNN-based label-noise audits,
    graph clustering, and diversity/coreset selection over embeddings.

    Returns ``(query_id, neighbor_id, cosine_sim, rnk)`` with rnk ≤ k,
    cosine rounded to 6 dp before ranking, ties to the lowest neighbor id.

    100 TB shape — deliberately different from ivf_topk's: there the probe
    side (a handful of queries) broadcasts and the corpus is never
    shuffled; here BOTH sides are the corpus, so nothing broadcasts.
    Instead each side is keyed by ``list_id`` (index side: nearest list;
    probe side: ``n_probe`` nearest lists — both zero-shuffle map stages
    over centroid literals) and candidates come from ONE co-partitioned
    shuffle join on that key. Candidate volume is Σ_l probe_l·|list_l| ≈
    N²·n_probe/n_lists, so n_lists must scale ~sqrt(N) (the FAISS rule)
    to keep it ~N^1.5 — and since r12 the DEFAULT does exactly that:
    ``n_lists=None`` sizes the index via :func:`auto_n_lists` from the
    corpus count (registered queries pass their oracle-pinned value
    instead); hot lists from a skewed embedding distribution are split by
    the session's AQE skew-join at runtime.
    """
    cents = centroids if centroids is not None else ivf_centroids(
        corpus, n_lists=n_lists
    )
    if not cents:
        # empty corpus -> no index lists: an empty edge set (degenerate rule)
        return (
            corpus.select(F.col("vec_id").alias("query_id"))
            .where(F.lit(False))
            .select(
                "query_id",
                F.lit(None).cast("long").alias("neighbor_id"),
                F.lit(None).cast("double").alias("cosine_sim"),
                F.lit(None).cast("int").alias("rnk"),
            )
        )
    par = ensure_parallelism(corpus)
    indexed = ivf_assign(
        par.select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
        ),
        cents,
        vec_col="c_vec",
    )
    indexed = indexed.withColumn("c_nrm", norm("c_vec"))
    # probe side shares the parallelism guard: at auto-scaled n_lists the
    # per-row probe loop is the compute-heavy map stage (k·dim flops/row)
    # and must not run on a handful of scan splits
    q = par.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    ).withColumn("q_nrm", norm("q_vec"))
    probes = _probe_lists(q, cents, n_probe=n_probe)
    scored = (
        indexed.join(probes, "list_id")  # co-partitioned shuffle join — see above
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot("q_vec", "c_vec") / (F.col("q_nrm") * F.col("c_nrm")), 6
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
    )


def dim_correlations(
    df: DataFrame,
    vec_col: str = "embedding",
    *,
    dim: int,
    top: int = 20,
    scale: int = 1_000_000,
) -> DataFrame:
    """Pearson correlation audit across embedding DIMENSIONS — the
    representation-health check a pipeline runs before trusting a new
    encoder: highly correlated dimension pairs mean redundant capacity
    (the effective dimensionality is lower than ``dim``), and it is the
    planning input for dimension-dropping compression. Returns the
    ``top`` pairs by |corr| as (dim_i, dim_j, corr, rnk), 1-based dims,
    ties to the lexicographically first pair.

    Exactness device: elements are fixed-point encoded
    ``v = round(x · scale)`` (half away from zero — Spark round, DuckDB
    round, and the numpy kernel all agree), so every moment —
    Σv, Σv², Σv_i·v_j — is an exact integer and immune to summation
    order; the only doubles are the final correlation ratio, computed
    with identical operation order on both engines and rounded to 6 dp.
    Overflow headroom (r10 audit): the per-BATCH numpy Gram is int64
    (safe — Arrow batches are ~10⁴ rows, so a batch partial tops out
    near scale²·10⁴ ≈ 10¹⁶), and the cross-batch / cross-row SUMS
    accumulate as DECIMAL(38,0) (DuckDB mirrors with HUGEINT), which
    removes the former N ≈ 9e6-row int64 ceiling entirely — headroom is
    now ~10³⁸/scale² ≈ 10²⁶ rows.

    100 TB plan: the d×d Gram accumulation is a classic mergeable
    aggregate — the Arrow-batched numpy kernel (``X.T @ X`` on int64)
    emits ONE d(d−1)/2-row partial per batch, partials combine
    map-side, and the final exchange carries d² cells regardless of
    corpus size. Per-dimension moments ride an ordinary
    posexplode + groupBy (map-side combined, 64 final rows); the
    assembly join is metadata-sized."""
    d = dim
    worker_preamble = make_worker_preamble()

    def gram_partials(batches):
        # site-package imports INSIDE the closure: executors outside the
        # repo dir must never resolve names through this module's globals
        worker_preamble()
        import numpy as np
        import pandas as pd

        for pdf in batches:
            vecs = pdf["__v"].to_numpy()
            x64 = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
            y = x64 * float(scale)
            v = (np.sign(y) * np.floor(np.abs(y) + 0.5)).astype(np.int64)
            g = v.T @ v  # exact int64 Gram for this batch
            iu, ju = np.triu_indices(d, k=1)
            yield pd.DataFrame(
                {"i": iu + 1, "j": ju + 1, "s": g[iu, ju]}
            )

    base = ensure_parallelism(df).select(F.col(vec_col).alias("__v"))
    pair_sums = (
        base.mapInPandas(gram_partials, schema="i int, j int, s long")
        .groupBy("i", "j")
        .agg(F.sum(F.col("s").cast("decimal(38,0)")).alias("sxy"))
    )

    fp = base.select(
        F.posexplode("__v").alias("__i0", "__x")
    ).select(
        (F.col("__i0") + 1).alias("i"),
        F.round(F.col("__x").cast("double") * scale)
        .cast("long")
        .alias("v"),
    )
    moments = fp.groupBy("i").agg(
        F.sum(F.col("v").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("v").cast("decimal(19,0)") * F.col("v")).alias("sxx"),
    )
    n1 = base.agg(F.count(F.lit(1)).cast("long").alias("n"))

    ma = moments.select(
        F.col("i"), F.col("sx").alias("sxa"), F.col("sxx").alias("sxxa")
    )
    mb = moments.select(
        F.col("i").alias("j"), F.col("sx").alias("sxb"), F.col("sxx").alias("sxxb")
    )
    corr = (
        pair_sums.join(F.broadcast(ma), "i")
        .join(F.broadcast(mb), "j")
        .crossJoin(F.broadcast(n1))
        .select(
            F.col("i").alias("dim_i"),
            F.col("j").alias("dim_j"),
            # zero-variance guard: n*sxx - sx^2 = 0 on constant (or
            # single-row) dimensions; Spark ANSI aborts double x/0 where
            # DuckDB yields NULL (degenerate-lake rule)
            F.when(
                (
                    F.col("n").cast("double") * F.col("sxxa").cast("double")
                    - F.col("sxa").cast("double") * F.col("sxa").cast("double")
                    > 0
                )
                & (
                    F.col("n").cast("double") * F.col("sxxb").cast("double")
                    - F.col("sxb").cast("double") * F.col("sxb").cast("double")
                    > 0
                ),
                F.round(
                    (
                        F.col("n").cast("double") * F.col("sxy").cast("double")
                        - F.col("sxa").cast("double") * F.col("sxb").cast("double")
                    )
                    / (
                        F.sqrt(
                            F.col("n").cast("double") * F.col("sxxa").cast("double")
                            - F.col("sxa").cast("double") * F.col("sxa").cast("double")
                        )
                        * F.sqrt(
                            F.col("n").cast("double") * F.col("sxxb").cast("double")
                            - F.col("sxb").cast("double") * F.col("sxb").cast("double")
                        )
                    ),
                    6,
                ),
            ).alias("corr"),
        )
    )
    topped = corr.orderBy(
        F.abs(F.col("corr")).desc(), F.col("dim_i").asc(), F.col("dim_j").asc()
    ).limit(top)
    w = Window.orderBy(
        F.abs(F.col("corr")).desc(), F.col("dim_i").asc(), F.col("dim_j").asc()
    )
    return topped.withColumn("rnk", F.row_number().over(w).cast("int"))


#: kcenter_greedy's cap on ``k``: each center is one driver round-trip.
KCENTER_MAX_K = 4096


def kcenter_greedy(
    df: DataFrame,
    *,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1_000_000,
) -> list[tuple[int, int, int]]:
    """Greedy k-center (Gonzalez' 2-approximation) — the DIVERSITY
    sampling / coreset primitive: iteratively pick the point farthest
    from everything chosen so far. The selection-gap sequence is the
    coverage-radius curve a curation pipeline reads to size a coreset.

    Returns [(rank 1-based, center_id, gap_fp)]: ``gap_fp`` is the
    fixed-point squared L2 distance (×scale, BIGINT) from the chosen
    point to the previously-chosen set (0 for the seed, which is the
    lowest id — deterministic, no RNG).

    Inherently sequential (k driver round-trips of ONE row each, like
    ivf_centroids/kmeans_refine); the corpus-side work stays fully
    distributed: per iteration one map-only projection computes
    min-distance-to-centers via a SINGLE nested HOF over a k×dim
    literal array (bytecode stays tiny regardless of k — the PQ 64 KB
    codegen lesson) and one TakeOrdered(1) picks the argmax. Distances
    are ``round(Σ(a−b)²·scale)`` BIGINTs folded LEFT-TO-RIGHT, so
    argmax ties and the whole selection sequence are bit-reproducible
    cross-engine (the DuckDB oracle unrolls the same chain).

    ``k`` is capped: each center is one driver round-trip, so an
    accidental k=10⁵ call would hang the driver loop for hours. Coresets
    past ~4k centers belong to kmeans (one round-trip per ITERATION,
    not per center) — raise ``KCENTER_MAX_K`` deliberately if a bigger
    greedy selection is truly intended."""
    if k > KCENTER_MAX_K:
        raise ValueError(
            f"kcenter_greedy k={k} exceeds max_k={KCENTER_MAX_K}: each center "
            "is one driver round-trip; use kmeans/ivf_centroids for large "
            "center counts or pass a deliberate smaller k"
        )
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    )
    base = base.localCheckpoint(eager=True)

    seed_rows = base.orderBy("__id").limit(1).collect()
    if not seed_rows:
        # empty corpus: nothing to select (degenerate-lake rule)
        return []
    seed = seed_rows[0]
    centers: list[tuple[int, list[float], int]] = [(seed["__id"], list(seed["__v"]), 0)]

    def centers_lit_sql() -> str:
        rows = []
        for _, vec, _ in centers:
            rows.append("array(" + ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in vec) + ")")
        return "array(" + ", ".join(rows) + ")"

    for _ in range(1, k):
        u = _u()
        dmin = (
            f"array_min(transform({centers_lit_sql()}, kc{u} -> "
            f"CAST(round(aggregate(zip_with(__v, kc{u}, "
            f"(kx{u}, ky{u}) -> (CAST(kx{u} AS DOUBLE) - ky{u}) * "
            f"(CAST(kx{u} AS DOUBLE) - ky{u})), CAST(0.0 AS DOUBLE), "
            f"(ka{u}, kt{u}) -> ka{u} + kt{u}) * {scale}) AS BIGINT)))"
        )
        nxt = (
            base.select("__id", "__v", F.expr(dmin).alias("__d"))
            .orderBy(F.col("__d").desc(), F.col("__id").asc())
            .limit(1)
            .collect()[0]
        )
        centers.append((nxt["__id"], list(nxt["__v"]), nxt["__d"]))
    return [(i + 1, cid, gap) for i, (cid, _, gap) in enumerate(centers)]


def gram_moments(
    df: DataFrame,
    vec_col: str = "embedding",
    *,
    dim: int,
    scale: int = 1_000_000,
) -> tuple[int, list[int], dict[tuple[int, int], int]]:
    """Exact fixed-point moment accumulation for spectral analysis:
    returns ``(n, s, g)`` with ``s[i] = Σ v_i`` (length ``dim``) and
    ``g[(i, j)] = Σ v_i·v_j`` for the upper triangle INCLUDING the
    diagonal (0-based dims), where ``v = round(x · scale)`` — the same
    half-away-from-zero fixed-point encoding as :func:`dim_correlations`,
    so every moment is an exact BIGINT immune to summation order.

    This is the distributed half of PCA: the d×d Gram + first moments
    are a classic mergeable aggregate (one Arrow-batched ``X.T @ X`` on
    int64 per batch, partials combined map-side, final exchange carries
    d(d+1)/2 + d + 1 cells regardless of corpus size); the driver-side
    eigensolve that follows operates on METADATA (d×d), which is how
    production distributed PCA is actually structured.  Overflow
    headroom matches dim_correlations: int64-safe to ~9e6 rows per
    partial at scale=1e6 for unit-normalized inputs; beyond that drop
    scale a decade.
    """
    d = dim
    worker_preamble = make_worker_preamble()

    def partials(batches):
        # site-package imports INSIDE the closure: executors outside the
        # repo dir must never resolve names through this module's globals
        worker_preamble()
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = pdf["__v"].to_numpy()
            x64 = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
            y = x64 * float(scale)
            v = (np.sign(y) * np.floor(np.abs(y) + 0.5)).astype(np.int64)
            g = v.T @ v  # exact int64 Gram for this batch
            iu, ju = np.triu_indices(d, k=0)
            out = pd.DataFrame({"i": iu, "j": ju, "s": g[iu, ju]})
            first = pd.DataFrame(
                {"i": range(d), "j": [-1] * d, "s": v.sum(axis=0)}
            )
            cnt = pd.DataFrame({"i": [-1], "j": [-1], "s": [len(pdf)]})
            yield pd.concat([out, first, cnt], ignore_index=True)

    base = ensure_parallelism(df).select(F.col(vec_col).alias("__v"))
    rows = (
        base.mapInPandas(partials, schema="i int, j int, s long")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
        .collect()
    )
    n = 0
    s = [0] * d
    g: dict[tuple[int, int], int] = {}
    for r in rows:
        if r["i"] == -1:
            n = int(r["s"])
        elif r["j"] == -1:
            s[r["i"]] = int(r["s"])
        else:
            g[(r["i"], r["j"])] = int(r["s"])
    return n, s, g
