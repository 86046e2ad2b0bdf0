"""IVF (inverted-file) ANN queries — the centroid-partitioned similarity
path that complements the LSH tier (operators/similarity.py).

IVF is the classic FAISS-style scale architecture: partition the corpus
into n_lists centroid cells ("training" + assignment), then answer each
query by scanning only its n_probe nearest cells. Here training is a
deterministic md5-ordered sample (reproducible in SQL, so the whole index
build + search pipeline gets an exact DuckDB oracle), assignment is a
zero-shuffle map stage over centroid literals, and search is a broadcast
hash join on list_id — the corpus is never shuffled.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from py_datalake_move_files_spark.operators import similarity as SIM
from py_datalake_move_files_spark.oracle_ivf import (  # noqa: F401
    IVF_PRELUDE as _IVF_PRELUDE,
    N_LISTS,
    N_PROBE,
)
from py_datalake_move_files_spark.oracle_frags import dd_recall_tail
from py_datalake_move_files_spark.queries import dd_cosine, register, _t  # noqa: F401

#: centroid cache keyed on the table SNAPSHOT (path+mtime+size, see
#: catalog.table_snapshot) — centroid selection is deterministic
#: (md5-ordered sample), so re-collecting it on every query invocation
#: would just repeat an identical Spark job; an IVF deployment trains
#: once and reuses the index across queries, mirrored here. The snapshot
#: key means rewriting data under the same path retrains instead of
#: serving a stale index (ADVICE r4).
_CENTROIDS: dict[tuple, list[tuple[int, list[float]]]] = {}


def _centroids(spark, sf_dir: str, n_lists: int = N_LISTS):
    """Snapshot- AND list-count-keyed trained-centroid cache. The single
    cache for every tier (serving n_lists=8, kNN graph n_lists=16 —
    queries_knn delegates here), so cache-invalidation semantics can
    never diverge between tiers."""
    from py_datalake_move_files_spark.catalog import table_snapshot

    key = (table_snapshot(sf_dir, "embeddings"), n_lists)
    if key not in _CENTROIDS:
        _CENTROIDS[key] = SIM.ivf_centroids(
            _t(spark, sf_dir, "embeddings"), n_lists=n_lists
        )
    return _CENTROIDS[key]



@register(
    "ivf_list_sizes",
    _IVF_PRELUDE
    + """
SELECT list_id, CAST(count(*) AS BIGINT) AS n_vectors
FROM asg GROUP BY list_id
""",
)
def q_ivf_list_sizes(spark, sf_dir):
    """IVF index build check: vectors per inverted list. The balance of this
    histogram is THE operational metric for IVF at scale (hot lists = slow
    probes); the assignment stage itself is shuffle-free (plan-pinned)."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = _centroids(spark, sf_dir)
    return (
        SIM.ivf_assign(emb, cents)
        .groupBy("list_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    )


@register(
    "ann_ivf_topk",
    _IVF_PRELUDE
    + f""",
probes AS (
  SELECT vec_id AS query_id, cid AS list_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
    FROM sc WHERE vec_id < 5
  ) WHERE rn <= {N_PROBE}
),
qv AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
    {dd_cosine('q.q_vec', 'a.embedding')} AS cosine_sim
  FROM probes p
  JOIN asg a USING (list_id)
  JOIN qv q ON p.query_id = q.query_id
  WHERE a.vec_id <> p.query_id
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rn
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, CAST(rn AS INT) AS rnk
FROM r WHERE rn <= 10
""",
)
def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN search: same query set and output shape as ann_brute_force /
    ann_lsh_bucketed, so the three similarity paths are directly comparable.
    Each query scans ~n_probe/n_lists of the corpus (here 2/8)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.ivf_topk(
        emb, queries, k=10, n_lists=N_LISTS, n_probe=N_PROBE,
        centroids=_centroids(spark, sf_dir),
    )


@register(
    "ann_recall_ivf",
    _IVF_PRELUDE
    + f""",
probes AS (
  SELECT vec_id AS query_id, cid AS list_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
    FROM sc WHERE vec_id < 5
  ) WHERE rn <= {N_PROBE}
),
qv AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
ivf_scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
    {dd_cosine('q.q_vec', 'a.embedding')} AS cosine_sim
  FROM probes p
  JOIN asg a USING (list_id)
  JOIN qv q ON p.query_id = q.query_id
  WHERE a.vec_id <> p.query_id
),
ivf_r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rn
  FROM ivf_scored
)
"""
    + dd_recall_tail("ivf_r"),
)
def q_ann_recall_ivf(spark, sf_dir):
    """Recall@10 of the IVF index against the exact brute-force baseline —
    the standard ANN quality metric, and the eval a training pipeline runs
    before trusting an approximate index for hard-negative mining or
    near-dup retrieval.

    Both arms are deterministic (md5-sampled centroids, rounded cosine,
    id tie-breaks), so the whole evaluation has an exact DuckDB oracle.
    Plan shape: the exact arm is the broadcast-queries BNLJ scan, the IVF
    arm probes n_probe/n_lists of the corpus, the comparison is a
    left-semi join on (query_id, neighbor_id) over 2x50 rows and a
    5-group aggregate — evaluation cost is dominated by the exact arm,
    which at 100 TB you run on a SAMPLE of queries (here all 5)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf = SIM.ivf_topk(
        emb, queries, k=10, n_lists=N_LISTS, n_probe=N_PROBE,
        centroids=_centroids(spark, sf_dir),
    )
    exact = SIM.brute_force_topk(emb, queries, k=10)
    return SIM.recall_vs_exact(ivf, exact, queries, k=10)


# --- Lloyd's k-means refinement over the IVF init -------------------------

_KMEANS_ITERS = 2
_KM_SCALE = 1_000_000

#: refined-centroid cache, snapshot-keyed like _CENTROIDS: training runs
#: once per corpus snapshot (iters small jobs), queries reuse the refined
#: index; a rewrite under the same path retrains
_KM_CENTROIDS: dict[tuple, list[tuple[int, list[float]]]] = {}


def _kmeans_centroids(spark, sf_dir: str):
    from py_datalake_move_files_spark.catalog import table_snapshot

    key = table_snapshot(sf_dir, "embeddings")
    if key not in _KM_CENTROIDS:
        emb = _t(spark, sf_dir, "embeddings")
        _KM_CENTROIDS[key] = SIM.kmeans_refine(
            emb, _centroids(spark, sf_dir), iters=_KMEANS_ITERS, scale=_KM_SCALE
        )
    return _KM_CENTROIDS[key]


def _kmeans_ctes() -> list[str]:
    """CTE chain c0 -> asg/upd per round -> c{_KMEANS_ITERS}: the refined
    centroid table every kmeans-derived oracle builds on."""
    from py_datalake_move_files_spark.queries import EMB_DIM

    sc = float(_KM_SCALE)
    parts = [
        f"""c0 AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {N_LISTS}
)"""
    ]
    for i in range(_KMEANS_ITERS):
        parts.append(
            f"""sc{i} AS (
  SELECT e.vec_id, e.embedding, c.cid, {dd_cosine('e.embedding', 'c.cv')} AS s
  FROM embeddings e CROSS JOIN c{i} c
),
asg{i} AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
    FROM sc{i}) WHERE rn = 1
),
upd{i} AS (
  SELECT cid, idx,
    CAST(sum(CAST(round(CAST(v AS DOUBLE) * {sc}) AS BIGINT)) AS BIGINT) AS sq,
    count(*) AS nv
  FROM (SELECT cid, unnest(embedding) AS v,
               unnest(range(1, {EMB_DIM + 1})) AS idx FROM asg{i})
  GROUP BY cid, idx
),
c{i + 1} AS (
  SELECT cid, list(CAST(sq AS DOUBLE) / CAST({_KM_SCALE} * nv AS DOUBLE) ORDER BY idx) AS cv
  FROM upd{i} GROUP BY cid
)"""
        )
    return parts


def _kmeans_oracle() -> str:
    parts = _kmeans_ctes()
    sc = float(_KM_SCALE)
    final = f"""scF AS (
  SELECT e.vec_id, c.cid, {dd_cosine('e.embedding', 'c.cv')} AS s
  FROM embeddings e CROSS JOIN c{_KMEANS_ITERS} c
),
asgF AS (
  SELECT vec_id, cid, s FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
    FROM scF) WHERE rn = 1
)
SELECT CAST(cid AS BIGINT) AS cluster_id,
  CAST(count(*) AS BIGINT) AS n_vectors,
  round(CAST(CAST(sum(CAST(round(s * {sc}) AS BIGINT)) AS BIGINT) AS DOUBLE)
        / CAST({_KM_SCALE} * count(*) AS DOUBLE), 6) AS mean_cos
FROM asgF GROUP BY cid"""
    return "WITH " + ",\n".join(parts) + ",\n" + final


@register("kmeans_cluster_profile", _kmeans_oracle())
def q_kmeans_cluster_profile(spark, sf_dir):
    """Lloyd's k-means over the embedding corpus (2 refinement rounds on the
    md5-sample init), reported as per-cluster sizes and mean cosine-to-
    centroid — the clustering a pipeline runs for semantic dedup buckets,
    topic balancing, or IVF index training.

    100 TB shape (operators/similarity.kmeans_refine): per round ONE
    map-only assignment over centroid literals plus ONE k-row aggregate
    with map-side combine; the corpus is never shuffled. Fixed-point
    (x1e6 BIGINT) accumulation makes the refined centroids independent of
    partition order — the property that gives this whole iterative
    pipeline an exact DuckDB oracle, and on a real cluster makes reruns
    reproducible regardless of executor layout."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.kmeans_profile(
        emb, _kmeans_centroids(spark, sf_dir), scale=_KM_SCALE
    )


# --- int8 embedding quantization (storage / serving prep) -----------------

_QUANT_ORACLE = """
WITH m AS (
  SELECT vec_id, embedding,
    list_reduce(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                (a, b) -> CASE WHEN b > a THEN b ELSE a END) AS mx
  FROM embeddings
),
s AS (
  SELECT vec_id, embedding,
    CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS scale
  FROM m
),
qq AS (
  SELECT vec_id, embedding, scale,
    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / scale) AS INT)) AS q
  FROM s
),
e AS (
  SELECT vec_id, scale,
    list_reduce(
      list_transform(q, (qv, i) ->
        abs(CAST(embedding[i] AS DOUBLE) - CAST(qv AS DOUBLE) * scale)),
      (a, b) -> CASE WHEN b > a THEN b ELSE a END) AS max_err
  FROM qq
)
SELECT vec_id, round(scale, 6) AS scale, round(max_err, 6) AS max_abs_err
FROM e
"""


@register("embedding_quantization", _QUANT_ORACLE)
def q_embedding_quantization(spark, sf_dir):
    """Symmetric per-vector int8 quantization of the embedding corpus
    (scale = max|x| / 127, q = round(x/scale)) with the max reconstruction
    error per vector — the storage/serving compression pass an embedding
    store runs before ANN indexing (4x smaller than float32; errors bound
    the cosine drift).

    All arithmetic is per-row HOF expressions in fixed IEEE order
    (zero-vector guarded by scale=1), so the whole quantize→reconstruct→
    error pipeline has an exact DuckDB oracle. Map-only at any scale —
    ZERO shuffles (the parallelism guard's round-robin aside), like the
    signature stages it sits beside."""
    emb = _t(spark, sf_dir, "embeddings")
    from py_datalake_move_files_spark.functions.scaling import ensure_parallelism

    df = (
        ensure_parallelism(emb)
        .withColumn(
            "__mx",
            F.expr(
                "aggregate(embedding, 0D, (qz_a, qz_x) -> "
                "greatest(qz_a, abs(CAST(qz_x AS DOUBLE))))"
            ),
        )
        .withColumn(
            "scale",
            F.when(F.col("__mx") == 0.0, F.lit(1.0)).otherwise(
                F.col("__mx") / 127.0
            ),
        )
        .withColumn(
            "__q",
            F.expr(
                "transform(embedding, qz_v -> "
                "CAST(round(CAST(qz_v AS DOUBLE) / scale) AS INT))"
            ),
        )
        .withColumn(
            "__err",
            F.expr(
                "aggregate(zip_with(embedding, __q, (qz_e, qz_q) -> "
                "abs(CAST(qz_e AS DOUBLE) - CAST(qz_q AS DOUBLE) * scale)), "
                "0D, (qz_m, qz_y) -> greatest(qz_m, qz_y))"
            ),
        )
    )
    return df.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.round("__err", 6).alias("max_abs_err"),
    )


# --- incremental-ingest drift: new vectors into an EXISTING index ---------

_DRIFT_ORACLE = f"""
WITH cD AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % 2 = 0
  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {N_LISTS}
),
scD AS (
  SELECT e.vec_id, c.cid, {dd_cosine('e.embedding', 'c.cv')} AS s
  FROM embeddings e CROSS JOIN cD c
),
asgD AS (
  SELECT vec_id, cid AS list_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
    FROM scD
  ) WHERE rn = 1
)
SELECT CAST(list_id AS BIGINT) AS list_id,
  CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
  CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
  round(CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(count(*) AS DOUBLE), 6) AS new_share
FROM asgD GROUP BY list_id
"""


@register("ivf_assignment_drift", _DRIFT_ORACLE)
def q_ivf_assignment_drift(spark, sf_dir):
    """Incremental-ingest index maintenance: centroids trained on the OLD
    (even-id) half of the corpus, then BOTH halves assigned — per list,
    old/new member counts and the new-data share. A drifting new_share
    (lists absorbing disproportionate new mass) is THE operational signal
    to retrain/split lists; until it fires, new vectors append into the
    existing cells with the same zero-shuffle map-stage assignment as a
    full build — no index rebuild, the property that makes IVF workable
    under continuous ingest at 100 TB. (Centroids deliberately NOT
    cached — they key to the old half, not the whole-table snapshot.)"""
    emb = _t(spark, sf_dir, "embeddings")
    cents = SIM.ivf_centroids(
        emb.where(F.col("vec_id") % 2 == 0), n_lists=N_LISTS
    )
    asg = SIM.ivf_assign(emb, cents, out="list_id")
    is_new = F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0)
    return (
        asg.groupBy(F.col("list_id").cast("long").alias("list_id"))
        .agg(
            F.sum(1 - is_new).cast("long").alias("n_old"),
            F.sum(is_new).cast("long").alias("n_new"),
            F.round(
                F.sum(is_new).cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("new_share"),
        )
    )


# --- recall of the k-means-refined IVF index ------------------------------


def _refined_recall_oracle() -> str:
    from py_datalake_move_files_spark.queries import ORACLE

    # the registered md5-init recall oracle is _IVF_PRELUDE + comparison
    # tail (probes/exact arm/hits); the refined variant swaps the prelude
    # for the kmeans CTE chain + an assignment over c{_KMEANS_ITERS} and
    # reuses the tail verbatim, so both arms stay textually in lockstep
    tail = ORACLE["ann_recall_ivf"][len(_IVF_PRELUDE) :]
    parts = _kmeans_ctes()
    prelude = (
        "WITH "
        + ",\n".join(parts)
        + f""",
sc AS (
  SELECT e.vec_id, e.embedding, c.cid, {dd_cosine('e.embedding', 'c.cv')} AS s
  FROM embeddings e CROSS JOIN c{_KMEANS_ITERS} c
),
asg AS (
  SELECT vec_id, embedding, cid AS list_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
    FROM sc
  ) WHERE rn = 1
)"""
    )
    return prelude + tail


@register("ann_recall_ivf_refined", _refined_recall_oracle())
def q_ann_recall_ivf_refined(spark, sf_dir):
    """Recall@10 of the IVF index AFTER Lloyd refinement — the eval that
    quantifies what kmeans_refine buys: refined centroids tighten the
    cells, so the same n_probe budget covers more of each query's true
    neighborhood. Same deterministic construction as ann_recall_ivf
    (fixed-point centroids are what keep the refined index exactly
    oracle-checkable); diff the two queries' outputs for the
    recall-per-probe improvement."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf = SIM.ivf_topk(
        emb, queries, k=10, n_lists=N_LISTS, n_probe=N_PROBE,
        centroids=_kmeans_centroids(spark, sf_dir),
    )
    exact = SIM.brute_force_topk(emb, queries, k=10)
    return SIM.recall_vs_exact(ivf, exact, queries, k=10)


# --- SemDeDup-style semantic dedup over the k-means clusters --------------

_SEMDEDUP_T = 0.30
#: Hard bound on the quadratic within-cluster pairing: clusters larger than
#: this are excluded from the pairwise stage on BOTH engines (conservatively
#: kept whole — dedup never over-drops), so per-cluster candidates are
#: <= cap², never O(N²), no matter how skewed the assignment gets at scale.
#: Chosen well above every tested scale's max cluster size (70 at sf0.01,
#: 264 at sf0.1) so outputs are unchanged until the guard actually matters.
_SEMDEDUP_CAP = 1024


def _semantic_dedup_oracle() -> str:
    parts = _kmeans_ctes()
    tail = f"""scS AS (
  SELECT e.vec_id, e.embedding, c.cid, {dd_cosine('e.embedding', 'c.cv')} AS s
  FROM embeddings e CROSS JOIN c{_KMEANS_ITERS} c
),
asgS AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
    FROM scS) WHERE rn = 1
),
capS AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT *, count(*) OVER (PARTITION BY cid) AS bn FROM asgS
  ) WHERE bn <= {_SEMDEDUP_CAP}
),
p AS (
  SELECT a.cid, b.vec_id AS ib
  FROM capS a JOIN capS b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {dd_cosine('a.embedding', 'b.embedding')} >= {_SEMDEDUP_T}
),
rem AS (SELECT cid, count(DISTINCT ib) AS n_removed FROM p GROUP BY cid),
sz AS (SELECT cid, count(*) AS n_vectors FROM asgS GROUP BY cid)
SELECT CAST(sz.cid AS BIGINT) AS cluster_id,
  CAST(sz.n_vectors AS BIGINT) AS n_vectors,
  CAST(coalesce(rem.n_removed, 0) AS BIGINT) AS n_removed,
  CAST(sz.n_vectors - coalesce(rem.n_removed, 0) AS BIGINT) AS n_kept
FROM sz LEFT JOIN rem ON sz.cid = rem.cid"""
    return "WITH " + ",\n".join(parts) + ",\n" + tail


def _semdedup_scores(asg, *, cap: int):
    """Per-cluster SemDeDup counts from an assignment frame (``vec_id``,
    ``embedding``, ``cluster_id``): ``cluster_id``, ``n_vectors``,
    ``n_removed``, ``n_kept``.

    One exchange, spread over every task slot: an explicit
    ``repartition(defaultParallelism, cluster_id)``, which the cap device's
    window count (similarity._flag_bucket_size, with its metric node) and
    the groupBy on the same key both reuse. The repartition is explicit
    because the shuffle is tiny (cluster ids, vectors and norms, 0.13 MB at
    sf0.01): left to the window, AQE coalesces it into ONE reduce task and
    the quadratic member scoring runs on one core, while a shuffle with a
    stated partition count is never coalesced. Clusters are balanced
    (k-means), so the slots share the pairs. Each cluster collects its
    members as (id, embedding, norm) structs, the norm computed once per
    row, not per pair. An over-cap cluster collects nothing
    (``collect_list`` skips the NULLs ``CASE WHEN`` yields for dropped
    rows), so a group holds at most ``cap`` members and an over-cap
    cluster is kept whole, as the oracle's cap does. A member is removed when a lower-id member of its cluster
    scores ``round(dot/(na*nb), 6) >= _SEMDEDUP_T``: one array HOF over the
    member list enumerates the pairs the oracle's self-join does, with the
    same fold text (similarity.dot_sql), so the rounded cosines are
    bit-identical. Everything after the repartition is SQL text; the
    output projection names ``n_removed`` once and reads it back as a
    lateral alias, so the HOF runs once per cluster."""
    slots = asg.sparkSession.sparkContext.defaultParallelism
    spread = asg.repartition(slots, "cluster_id")
    flagged, dropped = SIM._flag_bucket_size(spread, ["cluster_id"], cap)
    member = (
        f"named_struct('id', vec_id, 'v', embedding, 'n', {SIM.norm_sql('embedding')})"
    )
    a, b = f"a{SIM._u()}", f"b{SIM._u()}"
    near = (
        f"round({SIM.dot_sql(f'{a}.v', f'{b}.v')} / ({a}.n * {b}.n), 6) "
        f">= {_SEMDEDUP_T}D"
    )
    return (
        flagged.groupBy("cluster_id")
        .agg(
            F.expr("max(__bucket_n) AS n_vectors"),
            F.expr(f"collect_list(CASE WHEN NOT ({dropped}) THEN {member} END) AS __m"),
        )
        .selectExpr(
            "CAST(cluster_id AS BIGINT) AS cluster_id",
            "CAST(n_vectors AS BIGINT) AS n_vectors",
            f"CAST(size(filter(__m, {b} -> exists(__m, {a} -> "
            f"{a}.id < {b}.id AND {near}))) AS BIGINT) AS n_removed",
            "n_vectors - n_removed AS n_kept",
        )
    )


@register("semantic_dedup_summary", _semantic_dedup_oracle())
def q_semantic_dedup_summary(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): cluster the embedding corpus with
    k-means, then drop, within each cluster, every vector that has a
    lower-id partner above the cosine threshold — keeping one deterministic
    representative per semantic near-dup group. Reported as per-cluster
    kept/removed counts (the curation decision a pipeline audits before
    applying).

    100 TB shape: one scan, one assignment and one exchange. Assignment is
    the zero-shuffle map stage over refined centroid literals
    (operators/similarity.ivf_assign on kmeans_refine output); the cap
    device's window count and the per-cluster groupBy share the
    ``cluster_id`` shuffle, which is sized to the task slots so the
    scoring uses every core, and pairs are scored inside each cluster's
    member list (:func:`_semdedup_scores`) — no self-join, candidates
    bounded by Σ min(cluster_size, _SEMDEDUP_CAP)², never all-pairs (the
    reason SemDeDup clusters first). Clusters beyond _SEMDEDUP_CAP skip
    pairing entirely and are conservatively kept whole — the oracle
    applies the identical cap, so parity holds at every scale, including
    when the guard binds. (The production alternative is raising k so
    clusters shrink; the cap is the semantic backstop for skewed
    assignments.) Exactly oracle-checked end-to-end (fixed-point centroids
    + rounded cosine). Every projection is SQL text, so the build is a few
    analyzer passes and under 600 Py4J calls
    (tests/test_build_cost.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    asg = SIM.ivf_assign(emb, _kmeans_centroids(spark, sf_dir), out="cluster_id")
    return _semdedup_scores(asg, cap=_SEMDEDUP_CAP)


# --- Johnson-Lindenstrauss random projection: distance preservation -------

_RP_OUT_DIM = 16
_RP_PLANES = SIM.hyperplanes(_RP_OUT_DIM, 64, table=7)


def _dd_rp_proj(a: str) -> str:
    """DuckDB 16-element projected list: per plane, the same
    left-associative multiply-accumulate chain Spark's HOF fold runs."""
    chains = []
    for row in _RP_PLANES:
        chains.append(
            " + ".join(
                f"{a}[{i + 1}]::DOUBLE * {v}.0" for i, v in enumerate(row)
            )
        )
    return "[" + ", ".join(f"({c})" for c in chains) + "]"


def _rp_oracle() -> str:
    from py_datalake_move_files_spark.oracle_frags import dd_dot, dd_norm

    d = _RP_OUT_DIM
    return f"""
WITH qv AS (
  SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5
),
ex AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    {dd_cosine('q.q_vec', 'e.embedding')} AS cos_orig
  FROM qv q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_orig DESC, neighbor_id ASC) AS rn
  FROM ex
),
pj AS (
  SELECT t.query_id, t.neighbor_id, t.cos_orig, t.rn,
    {_dd_rp_proj('q.q_vec')} AS pq,
    {_dd_rp_proj('e.embedding')} AS pc
  FROM r t
  JOIN qv q USING (query_id)
  JOIN embeddings e ON e.vec_id = t.neighbor_id
  WHERE t.rn <= 10
)
SELECT query_id, neighbor_id, CAST(rn AS INT) AS rnk, cos_orig,
  round(({dd_dot('pq', 'pc', d)}) /
        (({dd_norm('pq', d)}) * ({dd_norm('pc', d)})), 6) AS cos_proj,
  round(abs(cos_orig - round(({dd_dot('pq', 'pc', d)}) /
        (({dd_norm('pq', d)}) * ({dd_norm('pc', d)})), 6)), 6) AS abs_err
FROM pj
"""


@register("rp_distance_preservation", _rp_oracle())
def q_rp_distance_preservation(spark, sf_dir):
    """Johnson-Lindenstrauss random-projection audit: project 64-dim
    embeddings to 16 dims with deterministic ±1 hyperplanes
    (similarity.rp_project_sql — the Achlioptas construction) and report,
    for each exact top-10 neighbor pair, the original vs projected cosine
    and the absolute error — the measurement that decides whether a
    4x-cheaper projected index is safe to serve coarse candidate
    generation.

    Plan shape: the exact top-k is the standard brute-force arm; the
    audit stage joins the 50 survivor pairs back to the corpus twice as
    BROADCASTS (a deployment point-looks-up the vectors), and both
    projections are map-only HOF loops over a literal plane matrix —
    dimensionality reduction at 100 TB is a projection inside the scan,
    never a shuffle. Every fold is left-associative, so projected cosines
    are bit-identical in the DuckDB oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    pairs = SIM.brute_force_topk(emb, queries, k=10).select(
        "query_id",
        "neighbor_id",
        "rnk",
        F.col("cosine_sim").alias("cos_orig"),
    )
    qv = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    cv = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    )
    j = cv.join(F.broadcast(pairs), "neighbor_id")
    j = qv.join(F.broadcast(j), "query_id")
    j = j.withColumn(
        "__pq", F.expr(SIM.rp_project_sql("q_vec", _RP_PLANES))
    ).withColumn("__pc", F.expr(SIM.rp_project_sql("c_vec", _RP_PLANES)))
    j = (
        j.withColumn("__pqn", SIM.norm("__pq"))
        .withColumn("__pcn", SIM.norm("__pc"))
        .withColumn(
            "cos_proj",
            F.round(
                SIM.dot("__pq", "__pc") / (F.col("__pqn") * F.col("__pcn")), 6
            ),
        )
    )
    return j.select(
        "query_id",
        "neighbor_id",
        "rnk",
        "cos_orig",
        "cos_proj",
        F.round(F.abs(F.col("cos_orig") - F.col("cos_proj")), 6).alias(
            "abs_err"
        ),
    )
