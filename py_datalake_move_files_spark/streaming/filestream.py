"""Incremental tier (SURVEY.md §2.9 / §7 phase 6): Structured Streaming.

The reference is batch-only but carries two incremental hooks: a hand-rolled
"last extracted timestamp" checkpoint slot (reference app/config.py:12,28)
and batch windows of 50 files (app/app.py:174, app/main.py:278). Spark
replaces both wholesale:

- file-arrival source with ``maxFilesPerTrigger`` (= BATCH_SIZE, but pull-
  based and restart-safe),
- checkpointing (= the timestamp file, but transactional),
- ``withWatermark`` + tumbling / sliding / session windows for event-time
  aggregation over late data,
- ``foreachBatch`` to reuse the batch move/copy sink per micro-batch.

All builders return unstarted streams/queries so tests and callers control
triggers (``availableNow`` for deterministic drains).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from py_datalake_move_files_spark.functions.timeutil import ensure_timestamp


def file_arrival_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = 50,
) -> DataFrame:
    """File-arrival source: new files under ``path`` become micro-batches.

    ``max_files_per_trigger`` is the streaming analogue of the reference's
    BATCH_SIZE=50 (app/app.py:174) — bounded work per trigger, but with
    exactly-once tracking in the checkpoint instead of a manual loop.
    """
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def tumbling_event_stats(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_col: str = "event_type",
) -> DataFrame:
    """Tumbling-window counts/sums with a watermark for late data — the
    streaming twin of the batch ``hourly_event_stats`` query."""
    events = ensure_timestamp(events, ts_col)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col(group_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            group_col,
            "n",
            "total_value",
        )
    )


def session_window_stats(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    key_col: str = "user_id",
) -> DataFrame:
    """Session windows (gap-based) per key — the streaming twin of the batch
    ``sessionize_events`` gaps-and-islands query."""
    events = ensure_timestamp(events, ts_col)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )


def to_parquet_sink(
    stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    *,
    output_mode: str = "append",
) -> DataStreamWriter:
    """Parquet sink with checkpoint (the transactional replacement for the
    reference's timestamp file, app/config.py:12). Caller starts it with the
    trigger of their choice (tests use ``trigger(availableNow=True)``)."""
    return (
        stream.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode(output_mode)
    )


def foreach_batch_movecopy(
    plan_stream: DataFrame,
    checkpoint_path: str,
    *,
    mode: str = "copy",
    overwrite: bool = True,
    audit_path: str | None = None,
):
    """Drive the batch move/copy executor per micro-batch (``foreachBatch``):
    each arriving plan chunk is executed and its audit appended — the
    streaming version of the reference's batch loop (app/main.py:278-303)."""
    from py_datalake_move_files_spark.plans.movecopy import execute_plan

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # execute_plan is eager: the side effects are done when it returns
        audit = execute_plan(batch_df, mode=mode, overwrite=overwrite)
        if audit_path is not None:
            audit.write.mode("append").parquet(audit_path)

    return (
        plan_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )


def foreach_batch_incremental_dedup(
    doc_stream: DataFrame,
    checkpoint_path: str,
    *,
    index_path: str,
    out_path: str,
    id_col: str = "doc_id",
    key_col: str = "dedup_key",
):
    """Continuous-ingest dedup loop: each arriving micro-batch is classified
    against the DURABLE dedup-key index (operators/dedup.incremental_dedup
    — dup_of_index / dup_in_batch / unique), the classification is appended
    to ``out_path``, and the batch's newly-unique keys are appended to the
    index so the next batch sees them. The streaming composition of the
    batch `incremental_dedup_batch` query; unlike
    ``dedup_within_watermark`` the state here is unbounded and durable
    (parquet), which is what corpus ingest needs — watermark state evicts.

    Exactly-once caveat (standard foreachBatch semantics): a replayed batch
    re-appends. The INDEX tolerates that by construction (incremental_dedup
    distincts the index side, so duplicate keys are harmless); the audit in
    ``out_path`` is at-least-once and carries ``batch_id`` so consumers can
    dedupe replays."""
    from pyspark.errors import AnalysisException

    from py_datalake_move_files_spark.operators.dedup import incremental_dedup

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            idx = spark.read.parquet(index_path)
        except AnalysisException:  # first batch: no index yet
            idx = spark.createDataFrame([], f"{key_col} string")
        classified = incremental_dedup(
            batch_df.select(id_col, key_col), idx, id_col, key_col
        ).persist()
        try:
            classified.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(out_path)
            classified.where(F.col("status") == "unique").select(
                key_col
            ).write.mode("append").parquet(index_path)
        finally:
            classified.unpersist()

    return (
        doc_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )


def foreach_batch_ivf_ingest(
    vec_stream: DataFrame,
    checkpoint_path: str,
    *,
    centroids: list[tuple[int, list[float]]],
    out_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Continuous-ingest ANN indexing: each arriving micro-batch of vectors
    is assigned to the FROZEN centroid set (operators/similarity.ivf_assign
    — the same zero-shuffle map stage as a full build; large k takes the
    broadcast path automatically) and appended, batch-stamped, to the
    assignment table at ``out_path``. The streaming composition of the
    batch ``ivf_assignment_drift`` query: a monitoring job aggregates
    ``out_path`` per list to watch new_share drift and decide retraining;
    until it fires, ingest never rebuilds the index.

    Centroids are deliberately a frozen argument, not re-trained per batch:
    an IVF deployment retrains OFFLINE and swaps centroid sets; assignment
    must stay deterministic within an index epoch or the index becomes
    inconsistent with itself. Replays (foreachBatch at-least-once) carry
    ``batch_id`` so consumers can dedupe."""
    from py_datalake_move_files_spark.operators.similarity import ivf_assign

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        assigned = ivf_assign(
            batch_df.select(id_col, vec_col),
            centroids,
            vec_col=vec_col,
            id_col=id_col,
            out="list_id",
        )
        assigned.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_path)

    return (
        vec_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )


def foreach_batch_bloom_screen(
    doc_stream: DataFrame,
    checkpoint_path: str,
    *,
    bloom: DataFrame,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 4,
    m_bits: int = 1 << 17,
    k_hashes: int = 4,
):
    """Streaming contamination screen: each arriving micro-batch of
    documents is shingled and probed MAP-SIDE against a FROZEN Bloom
    filter of benchmark/eval shingles (operators/bloom.py); per-doc
    Bloom-hit counts are appended, batch-stamped, to ``out_path``. The
    streaming composition of the batch ``bloom_decontamination`` query's
    prefilter stage — the shape of an ingest pipeline that quarantines
    probably-contaminated documents ON ARRIVAL, long before the offline
    exact-verify job runs.

    The filter is deliberately a frozen one-row DataFrame argument (built
    once from the eval corpus, like the frozen centroid epoch in
    :func:`foreach_batch_ivf_ingest`): benchmark suites change by
    release, not per micro-batch, and a screen must stay deterministic
    within an epoch. Bloom has no false negatives, so a downstream exact
    verify over flagged docs recovers the exact answer; ``bloom_hits``
    over-counts only by the filter's FP rate. Replays carry ``batch_id``
    for at-least-once dedup.
    """
    from py_datalake_move_files_spark.operators import dedup as DD
    from py_datalake_move_files_spark.operators.bloom import bloom_probe

    # Freeze AND materialize the epoch here, not per batch: an uncached
    # lazy `bloom` would re-run the whole eval-corpus build aggregate
    # under every micro-batch's probe (the ivf-ingest sibling freezes its
    # epoch as collected centroids for the same reason).
    bloom = bloom.cache()
    bloom.count()

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        sh = DD.with_shingles(batch_df, text_col, k_shingle)
        exploded = sh.select(
            id_col,
            F.size("shingle_set").cast("long").alias("n_shingles"),
            F.explode_outer("shingle_set").alias("shingle"),
        ).where(F.col("shingle").isNotNull())
        probed = bloom_probe(
            exploded, "shingle", bloom, m_bits=m_bits, k_hashes=k_hashes
        )
        per_doc = (
            probed.groupBy(id_col, "n_shingles")
            .agg(
                F.sum(F.col("bloom_might_contain").cast("long"))
                .cast("long")
                .alias("bloom_hits")
            )
            .withColumn("batch_id", F.lit(batch_id))
        )
        per_doc.write.mode("append").parquet(out_path)

    return (
        doc_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )


def foreach_batch_weighted_reservoir(
    doc_stream: DataFrame,
    checkpoint_path: str,
    *,
    out_path: str,
    k: int = 20,
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
):
    """Streaming Efraimidis–Spirakis weighted reservoir: maintain the
    exact top-``k`` weighted sample of everything that has ARRIVED, one
    micro-batch at a time. A-ES keys are mergeable — the global sample is
    just the k largest keys ever seen — so each batch computes its rows'
    deterministic keys (the same md5-derived ``ln(u)/w`` the batch
    ``weighted_sample_docs`` query uses), unions the stored reservoir,
    and OVERWRITES the reservoir with the new top-k. After any prefix of
    the stream the reservoir equals the one-shot batch sample over the
    same rows (pinned in tests/test_streaming).

    At-least-once replays are absorbed, not just tolerated: a replayed
    row re-derives the SAME key (md5, not rand), so the union + distinct
    top-k is idempotent — the reservoir is a CRDT-style max-k set. State
    is k rows on durable storage; no per-key streaming state store is
    involved. The atomic rewrite below collects the k survivors (fine for
    sample-sized k; a huge-k variant writes to a temp path and swaps —
    the reservoir never depends on per-key state-store capacity either
    way).
    """
    from pyspark.errors import AnalysisException

    from py_datalake_move_files_spark.queries_corpus import _ws_key_sql

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        keyed = batch_df.where(F.col(weight_col) > 0).select(
            F.col(id_col),
            F.col(weight_col).cast("long").alias("__w"),
            F.expr(_ws_key_sql(id_col, weight_col)).alias("sample_key"),
        )
        try:
            prev = spark.read.parquet(out_path)
        except AnalysisException as exc:
            # ONLY the missing-path case means "first batch". Any other
            # read failure (corrupt partial write, permissions, transient
            # FS error) must abort the batch — silently treating it as
            # empty would overwrite the reservoir with this batch's rows
            # and permanently drop every earlier sample member.
            if "PATH_NOT_FOUND" not in str(exc) and "Path does not exist" not in str(exc):
                raise
            prev = None
        merged = keyed if prev is None else prev.unionByName(keyed)
        top = (
            merged.dropDuplicates([id_col])
            .orderBy(F.desc("sample_key"), F.col(id_col).asc())
            .limit(k)
        )
        # k rows: collect-and-rewrite keeps the reservoir atomic vs the
        # read above (overwrite-in-place of an input path is illegal)
        rows = top.collect()
        spark.createDataFrame(rows, top.schema).write.mode(
            "overwrite"
        ).parquet(out_path)

    return (
        doc_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )


def foreach_batch_cms_ingest(
    doc_stream: DataFrame,
    checkpoint_path: str,
    *,
    out_path: str,
    text_col: str = "text",
    depth: int = 4,
    width: int = 1024,
):
    """Streaming count-min sketch ingest: each arriving micro-batch's token
    stream collapses to its own ≤ depth·width CMS cell rows
    (functions/sketches.cms_cells) and appends, batch-stamped, to
    ``out_path``. Because the CMS is LINEAR, summing the stored cells per
    (row_j, bucket) over ANY prefix of batches equals the one-shot batch
    sketch over the same documents (pinned in tests/test_streaming) — so a
    monitoring job reads a few thousand cell rows to estimate any token's
    running frequency, and per-day cell partitions roll up to arbitrary
    windows without re-touching text.

    This is the frequency sibling of :func:`foreach_batch_bloom_screen`
    (membership) and the HLL partials (cardinality): all three keep
    bounded state per grain and merge by union/sum, which is what lets a
    100 TB ingest pipeline expose live corpus statistics for pennies.
    Replays carry ``batch_id``: consumers dedupe at-least-once re-runs by
    keeping one row per (batch_id, row_j, bucket)."""
    from py_datalake_move_files_spark.functions.sketches import cms_cells

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        toks = batch_df.select(
            F.explode(F.split(text_col, " ")).alias("__tok")
        ).where(F.col("__tok") != "")
        cells = cms_cells(toks, "__tok", depth=depth, width=width)
        cells.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_path)

    return (
        doc_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )


def foreach_batch_transition_ingest(
    event_stream: DataFrame,
    checkpoint_path: str,
    *,
    state_path: str,
    out_path: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
):
    """Streaming transition-matrix ingest — the continuous twin of the
    batch ``event_transition_matrix`` query: each micro-batch contributes
    its (from_type, to_type) transition counts, INCLUDING the transition
    that straddles the batch boundary (each user's last event from prior
    batches chains to their first event in this one).

    State is an APPEND-ONLY max-register, not an overwritten snapshot:
    every batch appends its per-user latest (ts, id, type) row, and the
    reader takes the (ts, id)-max row per user — so a replayed batch
    re-appends identical rows and changes nothing (the same CRDT-style
    idempotence the weighted-reservoir ingest uses), where an
    overwrite-in-place would have to read and rewrite the same path in
    one job. State size is O(users x batches) rows of four scalar
    columns; a compaction pass (keep rn=1 per user) is a standard
    maintenance job and never changes answers.

    Correctness contract (pinned in tests/test_streaming): when batches
    respect per-user event-time order — true for append-only event logs
    consumed in arrival order — the per-batch cell counts summed over any
    batch prefix equal the one-shot batch matrix over the same events.
    The counts appended per batch are at-least-once with ``batch_id`` for
    replay dedup, same as every foreachBatch sink here."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import Window

    cols = [user_col, ts_col, id_col, type_col]

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ev = batch_df.select(*cols)
        w_last = Window.partitionBy(user_col).orderBy(
            F.col(ts_col).desc(), F.col(id_col).desc()
        )
        try:
            stored = spark.read.parquet(state_path)
            last = (
                stored.withColumn("__rn", F.row_number().over(w_last))
                .where(F.col("__rn") == 1)
                .select(*cols)
            )
        except AnalysisException:  # first batch: no state yet
            last = spark.createDataFrame([], ev.schema)
        w_next = Window.partitionBy(user_col).orderBy(ts_col, id_col)
        cells = (
            last.unionByName(ev)
            .select(
                F.col(type_col).alias("from_type"),
                F.lead(type_col).over(w_next).alias("to_type"),
            )
            .where(F.col("to_type").isNotNull())
            .groupBy("from_type", "to_type")
            .agg(F.count(F.lit(1)).alias("n_transitions"))
        )
        cells.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_path)
        ev.withColumn("__rn", F.row_number().over(w_last)).where(
            F.col("__rn") == 1
        ).select(*cols).write.mode("append").parquet(state_path)

    return (
        event_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )


def foreach_batch_hll_ingest(
    event_stream: DataFrame,
    checkpoint_path: str,
    *,
    out_path: str,
    item_col: str = "user_id",
    grain_cols: tuple[str, ...] = ("event_type",),
    lg_k: int = 12,
):
    """Streaming HLL ingest — the cardinality member of the streaming
    sketch trio (Bloom = membership screen, CMS = frequency cells, HLL =
    distinct counts): each micro-batch collapses to one ~KB sketch row
    per grain (functions/sketches.sketch_partials), appended
    batch-stamped. Because DataSketches HLL merges by union,
    ``hll_union_agg`` over ANY prefix of stored batch rows equals the
    one-shot sketch over those batches' raw items — so a live dashboard
    answers "distinct users so far, by type" from a handful of sketch
    rows, never re-shuffling the keys (pinned in tests/test_streaming).
    Replays re-append identical sketch rows; since union is idempotent
    only on identical-set inputs, consumers keep one row per
    (batch_id, grain) — the same at-least-once contract as every
    foreachBatch sink here, with batch_id provided for exactly that."""
    from py_datalake_move_files_spark.functions.sketches import sketch_partials

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        sketch_partials(
            batch_df, item_col, list(grain_cols), lg_k=lg_k
        ).withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            out_path
        )

    return (
        event_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )


def foreach_batch_retention_ingest(
    event_stream: DataFrame,
    checkpoint_path: str,
    *,
    state_path: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
):
    """Streaming cohort-retention ingest — the continuous twin of the
    batch ``retention_cohorts`` query: the state is the DISTINCT
    (user, active-day) set, grown append-only with an anti-join dedup,
    so a dashboard recomputes the cohort matrix from state at any time
    via :func:`retention_matrix_from_state`.

    Idempotence contract: each batch appends only the (user, day) pairs
    NOT already present (left anti join against state), so a replayed
    batch appends nothing and the state remains exactly the distinct
    activity set regardless of delivery count — the same append-only
    CRDT shape as the transition/reservoir ingests, with the dedup moved
    into the join because retention counts each (user, day) ONCE ever,
    not once per batch. State size is the true distinct activity set
    (what the batch query's first exchange materializes anyway); the
    anti join is key-partitioned on the pair.

    Batch ≡ stream (pinned in tests/test_insights): after any prefix of
    batches, retention_matrix_from_state(state) equals the batch
    retention_cohorts device over the union of those batches' events."""
    from pyspark.errors import AnalysisException

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        pairs = batch_df.select(
            F.col(user_col).alias("user_id"),
            F.date_trunc("day", F.col(ts_col)).alias("d"),
        ).distinct()
        try:
            seen = spark.read.parquet(state_path).select("user_id", "d")
            fresh = pairs.join(seen, ["user_id", "d"], "left_anti")
        except AnalysisException:  # first batch: no state yet
            fresh = pairs
        fresh.write.mode("append").parquet(state_path)

    return (
        event_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )


def retention_matrix_from_state(spark, state_path: str) -> DataFrame:
    """Cohort matrix off the streaming activity-set state — identical
    device (and output schema) to the batch ``retention_cohorts`` query,
    reading the materialized distinct (user, day) set instead of raw
    events."""
    um = spark.read.parquet(state_path).select("user_id", "d").distinct()
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


def foreach_batch_histogram_ingest(
    stream: DataFrame,
    checkpoint_path: str,
    *,
    state_path: str,
    value_expr: str,
):
    """Streaming VALUE-HISTOGRAM ingest — the one state shape that makes
    the engine's whole histogram-rank family (exact median/MAD, R-7
    quartiles, trimmed means, Gini, percentile ranks) live: each
    micro-batch appends its (value, count) cells stamped with batch_id,
    and any reader folds the cells into the same cumulative-histogram
    device the batch queries use.

    Histograms are mergeable monoids (cell counts add), so per-batch
    partials summed over any batch prefix equal the one-shot histogram —
    the CMS/HLL ingest linearity argument, with replay safety from the
    batch stamp: an at-least-once redelivery re-appends identical
    (batch_id, value, count) rows, and readers collapse duplicates by
    taking ONE row per (batch_id, value) before summing. State size is
    O(distinct values × batches); compaction (re-aggregate to one row
    per value under a new epoch stamp) never changes answers.

    ``value_expr`` is any integer-valued SQL expression over the stream's
    columns (the fixed-point quantization the batch devices use)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        cells = (
            batch_df.selectExpr(f"CAST(({value_expr}) AS BIGINT) AS c")
            .groupBy("c")
            .agg(F.count(F.lit(1)).alias("hn"))
            .withColumn("batch_id", F.lit(batch_id))
        )
        cells.write.mode("append").parquet(state_path)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )


def histogram_from_state(spark, state_path: str) -> DataFrame:
    """Collapse the streaming histogram state to one (c, hn) row per
    value: dedup replays by (batch_id, c) first (identical redelivered
    rows collapse to one), then sum across batches — after which every
    batch histogram-rank device applies unchanged."""
    raw = spark.read.parquet(state_path)
    deduped = raw.groupBy("batch_id", "c").agg(F.max("hn").alias("hn"))
    return deduped.groupBy("c").agg(F.sum("hn").alias("hn"))


def median_x2_from_state(spark, state_path: str):
    """Exact median (×2 fixed point) off the streaming histogram state —
    the same min-CASE rank reads the batch devices use."""
    from pyspark.sql import Window

    hist = histogram_from_state(spark, state_path)
    wcum = Window.orderBy("c").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("cw", F.sum("hn").over(wcum)).withColumn(
        "tot", F.sum("hn").over(Window.partitionBy())
    )
    row = cum.agg(
        F.expr(
            "CAST(min(CASE WHEN cw >= (tot + 1) DIV 2 THEN c END)"
            " + min(CASE WHEN cw >= (tot + 2) DIV 2 THEN c END) AS BIGINT)"
        ).alias("med2"),
        F.max("tot").cast("long").alias("n"),
    ).collect()[0]
    return row["med2"], row["n"]


def foreach_batch_mg_ingest(
    doc_stream: DataFrame,
    checkpoint_path: str,
    *,
    out_path: str,
    text_col: str = "text",
    k: int = 64,
):
    """Streaming Misra–Gries heavy-hitters ingest — the frequent-items
    member of the mergeable-sketch trio (CMS = frequency, HLL =
    cardinality, Bloom = membership): each micro-batch's token stream
    collapses to its OWN ≤ k-counter MG summary, appended batch-stamped
    to ``out_path``.

    Per batch: exact token counts (one map-side-combined aggregate), then
    the classic compress step — keep the top k by (count desc, token asc),
    subtract the (k+1)-th largest count, drop non-positives. The top-k+1
    selection is TakeOrdered-sized (k+1 rows to the driver, never the
    vocabulary), and the deterministic tie-break makes a replayed batch
    re-derive BYTE-IDENTICAL summary rows, so at-least-once redelivery
    dedupes on (batch_id, token) exactly like the histogram ingest.

    MG summaries are mergeable (Agarwal et al., "Mergeable Summaries"):
    summing stored per-batch counters per token and compressing once more
    to k yields a summary whose total undercount is ≤ n_total/(k+1) —
    the reader (`mg_heavy_hitters_from_state`) does exactly that, and
    tests/test_streaming.py pins the two-sided guarantee against exact
    batch counts. Reference test-parity anchor: the batch twin is
    operators/text.heavy_hitters (same compress, partition-local)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        counts = (
            batch_df.select(
                F.explode(F.split(text_col, " ")).alias("token")
            )
            .where(F.col("token") != "")
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        top = counts.orderBy(
            F.col("cnt").desc(), F.col("token").asc()
        ).limit(k + 1)
        rows = top.collect()
        d = rows[k]["cnt"] if len(rows) > k else 0
        kept = [
            (r["token"], int(r["cnt"] - d))
            for r in rows[:k]
            if r["cnt"] - d > 0
        ]
        if not kept:
            return
        spark.createDataFrame(
            kept, "token string, cnt long"
        ).withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_path)

    return (
        doc_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )


def mg_heavy_hitters_from_state(
    spark, state_path: str, *, k: int = 64
) -> list[tuple[str, int]]:
    """Merge the stored per-batch MG summaries into one ≤ k-counter
    summary: dedup replays by (batch_id, token) (redelivered rows are
    identical), sum counters per token, compress once more with the same
    deterministic (cnt desc, token asc) rule. Returns [(token, est)];
    every estimate undercounts by at most n_total/(k+1) and never
    overcounts (the mergeable-summaries bound — each compress, per batch
    or at merge, decrements every live counter by at most its own
    n/(k+1)).

    Unlike the histogram/retention ingests, the MG ingest legitimately
    writes NOTHING for a batch whose compress keeps no counter (d wipes
    every count), so the state directory may not exist yet — an empty
    summary, not an error."""
    from pyspark.errors import AnalysisException

    try:
        raw = spark.read.parquet(state_path)
    except AnalysisException as exc:
        # Only a genuinely-absent state dir means "no batches kept a
        # counter yet". A corrupt or schema-mismatched state directory
        # must FAIL, not read as an empty heavy-hitter summary.
        if exc.getCondition() == "PATH_NOT_FOUND":
            return []
        raise
    deduped = raw.groupBy("batch_id", "token").agg(F.max("cnt").alias("cnt"))
    merged = deduped.groupBy("token").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    rows = merged.orderBy(
        F.col("cnt").desc(), F.col("token").asc()
    ).limit(k + 1).collect()
    d = rows[k]["cnt"] if len(rows) > k else 0
    return [
        (r["token"], int(r["cnt"] - d)) for r in rows[:k] if r["cnt"] - d > 0
    ]


def foreach_batch_daily_count_ingest(
    stream: DataFrame,
    checkpoint_path: str,
    *,
    state_path: str,
    ts_col: str = "ts",
):
    """Streaming DAILY-COUNT ingest — the calendar-keyed sibling of the
    value-histogram ingest: each micro-batch appends its (day, count)
    cells stamped with batch_id. Daily counts are a mergeable monoid
    (cells add), so any reader folding the batch partials equals the
    one-shot batch aggregate over the same events — which is exactly
    what `changepoint_from_state` exploits to serve the change-point
    scan incrementally. Replay safety is the histogram ingest's: a
    redelivered batch re-appends identical (batch_id, day, count) rows
    and readers collapse duplicates before summing. State size is
    O(days × batches); compaction never changes answers."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        cells = (
            batch_df.groupBy(F.date_trunc("day", ts_col).alias("d"))
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .withColumn("batch_id", F.lit(batch_id))
        )
        cells.write.mode("append").parquet(state_path)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )


def daily_counts_from_state(spark, state_path: str) -> DataFrame:
    """Collapse the streaming daily-count state to one (d, c) row per
    day: dedup replays by (batch_id, d) first, then sum across batches."""
    raw = spark.read.parquet(state_path)
    deduped = raw.groupBy("batch_id", "d").agg(F.max("c").alias("c"))
    return deduped.groupBy("d").agg(F.sum("c").cast("long").alias("c"))


def changepoint_from_state(spark, state_path: str) -> DataFrame:
    """Best single change-point of the STREAMED daily-count series — the
    incremental twin of the batch `changepoint_daily_events` query,
    running the IDENTICAL device (queries_mining.changepoint_over_daily)
    over the collapsed state, so after any full drain the streaming
    answer equals the batch answer row for row."""
    from py_datalake_move_files_spark.queries_mining import (
        changepoint_over_daily,
    )

    return changepoint_over_daily(daily_counts_from_state(spark, state_path))


def foreach_batch_first_touch_ingest(
    stream: DataFrame,
    checkpoint_path: str,
    *,
    state_path: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
):
    """Streaming FIRST-TOUCH ingest — the incremental feed for
    ``cumulative_distinct_users``: each micro-batch appends (a) one
    min-first-day cell per user seen in the batch and (b) one
    day-presence cell per event day, stamped with batch_id, in ONE
    parquet write. Both cell kinds are mergeable monoids (min for first
    days; set-union for the day grid), so any reader folding the batch
    partials equals the one-shot batch aggregate over the same events —
    the transition/daily-count ingest discipline. Replay safety: a
    redelivered batch re-appends identical (batch_id, kind, key, d) rows
    and readers collapse duplicates before merging. State size is
    O(users + days·batches); never event-sized."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # key is cast to string so the state schema is user_id-type
        # independent: a long user_id and the day rows' sentinel key
        # union cleanly whether a deployment's id column is numeric or
        # string (ADVICE r8 — unionByName would otherwise type-mismatch
        # at the first micro-batch on string-id deployments)
        users = (
            batch_df.groupBy(F.col(user_col).cast("string").alias("key"))
            .agg(F.min(F.date_trunc("day", ts_col)).alias("d"))
            .select(F.lit("u").alias("kind"), "key", "d")
        )
        days = (
            batch_df.select(F.date_trunc("day", ts_col).alias("d"))
            .distinct()
            .select(
                F.lit("d").alias("kind"), F.lit("0").cast("string").alias("key"), "d"
            )
        )
        users.unionByName(days).withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").parquet(state_path)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )


def cumulative_distinct_users_from_state(spark, state_path: str) -> DataFrame:
    """Serve the running-distinct-users series from the streamed
    first-touch state — the incremental twin of the batch
    ``cumulative_distinct_users`` query: collapse replays by
    (batch_id, kind, key, d), merge per-user first days with min across
    batches, count first-touches per day over the streamed day grid, and
    run the same calendar-bounded prefix sum. After any full drain the
    streaming answer equals the batch answer row for row."""
    from pyspark.sql import Window

    raw = spark.read.parquet(state_path).dropDuplicates(
        ["batch_id", "kind", "key", "d"]
    )
    first = (
        raw.where(F.col("kind") == "u")
        .groupBy("key")
        .agg(F.min("d").alias("d0"))
    )
    nu = first.groupBy(F.col("d0").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    grid = raw.where(F.col("kind") == "d").select("d").distinct()
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
