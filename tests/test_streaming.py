"""Streaming tier tests: file-arrival source → windowed aggregation →
checkpointed sink, drained deterministically with availableNow, compared
against the equivalent batch computation."""

from __future__ import annotations

from pyspark.sql import functions as F

from py_datalake_move_files_spark.catalog import load_table
from py_datalake_move_files_spark.streaming.filestream import (
    file_arrival_stream,
    foreach_batch_movecopy,
    session_window_stats,
    to_parquet_sink,
    tumbling_event_stats,
)


def _events_files(spark, sf_small, out_dir):
    ev = load_table(spark, sf_small, "events")
    # two "arrival batches" of files
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(f"{out_dir}/b0")
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(f"{out_dir}/b1")
    return ev


def test_tumbling_stream_matches_batch(spark, sf_small, tmp_path):
    src = tmp_path / "in"
    ev = _events_files(spark, sf_small, str(src))
    schema = ev.schema

    stream = file_arrival_stream(
        spark, f"{src}/*", schema, max_files_per_trigger=1
    )
    agg = tumbling_event_stats(stream)
    q = to_parquet_sink(
        agg, str(tmp_path / "out"), str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    got = spark.read.parquet(str(tmp_path / "out"))
    batch = tumbling_event_stats(ev)
    # append-mode watermark semantics: only windows closed by the final
    # watermark are emitted; every emitted row must match the batch result
    got_rows = {tuple(r) for r in got.collect()}
    batch_rows = {tuple(r) for r in batch.collect()}
    assert len(got_rows) > 0
    assert got_rows <= batch_rows


def test_session_window_stream_runs(spark, sf_small, tmp_path):
    src = tmp_path / "in"
    ev = _events_files(spark, sf_small, str(src))
    stream = file_arrival_stream(spark, f"{src}/*", ev.schema)
    sess = session_window_stats(stream)
    q = to_parquet_sink(
        sess, str(tmp_path / "out"), str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() > 0
    assert set(out.columns) == {"session_start", "session_end", "user_id", "n_events"}


def _drain_movecopy_stream(spark, tmp_path, mode, audit_path):
    """Write one plan file of three rows into a watched directory and drain
    it through :func:`foreach_batch_movecopy` with ``availableNow``."""
    files = tmp_path / "files"
    files.mkdir()
    for i in range(3):
        (files / f"f{i}.txt").write_text(f"data{i}")
    plans = tmp_path / "plans"
    rows = [
        (f"{files}/f{i}.txt", f"{tmp_path}/moved/f{i}.txt") for i in range(3)
    ]
    spark.createDataFrame(rows, ["source_path", "target_path"]).coalesce(1).write.parquet(str(plans / "p0"))

    stream = file_arrival_stream(
        spark,
        f"{plans}/*",
        "source_path string, target_path string",
    )
    q = foreach_batch_movecopy(
        stream,
        str(tmp_path / "ckpt"),
        mode=mode,
        audit_path=audit_path,
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert q.exception() is None
    return files


def test_streaming_movecopy_sink(spark, tmp_path):
    """foreachBatch bridges arriving copy plans to the batch executor."""
    _drain_movecopy_stream(spark, tmp_path, "copy", str(tmp_path / "audit"))

    assert sorted(p.name for p in (tmp_path / "moved").iterdir()) == [
        "f0.txt",
        "f1.txt",
        "f2.txt",
    ]
    audit = spark.read.parquet(str(tmp_path / "audit"))
    assert audit.where(F.col("status") == "ok").count() == 3


def test_streaming_movecopy_without_audit_path_still_moves(spark, tmp_path):
    """With no audit sink nothing reads the audit, so the side effects must
    run inside execute_plan itself: every file is moved."""
    files = _drain_movecopy_stream(spark, tmp_path, "move", None)

    assert sorted(p.name for p in (tmp_path / "moved").iterdir()) == [
        "f0.txt",
        "f1.txt",
        "f2.txt",
    ]
    assert list(files.iterdir()) == []


def test_streaming_incremental_dedup_builds_durable_index(spark, tmp_path):
    """The continuous-ingest loop: batch 2 must see batch 1's keys via the
    durable index (dup_of_index), dedupe within itself (dup_in_batch), and
    extend the index with its own unique keys."""
    import os
    import time

    from py_datalake_move_files_spark.streaming.filestream import (
        foreach_batch_incremental_dedup,
    )

    src = tmp_path / "in"
    spark.createDataFrame(
        [(1, "A"), (2, "B")], "doc_id long, dedup_key string"
    ).coalesce(1).write.parquet(str(src / "p0"))
    spark.createDataFrame(
        [(3, "B"), (4, "C"), (5, "C")], "doc_id long, dedup_key string"
    ).coalesce(1).write.parquet(str(src / "p1"))
    # file source orders batches by modification time: force p0 first
    old = time.time() - 300
    for root, _, files in os.walk(src / "p0"):
        for f in files:
            os.utime(os.path.join(root, f), (old, old))

    stream = file_arrival_stream(
        spark, f"{src}/*", "doc_id long, dedup_key string",
        max_files_per_trigger=1,
    )
    q = foreach_batch_incremental_dedup(
        stream,
        str(tmp_path / "ckpt"),
        index_path=str(tmp_path / "index"),
        out_path=str(tmp_path / "out"),
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    out = {
        r["doc_id"]: r["status"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert out[1] == "unique" and out[2] == "unique"
    assert out[3] == "dup_of_index"  # B was ingested in batch 1
    assert sorted(s for d, s in out.items() if d in (4, 5)) == [
        "dup_in_batch",
        "unique",
    ]
    index_keys = sorted(
        r["dedup_key"]
        for r in spark.read.parquet(str(tmp_path / "index")).collect()
    )
    assert index_keys == ["A", "B", "C"]


def test_streaming_ivf_ingest_matches_batch_assignment(spark, tmp_path):
    """Continuous ANN ingest: vectors arriving over two micro-batches must
    land in exactly the lists a one-shot batch ivf_assign over the union
    produces (assignment is deterministic within an index epoch), with
    batch ids stamped for replay dedupe."""
    from py_datalake_move_files_spark.catalog import load_table
    from py_datalake_move_files_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
    )
    from py_datalake_move_files_spark.streaming.filestream import (
        foreach_batch_ivf_ingest,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = ivf_centroids(emb.where(F.col("vec_id") < 100), n_lists=4)

    src = tmp_path / "vin"
    first = emb.where("vec_id >= 100 AND vec_id < 130").select("vec_id", "embedding")
    second = emb.where("vec_id >= 130 AND vec_id < 160").select("vec_id", "embedding")
    first.coalesce(1).write.parquet(str(src / "p0"))
    second.coalesce(1).write.parquet(str(src / "p1"))

    stream = file_arrival_stream(
        spark, f"{src}/*", "vec_id long, embedding array<double>",
        max_files_per_trigger=1,
    )
    q = foreach_batch_ivf_ingest(
        stream,
        str(tmp_path / "vckpt"),
        centroids=cents,
        out_path=str(tmp_path / "vout"),
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    got = spark.read.parquet(str(tmp_path / "vout"))
    stream_assign = {r["vec_id"]: r["list_id"] for r in got.collect()}
    batch_assign = {
        r["vec_id"]: r["list_id"]
        for r in ivf_assign(
            emb.where("vec_id >= 100 AND vec_id < 160").select("vec_id", "embedding"),
            cents,
        ).collect()
    }
    assert stream_assign == batch_assign
    assert got.select("batch_id").distinct().count() == 2


def test_streaming_bloom_screen_matches_batch_prefilter(spark, tmp_path):
    """Two-micro-batch stream through the frozen Bloom screen must produce
    exactly the per-doc hit counts the one-shot batch probe computes —
    and zero false negatives vs the exact shingle-set intersection."""
    from py_datalake_move_files_spark.catalog import load_table
    from py_datalake_move_files_spark.operators import dedup as DD
    from py_datalake_move_files_spark.operators.bloom import (
        bloom_build,
        bloom_probe,
    )
    from py_datalake_move_files_spark.streaming.filestream import (
        file_arrival_stream,
        foreach_batch_bloom_screen,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    ev = (
        DD.with_shingles(docs.where(F.col("source") == "src0"), "text", 4)
        .select(F.explode("shingle_set").alias("shingle"))
        .distinct()
    )
    bf = bloom_build(ev, "shingle", m_bits=1 << 16, k_hashes=4).cache()
    bf.count()  # freeze the epoch: one build, reused across micro-batches

    train = docs.where(F.col("source") != "src0").select("doc_id", "text")
    src = tmp_path / "bin"
    train.where("doc_id < 100").coalesce(1).write.parquet(str(src / "p0"))
    train.where("doc_id >= 100").coalesce(1).write.parquet(str(src / "p1"))

    stream = file_arrival_stream(
        spark, f"{src}/*", "doc_id long, text string", max_files_per_trigger=1
    )
    q = foreach_batch_bloom_screen(
        stream,
        str(tmp_path / "bckpt"),
        bloom=bf,
        out_path=str(tmp_path / "bout"),
        m_bits=1 << 16,
        k_hashes=4,
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    got = spark.read.parquet(str(tmp_path / "bout"))
    assert got.select("batch_id").distinct().count() == 2
    stream_hits = {r["doc_id"]: r["bloom_hits"] for r in got.collect()}

    sh = DD.with_shingles(train, "text", 4)
    exploded = sh.select(
        "doc_id", F.explode("shingle_set").alias("shingle")
    )
    batch_hits = {
        r["doc_id"]: r["h"]
        for r in bloom_probe(
            exploded, "shingle", bf, m_bits=1 << 16, k_hashes=4
        )
        .groupBy("doc_id")
        .agg(F.sum(F.col("bloom_might_contain").cast("long")).alias("h"))
        .collect()
    }
    assert stream_hits == batch_hits

    # no false negatives at the doc level: every doc with a true shared
    # shingle must show bloom_hits >= its true shared count
    true_hits = {
        r["doc_id"]: r["h"]
        for r in exploded.join(ev, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("h"))
        .collect()
    }
    for doc, h in true_hits.items():
        assert stream_hits.get(doc, 0) >= h


def test_streaming_weighted_reservoir_matches_batch_sample(spark, tmp_path):
    """After two micro-batches the reservoir must equal the one-shot
    top-k weighted sample over the union of arrived rows, and a replayed
    batch (same files re-streamed into a fresh checkpoint) must leave it
    unchanged — A-ES keys are deterministic, so the merge is idempotent."""
    from py_datalake_move_files_spark.catalog import load_table
    from py_datalake_move_files_spark.queries_corpus import _ws_key_sql
    from py_datalake_move_files_spark.streaming.filestream import (
        file_arrival_stream,
        foreach_batch_weighted_reservoir,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "n_chars"
    )
    src = tmp_path / "win"
    docs.where("doc_id < 250").coalesce(1).write.parquet(str(src / "p0"))
    docs.where("doc_id >= 250").coalesce(1).write.parquet(str(src / "p1"))
    out = str(tmp_path / "wout")

    def run(ckpt: str) -> None:
        stream = file_arrival_stream(
            spark, f"{src}/*", "doc_id long, n_chars long",
            max_files_per_trigger=1,
        )
        q = foreach_batch_weighted_reservoir(
            stream, ckpt, out_path=out, k=20
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)

    run(str(tmp_path / "wckpt1"))
    got = sorted(
        tuple(r) for r in spark.read.parquet(out).select(
            "doc_id", "__w", "sample_key"
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in docs.where(F.col("n_chars") > 0)
        .select(
            "doc_id",
            F.col("n_chars").cast("long").alias("__w"),
            F.expr(_ws_key_sql("doc_id", "n_chars")).alias("sample_key"),
        )
        .orderBy(F.desc("sample_key"), F.col("doc_id").asc())
        .limit(20)
        .collect()
    )
    assert got == want and len(got) == 20

    # full replay into a fresh checkpoint: every row re-derives the same
    # key, so the reservoir must not move
    run(str(tmp_path / "wckpt2"))
    again = sorted(
        tuple(r) for r in spark.read.parquet(out).select(
            "doc_id", "__w", "sample_key"
        ).collect()
    )
    assert again == got


def test_streaming_cms_ingest_cells_sum_to_batch_sketch(spark, tmp_path):
    """CMS linearity, streaming-side: cells appended over two micro-batches,
    summed per (row_j, bucket), must equal the one-shot batch sketch over
    the union — the invariant that lets per-batch cell rows answer
    running-frequency queries without re-touching text."""
    from py_datalake_move_files_spark.catalog import load_table
    from py_datalake_move_files_spark.functions.sketches import cms_cells
    from py_datalake_move_files_spark.streaming.filestream import (
        file_arrival_stream,
        foreach_batch_cms_ingest,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    src = tmp_path / "cin"
    docs.where("doc_id < 100").coalesce(1).write.parquet(str(src / "p0"))
    docs.where("doc_id >= 100").coalesce(1).write.parquet(str(src / "p1"))

    stream = file_arrival_stream(
        spark, f"{src}/*", "doc_id long, text string", max_files_per_trigger=1
    )
    q = foreach_batch_cms_ingest(
        stream,
        str(tmp_path / "cckpt"),
        out_path=str(tmp_path / "cout"),
        depth=4,
        width=64,
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    got = spark.read.parquet(str(tmp_path / "cout"))
    assert got.select("batch_id").distinct().count() == 2
    summed = {
        (r["row_j"], r["bucket"]): r["n"]
        for r in got.groupBy("row_j", "bucket")
        .agg(F.sum("n").cast("long").alias("n"))
        .collect()
    }
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("__tok")
    ).where(F.col("__tok") != "")
    whole = {
        (r["row_j"], r["bucket"]): r["n"]
        for r in cms_cells(toks, "__tok", depth=4, width=64).collect()
    }
    assert summed == whole


def test_streaming_mg_ingest_guarantee_and_replay(spark, tmp_path):
    """Misra-Gries streaming: the merged summary must (a) never overcount,
    (b) undercount by at most n_total/(k+1), (c) retain every token whose
    true count exceeds that bound, and (d) be replay-stable."""
    from py_datalake_move_files_spark.catalog import load_table
    from py_datalake_move_files_spark.streaming.filestream import (
        file_arrival_stream,
        foreach_batch_mg_ingest,
        mg_heavy_hitters_from_state,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    src = tmp_path / "min"
    docs.where("doc_id < 100").coalesce(1).write.parquet(str(src / "p0"))
    docs.where("doc_id >= 100").coalesce(1).write.parquet(str(src / "p1"))
    out = str(tmp_path / "mout")
    K = 32

    def run(ckpt):
        stream = file_arrival_stream(
            spark, f"{src}/*", "doc_id long, text string",
            max_files_per_trigger=1,
        )
        q = foreach_batch_mg_ingest(
            stream, ckpt, out_path=out, k=K
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)

    run(str(tmp_path / "mckpt"))
    est = dict(mg_heavy_hitters_from_state(spark, out, k=K))
    assert 0 < len(est) <= K

    toks = docs.select(
        F.explode(F.split("text", " ")).alias("token")
    ).where(F.col("token") != "")
    true = {
        r["token"]: r["n"]
        for r in toks.groupBy("token").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_total = sum(true.values())
    bound = n_total // (K + 1)
    for tok, e in est.items():
        assert e <= true[tok], (tok, e, true[tok])
        assert true[tok] - e <= bound, (tok, e, true[tok], bound)
    # completeness: anything truly above the decrement bound survives
    for tok, n in true.items():
        if n > bound:
            assert tok in est, (tok, n, bound)

    # full replay into a fresh checkpoint: per-batch summaries are
    # deterministic, dedup by (batch_id, token) absorbs the re-append
    run(str(tmp_path / "mckpt2"))
    again = dict(mg_heavy_hitters_from_state(spark, out, k=K))
    assert again == est


def test_mg_reader_empty_state_returns_empty(spark, tmp_path):
    """ADVICE r6: the MG ingest skips the write entirely when a batch's
    compress keeps nothing, so the state path may never be created — the
    reader must return [] instead of raising path-not-found."""
    from py_datalake_move_files_spark.streaming.filestream import (
        mg_heavy_hitters_from_state,
    )

    missing = str(tmp_path / "never_written")
    assert mg_heavy_hitters_from_state(spark, missing, k=8) == []


def test_file_stream_checkpoint_recovery_resumes_mid_directory(
    spark, tmp_path
):
    """Kill-and-restart proof for the reference's timestamp-file contract
    (reference app/config.py:12: a hand-rolled "last extracted timestamp"
    slot decides where the next run resumes). Spark's checkpoint replaces
    it transactionally: a query crashing MID-DIRECTORY must, on restart
    from the same checkpoint, (a) not reprocess files whose batch was
    committed, (b) replay the uncommitted batch, (c) finish the rest —
    so every source row lands in the sink EXACTLY once overall.

    Device: 6 one-row files, maxFilesPerTrigger=2 → 3 micro-batches; the
    foreachBatch handler hard-fails on batch 1 BEFORE writing (a crash at
    the worst point: after batch 0 committed, before batch 1 did).
    """
    from pyspark.errors import StreamingQueryException

    from py_datalake_move_files_spark.streaming.filestream import (
        file_arrival_stream,
    )

    src = tmp_path / "in"
    for i in range(6):
        spark.range(i, i + 1).selectExpr("id AS file_id").coalesce(
            1
        ).write.parquet(f"{src}/f{i}")

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    crash_flag = tmp_path / "crash_on_batch_1"
    crash_flag.write_text("")

    schema = "file_id BIGINT"

    def handler(batch_df, batch_id):
        if crash_flag.exists() and batch_id >= 1:
            raise RuntimeError("simulated crash before writing batch 1")
        batch_df.withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        ).write.mode("append").parquet(out)

    def start():
        stream = file_arrival_stream(
            spark, f"{src}/*", schema, max_files_per_trigger=2
        )
        return (
            stream.writeStream.foreachBatch(handler)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    try:
        q.awaitTermination(120)
        raise AssertionError("first run should have crashed on batch 1")
    except StreamingQueryException:
        pass

    first = spark.read.parquet(out).collect()
    committed_ids = {r["file_id"] for r in first}
    # the crash landed mid-directory: some but not all files processed,
    # and everything written so far belongs to the committed batch 0
    assert 0 < len(committed_ids) < 6
    assert {r["batch_id"] for r in first} == {0}

    crash_flag.unlink()
    q2 = start()
    q2.awaitTermination(120)

    rows = spark.read.parquet(out).collect()
    per_id = {}
    for r in rows:
        per_id[r["file_id"]] = per_id.get(r["file_id"], 0) + 1
    # every file exactly once: committed batch 0 was NOT reprocessed,
    # the uncommitted batch was replayed, the tail was finished
    assert per_id == {i: 1 for i in range(6)}
    # and the restart resumed from the checkpoint, not from scratch:
    # batch 0's rows still carry their original stamp
    restamped = {r["file_id"]: r["batch_id"] for r in rows}
    for fid in committed_ids:
        assert restamped[fid] == 0


def test_streaming_changepoint_matches_batch(spark, sf_small, tmp_path):
    """Daily-count ingest + changepoint reader: after a full availableNow
    drain over the events corpus (delivered as multiple file batches),
    changepoint_from_state must equal the batch changepoint_daily_events
    row for row — and a simulated REPLAY (re-appending one batch's cells
    with the same batch_id) must not change the answer."""
    from py_datalake_move_files_spark.catalog import load_table
    from py_datalake_move_files_spark.queries import QUERIES
    from py_datalake_move_files_spark.streaming.filestream import (
        changepoint_from_state,
        file_arrival_stream,
        foreach_batch_daily_count_ingest,
    )

    src = tmp_path / "in"
    ev = _events_files(spark, sf_small, str(src))
    state = str(tmp_path / "state")

    stream = file_arrival_stream(
        spark, f"{src}/*", ev.schema, max_files_per_trigger=1
    )
    q = foreach_batch_daily_count_ingest(
        stream, str(tmp_path / "ckpt"), state_path=state
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    got = changepoint_from_state(spark, state).collect()
    want = QUERIES["changepoint_daily_events"](spark, sf_small).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    # at-least-once replay: duplicate one batch's rows verbatim
    raw = spark.read.parquet(state)
    first = raw.where(
        F.col("batch_id") == raw.agg(F.min("batch_id")).collect()[0][0]
    )
    first.write.mode("append").parquet(state)
    again = changepoint_from_state(spark, state).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in want]


def test_watermark_drops_straggler_after_window_eviction(spark, tmp_path):
    """The watermark contract, proven end-to-end at the point Spark
    actually GUARANTEES it: a straggler arriving after its window has
    been emitted-and-evicted is dropped (were it not, append mode would
    emit a duplicate 09:00 window row — a sink correctness violation).
    A straggler arriving while the window state is still live is merged
    (batch 2's emission below includes nothing late, because the
    watermark advanced past the window BEFORE batch 3 delivered one).

    Batch 1 fills the 09:00 window and advances the watermark to 10:05;
    batch 2's on-time row triggers the window's emission + eviction;
    batch 3 delivers a 09:30 straggler — it must vanish: exactly ONE
    09:00 row in the sink, counting the three on-time events."""
    import datetime as dt
    import time as _t

    from py_datalake_move_files_spark.streaming.filestream import (
        file_arrival_stream,
        to_parquet_sink,
        tumbling_event_stats,
    )

    src = tmp_path / "in"
    day = dt.datetime(2024, 6, 1)

    def ev(h, m, i):
        return (i, day + dt.timedelta(hours=h, minutes=m), "view", 1.0)

    schema = "event_id long, ts timestamp, event_type string, value double"
    batches = [
        # window 09:00 + a row pushing the watermark to 12:05-2h = 10:05
        [ev(9, 10, 1), ev(9, 20, 2), ev(9, 40, 3), ev(12, 5, 4)],
        [ev(12, 30, 5)],  # on-time; its batch emits + evicts window 09
        [ev(9, 30, 6), ev(13, 0, 7)],  # straggler + on-time
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
        _t.sleep(1.1)  # file source orders batches by modification time

    stream = file_arrival_stream(
        spark, f"{src}/*", spark.read.parquet(f"{src}/b0").schema,
        max_files_per_trigger=1,
    )
    agg = tumbling_event_stats(stream, window="1 hour", watermark="2 hours")
    q = to_parquet_sink(
        agg, str(tmp_path / "out"), str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    nine = [
        r["n"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
        if r["window_start"].hour == 9
    ]
    # exactly one emission of the 09:00 window, straggler excluded
    assert nine == [3]


def test_streaming_first_touch_matches_batch(spark, sf_small, tmp_path):
    """First-touch ingest + reader: after a full availableNow drain over
    the events corpus (multiple file batches), the streamed
    cumulative-distinct-users series must equal the batch
    cumulative_distinct_users query row for row — the first-touch min and
    the day grid are both mergeable monoids. A simulated at-least-once
    REPLAY (re-appending one batch's cells verbatim) must not change the
    answer."""
    from py_datalake_move_files_spark.catalog import load_table
    from py_datalake_move_files_spark.queries import QUERIES
    from py_datalake_move_files_spark.streaming.filestream import (
        cumulative_distinct_users_from_state,
        file_arrival_stream,
        foreach_batch_first_touch_ingest,
    )

    src = tmp_path / "in"
    ev = _events_files(spark, sf_small, str(src))
    state = str(tmp_path / "state")

    stream = file_arrival_stream(
        spark, f"{src}/*", ev.schema, max_files_per_trigger=1
    )
    q = foreach_batch_first_touch_ingest(
        stream, str(tmp_path / "ckpt"), state_path=state
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    want = [
        tuple(r)
        for r in QUERIES["cumulative_distinct_users"](spark, sf_small)
        .orderBy("day")
        .collect()
    ]
    got = [
        tuple(r)
        for r in cumulative_distinct_users_from_state(spark, state)
        .orderBy("day")
        .collect()
    ]
    assert got == want

    # at-least-once replay: duplicate one batch's rows verbatim
    raw = spark.read.parquet(state)
    first = raw.where(
        F.col("batch_id") == raw.agg(F.min("batch_id")).collect()[0][0]
    )
    first.write.mode("append").parquet(state)
    again = [
        tuple(r)
        for r in cumulative_distinct_users_from_state(spark, state)
        .orderBy("day")
        .collect()
    ]
    assert again == want


def test_streaming_first_touch_string_user_ids(spark, sf_small, tmp_path):
    """ADVICE r8: a deployment whose user_id column is a STRING must ingest
    cleanly — the state key is cast to string on both the user rows and the
    day-grid sentinel rows, so unionByName cannot type-mismatch at the
    first micro-batch. The served series must still equal the batch answer
    (distinct-count is invariant under the injective id relabel)."""
    from py_datalake_move_files_spark.catalog import load_table
    from py_datalake_move_files_spark.queries import QUERIES
    from py_datalake_move_files_spark.streaming.filestream import (
        cumulative_distinct_users_from_state,
        file_arrival_stream,
        foreach_batch_first_touch_ingest,
    )

    ev = load_table(spark, sf_small, "events").withColumn(
        "user_id", F.concat(F.lit("u-"), F.col("user_id").cast("string"))
    )
    src = tmp_path / "in"
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(f"{src}/b0")
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(f"{src}/b1")
    state = str(tmp_path / "state")

    stream = file_arrival_stream(
        spark, f"{src}/*", ev.schema, max_files_per_trigger=1
    )
    q = foreach_batch_first_touch_ingest(
        stream, str(tmp_path / "ckpt"), state_path=state
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    want = [
        tuple(r)
        for r in QUERIES["cumulative_distinct_users"](spark, sf_small)
        .orderBy("day")
        .collect()
    ]
    got = [
        tuple(r)
        for r in cumulative_distinct_users_from_state(spark, state)
        .orderBy("day")
        .collect()
    ]
    assert got == want
