"""End-to-end move/copy sink tests on real local files: plan → execute →
audit, covering copy, move (verified delete), dry-run, error-as-status, and
the full pipeline-A flow (manifest CSV → listing scan → plan → execute)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from py_datalake_move_files_spark.catalog import MANIFEST_SCHEMA, read_manifest_csv
from py_datalake_move_files_spark.operators.manifest import build_archive_plan
from py_datalake_move_files_spark.plans.movecopy import (
    audit_summary,
    execute_plan,
)
from py_datalake_move_files_spark.sources.files import list_files


def _mk_tree(root, names, content=b"payload"):
    for n in names:
        p = os.path.join(root, n)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(content + n.encode())


def _plan_df(spark, pairs):
    return spark.createDataFrame(pairs, ["source_path", "target_path"])


def test_copy_executes_and_audits(spark, tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    _mk_tree(str(src), ["a.txt", "sub/b.txt"])
    plan = _plan_df(
        spark,
        [
            (f"{src}/a.txt", f"{dst}/a.txt"),
            (f"{src}/sub/b.txt", f"{dst}/sub/b.txt"),
        ],
    )
    audit = execute_plan(plan, mode="copy").collect()
    assert {a.status for a in audit} == {"ok"}
    assert (dst / "sub" / "b.txt").read_bytes().endswith(b"sub/b.txt")
    assert (src / "a.txt").exists()  # copy keeps source


def test_move_deletes_source_after_verified_copy(spark, tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    _mk_tree(str(src), ["a.txt"])
    plan = _plan_df(spark, [(f"{src}/a.txt", f"{dst}/a.txt")])
    audit = execute_plan(plan, mode="move").collect()
    assert audit[0].status == "ok"
    assert not (src / "a.txt").exists()
    assert (dst / "a.txt").exists()


def test_missing_source_is_error_status_not_crash(spark, tmp_path):
    plan = _plan_df(
        spark, [(f"{tmp_path}/nope.txt", f"{tmp_path}/out.txt"), (None, None)]
    )
    audit = execute_plan(plan, mode="copy").collect()
    statuses = {a.source_path: a.status for a in audit}
    assert statuses[f"{tmp_path}/nope.txt"] == "error"
    assert all(a.reason for a in audit if a.status == "error")


def test_dry_run_touches_nothing(spark, tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    _mk_tree(str(src), ["a.txt"])
    audit = execute_plan(
        _plan_df(spark, [(f"{src}/a.txt", f"{dst}/a.txt")]), mode="move", dry_run=True
    ).collect()
    assert audit[0].status == "planned"
    assert (src / "a.txt").exists() and not dst.exists()


def test_dry_run_plan_has_no_exchange(spark, tmp_path):
    """The dry run is a plan artifact: spreading rows over task slots is for
    the executing path only, so no dry run shuffles — with or without a
    ``parallelism`` override."""
    plan = _plan_df(spark, [(f"{tmp_path}/a.txt", f"{tmp_path}/b.txt")])
    for parallelism in (None, 3):
        audit = execute_plan(
            plan, mode="copy", dry_run=True, parallelism=parallelism
        )
        assert "Exchange" not in audit._jdf.queryExecution().executedPlan().toString()


def test_plan_rows_spread_over_all_task_slots(spark, tmp_path):
    """A one-partition plan (a one-file manifest) must not run every copy
    in one task: its rows are spread over all of the session's task slots,
    none of them left idle."""
    src, dst = tmp_path / "src", tmp_path / "dst"
    names = [f"f{i}.txt" for i in range(12)]
    _mk_tree(str(src), names)
    plan = _plan_df(spark, [(f"{src}/{n}", f"{dst}/{n}") for n in names]).coalesce(1)
    audit = execute_plan(plan, mode="copy")
    per_task = {
        r.pid: r["count"]
        for r in audit.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    }
    slots = spark.sparkContext.defaultParallelism
    assert sorted(per_task) == list(range(slots))
    assert sum(per_task.values()) == 12 and min(per_task.values()) > 0
    assert {a.status for a in audit.collect()} == {"ok"}


def test_side_effect_tasks_capped_at_task_slots(spark, tmp_path):
    """A plan arriving with more partitions than task slots (a scan with
    many small splits) runs in at most ``defaultParallelism`` side-effect
    tasks, not one Python task per incoming partition."""
    src, dst = tmp_path / "src", tmp_path / "dst"
    names = [f"f{i}.txt" for i in range(4)]
    _mk_tree(str(src), names)
    plan = _plan_df(spark, [(f"{src}/{n}", f"{dst}/{n}") for n in names]).repartition(16)
    audit = execute_plan(plan, mode="move")
    assert audit.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    assert {a.status for a in audit.collect()} == {"ok"}
    assert sorted(os.listdir(dst)) == names and os.listdir(src) == []


def test_audit_summary_same_rows_without_range_partitioning(spark):
    """audit_summary returns the rows, in the order, of the global
    ``orderBy`` it replaces, without that sort's range-partition
    sampling."""
    from py_datalake_move_files_spark.plans.movecopy import AUDIT_SCHEMA

    outcomes = [
        ("move", "ok"), ("copy", "error"), ("copy", "ok"), ("delete", "ok"),
        ("copy", "initiated"), ("move", "error"), ("copy", "ok"), ("move", None),
    ]
    audit = spark.createDataFrame(
        [(f"s{i}", f"t{i}", a, st, None) for i, (a, st) in enumerate(outcomes * 3)],
        AUDIT_SCHEMA,
    ).repartition(5)
    summary = audit_summary(audit)
    got = summary.collect()
    want = audit.groupBy("action", "status").count().orderBy("action", "status").collect()
    assert got == want
    plan = summary._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()


def test_audit_actions_do_not_rerun_side_effects(spark, tmp_path):
    """ADVICE r01: the audit used to be a lazy mapInPandas frame, so every
    count/show re-ran the copy/delete — in move mode the second action saw
    missing sources and reported spurious errors. The audit is now eager."""
    src, dst = tmp_path / "src", tmp_path / "dst"
    _mk_tree(str(src), [f"f{i}.txt" for i in range(4)])
    plan = _plan_df(
        spark, [(f"{src}/f{i}.txt", f"{dst}/f{i}.txt") for i in range(4)]
    )
    audit = execute_plan(plan, mode="move")
    first = {a.status for a in audit.collect()}
    second = {a.status for a in audit.collect()}  # would re-run if lazy
    assert first == second == {"ok"}
    assert audit.where(F.col("status") == "error").count() == 0


def test_rerun_of_completed_move_is_idempotent_ok(spark, tmp_path):
    """A task retry (or a re-submitted plan) revisiting an already-moved row
    must report ok, not FileNotFoundError: source gone + target present."""
    src, dst = tmp_path / "src", tmp_path / "dst"
    _mk_tree(str(src), ["a.txt"])
    plan = _plan_df(spark, [(f"{src}/a.txt", f"{dst}/a.txt")])
    assert execute_plan(plan, mode="move").collect()[0].status == "ok"
    again = execute_plan(plan, mode="move").collect()[0]
    assert again.status == "ok" and again.reason == "already completed"
    # delete is idempotent the same way
    d1 = execute_plan(plan, mode="delete").collect()[0]
    assert d1.status == "ok" and d1.reason == "already absent"


def test_ignore_missing_files_conf_is_restored(spark, tmp_path):
    """ADVICE r01: executing a plan must not permanently flip
    spark.sql.files.ignoreMissingFiles for the whole session."""
    src, dst = tmp_path / "src", tmp_path / "dst"
    _mk_tree(str(src), ["a.txt"])
    before = spark.conf.get("spark.sql.files.ignoreMissingFiles", None)
    execute_plan(_plan_df(spark, [(f"{src}/a.txt", f"{dst}/a.txt")]), mode="copy")
    assert spark.conf.get("spark.sql.files.ignoreMissingFiles", None) == before


def test_progress_counts_match_audit(spark, tmp_path):
    from py_datalake_move_files_spark.plans.movecopy import PlanProgress

    src, dst = tmp_path / "src", tmp_path / "dst"
    _mk_tree(str(src), [f"f{i}.txt" for i in range(6)])
    pairs = [(f"{src}/f{i}.txt", f"{dst}/f{i}.txt") for i in range(6)]
    pairs.append((f"{src}/missing.txt", f"{dst}/missing.txt"))
    progress = PlanProgress(spark)
    execute_plan(_plan_df(spark, pairs), mode="copy", progress=progress)
    assert progress.snapshot() == (6, 1)


def test_progress_is_observable_mid_job(spark, tmp_path):
    """E2/A2 parity with the reference's per-batch running summaries
    (app/main.py:280-303): ok counts are visible from another driver thread
    BEFORE the blocking execute_plan call returns. Tasks are staggered by
    partition id so completions arrive in distinct waves."""
    import threading
    import time

    from py_datalake_move_files_spark.plans.movecopy import PlanProgress

    src, dst = tmp_path / "src", tmp_path / "dst"
    n = 4
    _mk_tree(str(src), [f"f{i}.txt" for i in range(n)])
    plan = _plan_df(
        spark, [(f"{src}/f{i}.txt", f"{dst}/f{i}.txt") for i in range(n)]
    )
    progress = PlanProgress(spark)
    observed: list[int] = []
    done = threading.Event()

    def poll():
        while not done.is_set():
            observed.append(progress.ok)
            time.sleep(0.02)

    poller = threading.Thread(target=poll, daemon=True)
    poller.start()
    try:
        execute_plan(
            plan, mode="copy", parallelism=n, progress=progress, _stagger_s=0.7
        )
    finally:
        done.set()
        poller.join()
    assert progress.ok == n
    # some poll saw a running (non-zero, non-final) tally
    assert any(0 < v < n for v in observed), observed


def test_pipeline_a_end_to_end(spark, tmp_path):
    """The reference's full pipeline A (app/app.py) on real files:
    manifest CSV → recursive listing → semi/anti plan → copy → audit."""
    src, dst = tmp_path / "raw", tmp_path / "archive"
    _mk_tree(str(src), ["q/1.json", "q/2.json"])
    manifest_csv = tmp_path / "manifest.csv"
    manifest_csv.write_text(
        "QuoteId;unixtimestamp;filename\n"
        "id1;1700000000;q/1.json\n"
        "id2;1700000001;q/2.json\n"
        "id3;1700000002;q/missing.json\n"
    )
    manifest = read_manifest_csv(spark, str(manifest_csv))
    listing = list_files(spark, str(src))
    plan = build_archive_plan(
        manifest,
        listing,
        source_prefix=f"file:{src}",
        target_prefix=f"file:{dst}",
    )
    by_status = {r["status"]: r["count"] for r in plan.groupBy("status").count().collect()}
    assert by_status == {"found": 2, "not_found": 1}

    audit = execute_plan(plan.where(F.col("status") == "found"), mode="copy")
    summary = {(r.action, r.status): r["count"] for r in audit_summary(audit).collect()}
    assert summary == {("copy", "ok"): 2}
    assert (dst / "q" / "1.json").exists() and (dst / "q" / "2.json").exists()


def test_manifest_missing_column_fails_fast(spark, tmp_path):
    """P3 (reference app/app.py:83-86): a manifest without `filename` is
    rejected by name before the positional schema could misalign it."""
    bad = tmp_path / "bad.csv"
    bad.write_text("QuoteId;when;file\nq1;1;a.json\n")
    import pytest

    with pytest.raises(ValueError, match="missing required column.*filename"):
        read_manifest_csv(spark, str(bad))


def test_manifest_columns_resolve_by_header_name(spark, tmp_path):
    """A manifest whose header orders the columns differently from
    MANIFEST_SCHEMA loads each value under its header name, with the
    schema's column order and types (a positional read put the timestamp
    into ``filename``); a malformed timestamp stays NULL."""
    reordered = tmp_path / "reordered.csv"
    reordered.write_text(
        "filename;QuoteId;unixtimestamp\n"
        "q/1.json;id1;1700000000\n"
        "q/2.json;id2;not-a-number\n"
    )
    df = read_manifest_csv(spark, str(reordered))
    assert df.schema == MANIFEST_SCHEMA
    assert sorted(map(tuple, df.collect())) == [
        ("id1", 1700000000, "q/1.json"),
        ("id2", None, "q/2.json"),
    ]


def test_manifest_with_only_filename_plans_files(spark, tmp_path):
    """The reference reads its manifest by name, so a ``filename``-only
    manifest is valid (app/app.py:80-89): its files are planned, and the
    absent optional columns are typed NULLs (a positional read loaded
    every ``filename`` as NULL and planned nothing)."""
    src = tmp_path / "raw"
    _mk_tree(str(src), ["q/1.json", "q/2.json"])
    only = tmp_path / "only_filename.csv"
    only.write_text("filename\nq/1.json\nq/2.json\n")
    manifest = read_manifest_csv(spark, str(only))
    assert manifest.schema == MANIFEST_SCHEMA
    assert sorted(map(tuple, manifest.collect())) == [
        (None, None, "q/1.json"),
        (None, None, "q/2.json"),
    ]
    plan = build_archive_plan(
        manifest,
        list_files(spark, str(src)),
        source_prefix=f"file:{src}",
        target_prefix=f"file:{tmp_path / 'archive'}",
    )
    assert plan.where(F.col("status") == "found").count() == 2


def test_real_task_retry_hits_idempotent_path(tmp_path):
    """Genuine Spark task retry (not a plan re-run): under local[2,2] every
    task's first attempt dies AFTER its side effects via the chaos hook;
    the retried attempt must find source-gone/target-present and report
    'already completed' — files moved exactly once, zero errors."""
    import subprocess
    import sys as _sys

    script = f"""
import sys
sys.path.insert(0, {str(_REPO)!r})
from py_datalake_move_files_spark.session import get_spark
from py_datalake_move_files_spark.plans.movecopy import execute_plan

spark = get_spark("retry-test", master="local[2,2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
import os
src, dst = {str(tmp_path / 'src')!r}, {str(tmp_path / 'dst')!r}
os.makedirs(src)
for i in range(4):
    open(os.path.join(src, f"f{{i}}.txt"), "w").write("x" * (i + 1))
plan = spark.createDataFrame(
    [(f"{{src}}/f{{i}}.txt", f"{{dst}}/f{{i}}.txt") for i in range(4)],
    ["source_path", "target_path"],
)
audit = execute_plan(plan, mode="move", _fail_task_once=True).collect()
print("STATUSES", sorted({{a.status for a in audit}}))
print("COMPLETED", sum(1 for a in audit if a.reason == "already completed"))
print("MOVED", sorted(os.listdir(dst)), "SRC_LEFT", os.listdir(src))
spark.stop()
"""
    r = subprocess.run(
        [_sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "STATUSES ['ok']" in r.stdout
    assert "COMPLETED 4" in r.stdout  # every row re-audited by the retry
    assert "MOVED ['f0.txt', 'f1.txt', 'f2.txt', 'f3.txt'] SRC_LEFT []" in r.stdout


def _testfs_factory(backing_root: str):
    """scheme -> handler factory for the fake lake scheme ``testfs://``,
    mapping ``testfs://lake/<rel>`` onto ``<backing_root>/<rel>``. Defined
    via inline classes so cloudpickle ships it BY VALUE to executor
    workers (which cannot import the tests package). Every operation goes
    through the handler protocol — os.path can't interpret a
    ``testfs://`` URL, so green statuses PROVE the routing."""
    import os as _os

    prefix = "testfs://lake/"

    class TestFsOps:
        def _local(self, p):
            assert p.startswith(prefix), p
            return _os.path.join(backing_root, p[len(prefix):])

        def exists(self, p):
            return _os.path.exists(self._local(p))

        def size(self, p):
            return _os.path.getsize(self._local(p))

        def mkparents(self, p):
            d = _os.path.dirname(self._local(p))
            if d:
                _os.makedirs(d, exist_ok=True)

        def remove(self, p):
            _os.remove(self._local(p))

        def open_read(self, p):
            return open(self._local(p), "rb")

        def open_write(self, p):
            return open(self._local(p), "wb")

    def factory(scheme):
        return TestFsOps() if scheme == "testfs" else None

    return factory


def test_filesystem_contract_non_file_scheme(spark, tmp_path):
    """VERDICT r7 #4: copy / move / delete / mkparents must ride the
    per-scheme filesystem handler under a non-file:// scheme — the
    production remote-lake path (reference app/main.py:149-192) — not the
    local os/shutil fast path."""
    backing = tmp_path / "lake"
    _mk_tree(str(backing), ["a.txt", "sub/b.txt", "c.txt"])
    factory = _testfs_factory(str(backing))

    # copy into a parent dir that does not exist yet (exercises mkparents)
    plan = _plan_df(
        spark,
        [
            ("testfs://lake/a.txt", "testfs://lake/out/deep/a.txt"),
            ("testfs://lake/sub/b.txt", "testfs://lake/out/b.txt"),
        ],
    )
    audit = execute_plan(plan, mode="copy", filesystem_factory=factory).collect()
    assert {a.status for a in audit} == {"ok"}
    assert (backing / "out" / "deep" / "a.txt").read_bytes().endswith(b"a.txt")
    assert (backing / "a.txt").exists()  # copy keeps source

    # move: delete gated on verified remote copy
    plan = _plan_df(spark, [("testfs://lake/c.txt", "testfs://lake/moved/c.txt")])
    audit = execute_plan(plan, mode="move", filesystem_factory=factory).collect()
    assert audit[0].status == "ok"
    assert not (backing / "c.txt").exists()
    assert (backing / "moved" / "c.txt").exists()

    # delete + idempotent re-delete (target col absent: delete-mode plan)
    plan = spark.createDataFrame(
        [("testfs://lake/moved/c.txt",)], ["source_path"]
    )
    a1 = execute_plan(plan, mode="delete", filesystem_factory=factory).collect()
    assert a1[0].status == "ok" and a1[0].reason is None
    assert not (backing / "moved" / "c.txt").exists()
    a2 = execute_plan(plan, mode="delete", filesystem_factory=factory).collect()
    assert a2[0].status == "ok" and a2[0].reason == "already absent"


def test_cross_scheme_copy_streams_between_handlers(spark, tmp_path):
    """A testfs:// source copied to a local target exercises the
    handler→handler streaming path (lake → local staging)."""
    backing = tmp_path / "lake"
    _mk_tree(str(backing), ["x.bin"], content=b"Z" * (3 << 20))
    factory = _testfs_factory(str(backing))
    dst = tmp_path / "stage" / "x.bin"
    plan = _plan_df(spark, [("testfs://lake/x.bin", str(dst))])
    audit = execute_plan(plan, mode="copy", filesystem_factory=factory).collect()
    assert audit[0].status == "ok"
    assert dst.read_bytes() == (backing / "x.bin").read_bytes()


def test_unknown_scheme_without_pyarrow_support_is_error_status(spark, tmp_path):
    """A scheme neither the factory nor pyarrow recognizes must surface as
    a per-file error status (E3), never a task crash."""
    plan = _plan_df(
        spark, [("bogus12://nowhere/a", "bogus12://nowhere/b")]
    )
    audit = execute_plan(plan, mode="copy").collect()
    assert audit[0].status == "error"


# --- fs-kit unit tests (ADVICE r8) ------------------------------------------


def test_scheme_of_bare_colon_segment_is_local():
    """A bare relative path whose first segment contains a colon
    ('backup:2024/file.bin') is a legal LOCAL path, not a 'backup' scheme:
    remote routing requires an explicit '://' (or a file: URI)."""
    from py_datalake_move_files_spark.plans.movecopy import _fs_kit

    scheme_of = _fs_kit()["scheme_of"]
    assert scheme_of("backup:2024/file.bin") == ""
    assert scheme_of("plain/relative/path.txt") == ""
    assert scheme_of("/abs/with:colon/later.txt") == ""
    assert scheme_of("file:/tmp/x") == ""
    assert scheme_of("file:///tmp/x") == ""
    assert scheme_of("s3://bucket/key") == "s3"
    assert scheme_of("abfss://c@acct.dfs.example/path") == "abfss"


def test_bare_colon_segment_path_copies_via_local_handler(spark, tmp_path):
    """E2E: a plan row whose source is a relative path with a colon in its
    first segment rides the os/shutil local handler (green status), not a
    pyarrow from_uri error. The relative path is created under the WORKER
    cwd, discovered at runtime (local mode shares the driver JVM cwd)."""
    import os
    import shutil
    import uuid

    worker_cwd = (
        spark.range(1)
        .mapInPandas(
            lambda it: (
                __import__("pandas").DataFrame({"cwd": [__import__("os").getcwd()]})
                for _ in it
            ),
            "cwd string",
        )
        .collect()[0][0]
    )
    reldir = f"colon:seg-{uuid.uuid4().hex[:8]}"
    absdir = os.path.join(worker_cwd, reldir)
    os.makedirs(absdir)
    try:
        with open(os.path.join(absdir, "f.bin"), "wb") as fh:
            fh.write(b"payload")
        dst = tmp_path / "out" / "f.bin"
        plan = _plan_df(spark, [(f"{reldir}/f.bin", str(dst))])
        audit = execute_plan(plan, mode="copy").collect()
        assert audit[0].status == "ok", audit[0].reason
        assert dst.read_bytes() == b"payload"
    finally:
        shutil.rmtree(absdir, ignore_errors=True)


def test_arrowops_caches_filesystem_per_authority(tmp_path):
    """The pyarrow default resolves FileSystem.from_uri ONCE per
    (scheme, authority): the second path on the same authority reuses the
    cached filesystem instance and only recomputes the relative path."""
    from py_datalake_move_files_spark.plans.movecopy import _fs_kit

    ops = _fs_kit()["ArrowOps"]()
    (tmp_path / "a.txt").write_bytes(b"A")
    (tmp_path / "b.txt").write_bytes(b"BB")

    f1, rel1 = ops._pair(f"file://{tmp_path}/a.txt")
    f2, rel2 = ops._pair(f"file://{tmp_path}/b.txt")
    assert f1 is f2  # cached instance, not a re-resolve
    assert len(ops._fs_cache) == 1
    assert rel1.endswith("/a.txt") and rel2.endswith("/b.txt")
    # the cached handler still does real I/O correctly
    assert ops.exists(f"file://{tmp_path}/a.txt")
    assert ops.size(f"file://{tmp_path}/b.txt") == 2
    assert not ops.exists(f"file://{tmp_path}/missing.txt")
    assert len(ops._fs_cache) == 1


def test_arrowops_bucket_style_rel_paths():
    """Bucket-in-path stores (s3/gs: from_uri rel == netloc + path) get the
    right relative path from the cache without re-resolving — pinned with a
    pre-seeded cache entry so no cloud SDK/network is touched."""
    from py_datalake_move_files_spark.plans.movecopy import _fs_kit

    ops = _fs_kit()["ArrowOps"]()
    sentinel = object()
    ops._fs_cache[("s3", "bucket")] = (sentinel, "netloc+path")
    f, rel = ops._pair("s3://bucket/prefix/key.parquet")
    assert f is sentinel
    assert rel == "bucket/prefix/key.parquet"
    # authority-in-fs stores (hdfs) keep the bare path
    ops._fs_cache[("hdfs", "nn:8020")] = (sentinel, "path")
    f, rel = ops._pair("hdfs://nn:8020/data/x.parquet")
    assert f is sentinel
    assert rel == "/data/x.parquet"
