"""Plan-then-execute move/copy sink (SURVEY.md §2.1 S7-S10, §2.11 E1-E5).

The reference mutates the lake inside hand-rolled thread batches
(app/app.py:174-187 copy; app/main.py:278-303 download→upload→delete) and
reports via prints. Here mutation is split into:

1. a pure **plan DataFrame** ``(source_path, target_path, ...)`` — the
   dry-run, satisfying the reference's interactive-confirm gate
   (app/main.py:269-272) as an inspectable artifact instead of ``input()``;
2. :func:`execute_plan`, which runs the side effects distributed via
   ``mapInPandas`` (the plan rows are spread evenly over the session's task
   slots, one task per slot, in place of MAX_WORKERS threads; Spark's
   scheduler + AQE replace BATCH_SIZE/gc, app/app.py:33,174) and
   returns an **audit DataFrame** ``(source_path, target_path, action,
   status, reason)`` — the reference's success/failure tally
   (app/main.py:305-309) becomes ``audit.groupBy("status").count()``.

Move gates the source delete on a verified copy (the reference deletes
blindly after upload, app/main.py:184-185 — SURVEY.md §7.3.2). Copy is
idempotent: re-running a plan overwrites targets (upload ``overwrite=True``
semantics, app/main.py:179-182).

I/O is scheme-routed inside each task: bare and ``file:`` paths take a
plain ``os``/``shutil`` fast path; any other scheme (``s3://``,
``gs://``, ``hdfs://``, ``abfs://`` …) resolves a per-scheme filesystem
handler — the ``filesystem_factory`` argument first (contract tests, or a
client tuned for one store), then ``pyarrow.fs.FileSystem.from_uri`` as
the generic production default. The plan and audit contracts don't
change with the scheme, and ``tests/test_movecopy.py`` pins the contract
under a non-``file://`` test scheme.

Each side-effect task starts with ``worker_preamble()``
(``functions/worker.py``): on CPython 3.11 and 3.12 Spark's per-task
``importlib.invalidate_caches()`` re-reads every cached zip importer's
archive, about 0.25 s per task, and the preamble drops those importers so
the next task on a reused worker skips it. On the ``lake_move`` benchmark
(4-core host) that cut the side-effect stages from 1.29 s to 0.74 s per
pass, over the same 33 tasks.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from py_datalake_move_files_spark.functions.worker import make_worker_preamble

AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("source_path", T.StringType()),
        T.StructField("target_path", T.StringType()),
        T.StructField("action", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("reason", T.StringType()),
    ]
)


class PlanProgress:
    """Running ok/error tallies for an in-flight :func:`execute_plan` —
    the reference's per-batch running summaries (app/main.py:280-303) as
    task-level accumulators. Executor tasks add their per-file outcomes;
    Spark delivers updates as each task completes, so any driver thread can
    poll ``.ok`` / ``.error`` while the plan is still executing (the CLI
    prints them once a second)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._ok = sc.accumulator(0)
        self._error = sc.accumulator(0)

    @property
    def ok(self) -> int:
        return self._ok.value

    @property
    def error(self) -> int:
        return self._error.value

    def snapshot(self) -> tuple[int, int]:
        return self._ok.value, self._error.value


def _fs_kit() -> dict:
    """Scheme-routing + per-scheme I/O handlers for :func:`execute_plan`
    workers. Everything is defined INSIDE this function body on purpose:
    cloudpickle serializes dynamically-defined functions/classes by value,
    so capturing the kit in the worker closure keeps executors free of any
    dependency on this package (stdlib + site-package imports only), while
    the driver-side tests can still call ``_fs_kit()`` and unit-test the
    routing and caching logic directly."""
    import os as _os
    from urllib.parse import urlsplit as _urlsplit

    def local(p: str) -> str:
        return p[5:] if p.startswith("file:") else p

    def scheme_of(p: str) -> str:
        # A parsed scheme counts as remote only when the path carries an
        # explicit "://" marker (or is a file: URI). A bare relative local
        # path whose first segment contains a colon — e.g.
        # "backup:2024/file.bin" — would otherwise urlsplit to scheme
        # "backup" and be mis-routed to pyarrow from_uri (ADVICE r8).
        if "://" not in p and not p.startswith("file:"):
            return ""
        s = _urlsplit(p).scheme
        return "" if s == "file" else s

    class LocalOps:
        """os/shutil as the handler protocol, so mixed local↔remote
        pairs stream through one code path."""

        def exists(self, p):
            return _os.path.exists(local(p))

        def size(self, p):
            return _os.path.getsize(local(p))

        def mkparents(self, p):
            _os.makedirs(_os.path.dirname(local(p)) or ".", exist_ok=True)

        def remove(self, p):
            _os.remove(local(p))

        def open_read(self, p):
            return open(local(p), "rb")

        def open_write(self, p):
            return open(local(p), "wb")

    class ArrowOps:
        """Generic non-local default: pyarrow.fs resolves the scheme
        (s3://, gs://, hdfs:// …). The resolved filesystem is cached
        per (scheme, authority) — one move touches a path ~6 times
        (exists×2, mkparents, open_read, open_write, size) and
        re-resolving each call re-authenticates on some stores
        (ADVICE r8). Only the relative path is recomputed per call;
        the rel-path convention (bucket-in-path for s3/gs vs
        authority-in-fs for hdfs) is learned from the first from_uri
        result per authority, with a per-path from_uri fallback for
        anything that matches neither convention. Heavy-client stores
        should still inject a filesystem_factory instead."""

        def __init__(self):
            # (scheme, netloc) -> (filesystem, rel_style)
            self._fs_cache: dict[tuple, tuple] = {}

        def _pair(self, p):
            from pyarrow import fs as _pafs

            parts = _urlsplit(p)
            key = (parts.scheme, parts.netloc)
            hit = self._fs_cache.get(key)
            if hit is not None:
                f, style = hit
                if style == "netloc+path":  # s3://bucket/k -> "bucket/k"
                    return f, parts.netloc + parts.path
                if style == "path":  # hdfs://host/p -> "/p"
                    return f, parts.path
                # unknown convention: fall through to per-path resolve
            f, rel = _pafs.FileSystem.from_uri(p)
            if hit is None:
                if rel == parts.netloc + parts.path:
                    style = "netloc+path"
                elif rel == parts.path:
                    style = "path"
                else:
                    style = None
                self._fs_cache[key] = (f, style)
            return f, rel

        def _info(self, p):
            f, rel = self._pair(p)
            return f.get_file_info(rel)

        def exists(self, p):
            from pyarrow import fs as _pafs

            return self._info(p).type != _pafs.FileType.NotFound

        def size(self, p):
            return self._info(p).size

        def mkparents(self, p):
            f, rel = self._pair(p)
            parent = rel.rsplit("/", 1)[0] if "/" in rel else ""
            if parent:
                f.create_dir(parent, recursive=True)

        def remove(self, p):
            f, rel = self._pair(p)
            f.delete_file(rel)

        def open_read(self, p):
            f, rel = self._pair(p)
            return f.open_input_stream(rel)

        def open_write(self, p):
            f, rel = self._pair(p)
            return f.open_output_stream(rel)

    return {
        "local": local,
        "scheme_of": scheme_of,
        "LocalOps": LocalOps,
        "ArrowOps": ArrowOps,
    }


def execute_plan(
    plan: DataFrame,
    *,
    mode: str = "copy",
    dry_run: bool = False,
    parallelism: int | None = None,
    progress: PlanProgress | None = None,
    filesystem_factory=None,
    _stagger_s: float = 0.0,
    _fail_task_once: bool = False,
) -> DataFrame:
    """Execute a move/copy plan; return the (eager) audit DataFrame.

    ``mode``: ``"copy"`` (S8), ``"move"`` (S7+S9 — delete gated on a
    verified copy: target must exist and match source size before the source
    is removed), or ``"delete"`` (retention/vacuum: removes the source;
    ``target_path`` is ignored and may be absent). ``dry_run=True`` returns
    the audit with status ``planned`` and touches nothing (E5).

    ``parallelism``: how many side-effect tasks to run. The plan rows are
    spread evenly (round-robin) over that many partitions before they are
    checkpointed, whatever partitioning the plan arrived with. The default
    is the session's task slots (``sparkContext.defaultParallelism``): a
    one-partition manifest plan still uses every core, and a plan with many
    small scan partitions does not start a Python task per handful of
    files. ``dry_run`` ignores it.

    ``progress``: optional :class:`PlanProgress` whose ok/error counters the
    tasks update as they complete — running-tally visibility while this call
    blocks. ``_stagger_s`` is a test-only hook delaying each task by
    ``partitionId * _stagger_s`` seconds so tests can observe non-final
    progress deterministically. ``_fail_task_once`` is the chaos hook: each
    task's FIRST attempt raises AFTER its side effects complete, so a
    retry-capable master (``local[N,2]``, any real cluster) re-runs the
    task against already-mutated storage — validating the idempotent-retry
    audit path under genuine Spark task retries, not just plan re-runs.

    ``filesystem_factory``: optional ``scheme -> handler | None`` callable
    (cloudpickled into the tasks, so define it inline or against
    site-packages only). A handler owns every path of its scheme and must
    expose ``exists(url)``, ``size(url)``, ``mkparents(url)``,
    ``remove(url)``, ``open_read(url)`` and ``open_write(url)`` (binary
    file-likes). Bare and ``file:`` paths always take the local
    ``os``/``shutil`` fast path; other schemes fall back to
    ``pyarrow.fs.FileSystem.from_uri`` when the factory is absent or
    returns ``None`` — pass a factory to pin credentials/clients per
    store (one client per scheme per task, not per file).
    """
    if mode not in ("copy", "move", "delete"):
        raise ValueError(f"mode must be copy|move|delete, got {mode!r}")

    if mode == "delete" and "target_path" not in plan.columns:
        plan = plan.withColumn("target_path", F.lit(None).cast("string"))
    rows = plan.select("source_path", "target_path")
    if dry_run:
        return rows.select(
            "source_path",
            "target_path",
            F.lit(mode).alias("action"),
            F.lit("planned").alias("status"),
            F.lit(None).cast("string").alias("reason"),
        )

    # Plans are usually derived from a live file listing (binaryFile) that
    # this very execution mutates. Two defenses:
    # 1. the plan scan tolerates files deleted between listing and read (a
    #    re-executed stale plan sees the survivors instead of crashing) —
    #    scoped to this checkpoint only, then restored, so the session's
    #    other reads keep strict missing-file semantics;
    # 2. localCheckpoint materializes the (source, target) paths and cuts the
    #    lineage, so replaying the returned audit never re-scans.
    # The spread over task slots happens BEFORE the checkpoint: each
    # side-effect task then reads a fixed row set, so a retried task
    # re-runs exactly the rows its failed attempt touched.
    sess = plan.sparkSession
    rows = rows.repartition(parallelism or sess.sparkContext.defaultParallelism)
    prev_imf = sess.conf.get("spark.sql.files.ignoreMissingFiles", None)
    sess.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    try:
        rows = rows.localCheckpoint(eager=True)
    finally:
        if prev_imf is None:
            sess.conf.unset("spark.sql.files.ignoreMissingFiles")
        else:
            sess.conf.set("spark.sql.files.ignoreMissingFiles", prev_imf)

    _fail_once = _fail_task_once
    do_move = mode == "move"
    do_delete = mode == "delete"
    acc_ok = progress._ok if progress is not None else None
    acc_error = progress._error if progress is not None else None
    fs_factory = filesystem_factory

    # The fs kit is built ONCE here on the driver; its functions/classes are
    # defined inside _fs_kit's body, so cloudpickle ships them BY VALUE with
    # the closure — the worker never needs to import this package — while
    # the same kit stays unit-testable on the driver (tests/test_movecopy.py).
    _kit = _fs_kit()
    local = _kit["local"]
    scheme_of = _kit["scheme_of"]
    _LocalOps = _kit["LocalOps"]
    _ArrowOps = _kit["ArrowOps"]
    worker_preamble = make_worker_preamble()

    def run_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # self-contained worker closure (stdlib/site-package imports + locals
        # only) so it deserializes on executors that cannot import this package
        worker_preamble()
        import shutil as _shutil
        import time as _time

        import pandas as _pd

        if _stagger_s:
            from pyspark import TaskContext as _TaskContext

            _time.sleep(_stagger_s * _TaskContext.get().partitionId())

        _local_ops = _LocalOps()
        _handlers: dict[str, object] = {"": _local_ops}

        def ops_for(p: str):
            s = scheme_of(p)
            h = _handlers.get(s)
            if h is None:
                h = fs_factory(s) if fs_factory is not None else None
                if h is None:
                    h = _ArrowOps()
                _handlers[s] = h
            return h

        def stream_copy(hs, src, hd, dst):
            # same-scheme local pairs keep the shutil fast path (sendfile);
            # everything else streams 1 MiB chunks handler→handler, which
            # also covers cross-scheme pairs (lake → local staging etc.)
            if hs is _local_ops and hd is _local_ops:
                _shutil.copyfile(local(src), local(dst))
                return
            with hs.open_read(src) as r, hd.open_write(dst) as w:
                while True:
                    chunk = r.read(1 << 20)
                    if not chunk:
                        break
                    w.write(chunk)

        frames = []
        for batch in batches:
            out = []
            for src, dst in zip(batch["source_path"], batch["target_path"]):
                try:
                    hsrc = ops_for(src)
                    if do_delete:
                        # idempotent: a retried/re-run delete of an
                        # already-removed source is success, not error
                        if not hsrc.exists(src):
                            out.append((src, dst, mode, "ok", "already absent"))
                        else:
                            hsrc.remove(src)
                            out.append((src, dst, mode, "ok", None))
                        continue
                    if dst is None:
                        raise ValueError("no target path (source not found)")
                    hdst = ops_for(dst)
                    # idempotent retry: a Spark task retry (or a re-run of
                    # the same plan) may revisit a row whose move already
                    # completed — source gone, target in place is success,
                    # not a spurious FileNotFoundError
                    if not hsrc.exists(src) and hdst.exists(dst):
                        out.append((src, dst, mode, "ok", "already completed"))
                        continue
                    # mkdir-if-needed, ref app/main.py:167-172
                    hdst.mkparents(dst)
                    stream_copy(hsrc, src, hdst, dst)
                    if do_move:
                        # verified-write gate before delete (SURVEY §7.3.2)
                        if hdst.size(dst) != hsrc.size(src):
                            raise OSError(f"size mismatch after copy: {dst}")
                        hsrc.remove(src)
                    out.append((src, dst, mode, "ok", None))
                except Exception as exc:  # per-file error-as-status, ref app/main.py:190-192
                    out.append((src, dst, mode, "error", f"{type(exc).__name__}: {exc}"))
            if acc_ok is not None:
                n_ok = sum(1 for r in out if r[3] != "error")
                acc_ok.add(n_ok)
                acc_error.add(len(out) - n_ok)
            frame = _pd.DataFrame(
                out,
                columns=["source_path", "target_path", "action", "status", "reason"],
            )
            if _fail_once:
                # chaos mode only: buffer so the raise below lands after
                # ALL side effects — a failed attempt's yields are
                # discarded by Spark anyway
                frames.append(frame)
            else:
                # production path: stream one frame per arrow batch —
                # worker memory stays O(batch), not O(partition)
                yield frame
        if _fail_once:
            from pyspark import TaskContext as _TC

            if _TC.get().attemptNumber() == 0:
                raise RuntimeError(
                    "chaos: task lost after side effects (attempt 0)"
                )
            yield from frames

    # Eagerly materialize: the side effects run exactly ONCE, here — every
    # later action on the returned audit (counts, joins, shows) reads the
    # checkpointed rows instead of re-running copy/delete (ADVICE r01: a
    # lazy mapInPandas re-executed the mutation per action).
    return rows.mapInPandas(run_partition, AUDIT_SCHEMA).localCheckpoint(eager=True)


def audit_summary(audit: DataFrame) -> DataFrame:
    """A2/S10: success/failure totals as a DataFrame, ordered by
    ``(action, status)``. The totals are a handful of rows, so they are
    sorted inside one partition: a global ``orderBy`` would add
    range-partition sampling jobs for nothing."""
    return (
        audit.groupBy("action", "status")
        .count()
        .coalesce(1)
        .sortWithinPartitions("action", "status")
    )
