"""The benchmark's workloads.

Each workload has the same life cycle, driven by ``run.py``:

- ``setup(dir)`` makes the inputs under ``dir`` and warms them up (run
  several times; the last inputs are the ones measured);
- ``run_pass()`` is one timed pass, returning what ``check`` needs;
- ``check(result)`` is untimed: it compares the pass's outputs with ground
  truth, undoes side effects, and returns the pass's :class:`Outcome`.

Within a pass every call into an engine layer sits in its own span, and the
layer's output is materialized at the span's end, so a span times its
layer's own work rather than a lazy plan.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from perfbench import datagen
from perfbench.tracing import Span, Tracer, span_sum, spark_totals

from py_datalake_move_files_spark.catalog import load_table, read_manifest_csv
from py_datalake_move_files_spark.functions.parity import canon_rows, duck_connection
from py_datalake_move_files_spark.operators.manifest import build_archive_plan
from py_datalake_move_files_spark.operators.paths import strip_prefix_rewrite
from py_datalake_move_files_spark.operators.predicates import (
    date_range_predicate,
    json_key_probe_fast,
)
from py_datalake_move_files_spark.plans.movecopy import audit_summary, execute_plan
from py_datalake_move_files_spark.queries import ORACLE, QUERIES
from py_datalake_move_files_spark.sources.files import (
    list_files,
    read_content_after_metadata_filter,
    with_decoded_text,
)

#: two call sites of the bucket cap device (operators.similarity): MinHash
#: LSH bands (high-cardinality keys) and SemDeDup's per-cluster pairing
#: (low-cardinality keys)
NEAR_DUP = (
    "dedup_minhash_lsh",
    "semantic_dedup_summary",
)
#: layers whose self time the traced run reports; ``pass`` is the part of a
#: pass no layer span covers
LAYERS = (
    "pass",
    "pipeline",
    "catalog",
    "sources",
    "manifest",
    "predicates",
    "paths",
    "movecopy",
    "query",
)
LAKE_METRICS = (
    "catalog.manifest_read_s",
    "sources.list_s",
    "sources.files_listed",
    "manifest.plan_s",
    "manifest.found_ratio",
    "sources.content_scan_s",
    "sources.content_mb",
    "predicates.probe_s",
    "predicates.survivor_ratio",
    "paths.rewrite_s",
    "movecopy.execute_s",
    "movecopy.tasks",
    "movecopy.files_per_task",
    "movecopy.errors",
    "movecopy.mb_written",
    "movecopy.audit_s",
    "lake.archive_files_per_s",
    "lake.move_files_per_s",
    "lake.mb_per_s",
)


@dataclass
class Outcome:
    attempted: int
    failed: int
    stats: dict[str, float] = field(default_factory=dict)


class QueryWorkload:
    """A fixed list of registered queries over seeded tables, each checked
    against its DuckDB oracle with the engine's parity canon."""

    def __init__(self, queries, tables, spark, tracer: Tracer, seed, scale):
        self.queries = queries
        self.tables = tables
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.scale = scale
        self.dir = ""
        self._expected: dict[str, tuple[list[str], list]] = {}

    def setup(self, out_dir: str) -> dict[str, float]:
        t0 = time.perf_counter()
        datagen.write_tables(datagen.make_tables(self.seed, self.scale), out_dir)
        t1 = time.perf_counter()
        for name in self.tables:
            load_table(self.spark, out_dir, name).count()
        t2 = time.perf_counter()
        self.dir = out_dir
        self._expected = {}
        return {"generate_s": t1 - t0, "load_table_s": t2 - t1}

    def run_pass(self) -> dict[str, object]:
        out: dict[str, object] = {}
        for q in self.queries:
            try:
                with self.tracer.span(f"query.{q}", jobs=True):
                    df = QUERIES[q](self.spark, self.dir)
                    out[q] = (list(df.columns), df.collect())
            except Exception as exc:  # one failing query must not hide the others
                out[q] = exc
        return out

    def _oracle(self, q: str) -> tuple[list[str], list]:
        if not self._expected:
            con = duck_connection(self.dir)
            try:
                for name in self.queries:
                    cur = con.execute(ORACLE[name])
                    cols = [d[0] for d in cur.description]
                    self._expected[name] = (sorted(cols), canon_rows(cols, cur.fetchall()))
            finally:
                con.close()
        return self._expected[q]

    def check(self, result: dict[str, object]) -> Outcome:
        failed = 0
        for q in self.queries:
            got = result.get(q)
            if isinstance(got, Exception):
                failed += 1
                continue
            cols, rows = got
            want_cols, want_rows = self._oracle(q)
            if sorted(cols) != want_cols or canon_rows(cols, rows) != want_rows:
                failed += 1
        return Outcome(len(self.queries), failed)

    def layer_metrics(self, spans: list[Span], res, outcome: Outcome) -> dict[str, float]:
        return {f"query.{q}.s": span_sum(spans, f"query.{q}") for q in self.queries}


class LakeMove:
    """The reference's own job over a seeded lake.

    Pipeline A archives by manifest (reference app/app.py:176-187); pipeline
    B is list-filter-move (reference app/main.py:149-192, 278-303). After
    each pass the lake is checked against ground truth and reset."""

    def __init__(self, spark, tracer: Tracer, seed: int, n_files: int):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.n_files = n_files
        self.lake: datagen.Lake | None = None
        #: extra (source, target) rows appended to pipeline A's plan; the
        #: benchmark's own tests use it to inject a failing operation
        self.extra_rows: list[tuple[str, str]] = []

    def setup(self, out_dir: str) -> dict[str, float]:
        t0 = time.perf_counter()
        self.lake = datagen.make_lake(self.seed, out_dir, self.n_files)
        t1 = time.perf_counter()
        return {"generate_s": t1 - t0, "load_table_s": 0.0}

    def run_pass(self) -> dict[str, object]:
        try:
            return self._run_pass()
        except Exception as exc:  # counted as a failed pass; check() resets the lake
            return {"error": exc}

    def _run_pass(self) -> dict[str, object]:
        spark, tr, lake = self.spark, self.tracer, self.lake
        src = "file:" + lake.root
        res: dict[str, object] = {}
        with tr.span("pipeline.archive"):
            with tr.span("catalog.read_manifest_csv", jobs=True):
                manifest = read_manifest_csv(spark, lake.manifest).localCheckpoint(
                    eager=True
                )
            with tr.span("sources.list_files", jobs=True):
                listing = list_files(spark, src).localCheckpoint(eager=True)
            with tr.span("manifest.build_archive_plan", jobs=True):
                plan = build_archive_plan(
                    manifest,
                    listing,
                    source_prefix=src,
                    target_prefix="file:" + lake.archive,
                ).localCheckpoint(eager=True)
            found = plan.where(F.col("status") == "found").select(
                "source_path", "target_path"
            )
            if self.extra_rows:
                found = found.unionByName(
                    spark.createDataFrame(
                        self.extra_rows, "source_path string, target_path string"
                    )
                )
            with tr.span("movecopy.execute_plan", jobs=True):
                audit_a = execute_plan(found, mode="copy")
            with tr.span("movecopy.audit_summary", jobs=True):
                res["summary_a"] = audit_summary(audit_a).collect()
        with tr.span("pipeline.move"):
            date_pred = date_range_predicate(
                F.col("modificationTime"),
                after=datagen.MOVE_AFTER,
                before=datagen.MOVE_BEFORE,
                missing_passes=None,
            )
            with tr.span("sources.read_content_after_metadata_filter", jobs=True):
                content = with_decoded_text(
                    read_content_after_metadata_filter(spark, src, date_pred)
                ).select("path", "length", "text").localCheckpoint(eager=True)
            with tr.span("predicates.json_key_probe_fast", jobs=True):
                survivors = (
                    content.where(
                        json_key_probe_fast("text", datagen.PROBE_KEY, datagen.PROBE_VALUE)
                    )
                    .select("path")
                    .localCheckpoint(eager=True)
                )
            with tr.span("paths.strip_prefix_rewrite", jobs=True):
                plan_b = survivors.select(
                    F.col("path").alias("source_path"),
                    strip_prefix_rewrite(
                        F.col("path"), src, "file:" + lake.moved
                    ).alias("target_path"),
                ).localCheckpoint(eager=True)
            with tr.span("movecopy.execute_plan", jobs=True):
                audit_b = execute_plan(plan_b, mode="move")
            with tr.span("movecopy.audit_summary", jobs=True):
                res["summary_b"] = audit_summary(audit_b).collect()
        res.update(
            manifest=manifest,
            listing=listing,
            plan=plan,
            audit_a=audit_a,
            content=content,
            survivors=survivors,
            audit_b=audit_b,
        )
        return res

    def check(self, res: dict[str, object]) -> Outcome:
        """Compare the pass with ground truth, then reset the lake."""
        lake = self.lake
        try:
            return self._check(res)
        finally:
            datagen.reset_lake(lake)

    def _check(self, res: dict[str, object]) -> Outcome:
        lake = self.lake
        attempted = len(lake.expected_found) + len(lake.expected_moved) + len(
            self.extra_rows
        )
        if "error" in res:
            return Outcome(attempted, attempted)
        bad: set[str] = set()

        def rel(uri: str, root: str) -> str:
            path = uri[5:] if uri.startswith("file:") else uri
            return os.path.relpath(path, root)

        counts = dict(res["plan"].groupBy("status").count().collect())
        if counts.get("found", 0) != len(lake.expected_found):
            bad.add("plan:found")
        if counts.get("not_found", 0) != lake.expected_not_found:
            bad.add("plan:not_found")

        audit_a = res["audit_a"].collect()
        audit_b = res["audit_b"].collect()
        for row in audit_a + audit_b:
            if row.status != "ok":
                bad.add(row.source_path)
        errors = sum(1 for row in audit_a + audit_b if row.status != "ok")
        for audit, summary in ((audit_a, res["summary_a"]), (audit_b, res["summary_b"])):
            tally = Counter((r.action, r.status) for r in audit)
            if {(r.action, r.status): r["count"] for r in summary} != tally:
                bad.add("audit_summary")

        copied = {rel(r.source_path, lake.root) for r in audit_a if r.status == "ok"}
        moved = {rel(r.source_path, lake.root) for r in audit_b if r.status == "ok"}
        bad |= copied ^ lake.expected_found
        bad |= moved ^ lake.expected_moved
        for tree, want in ((lake.archive, lake.expected_found), (lake.moved, lake.expected_moved)):
            have = {}
            for dirpath, _, files in os.walk(tree):
                for f in files:
                    p = os.path.join(dirpath, f)
                    have[os.path.relpath(p, tree)] = os.path.getsize(p)
            bad |= set(have) ^ want
            bad |= {r for r in want & set(have) if have[r] != lake.sizes[r]}
        bad |= {r for r in lake.expected_moved if os.path.exists(os.path.join(lake.root, r))}

        if res["content"].count() != len(lake.date_window):
            bad.add("content:count")
        stats = {
            "found": counts.get("found", 0),
            "movecopy.errors": errors,
            "movecopy.mb_written": sum(
                lake.sizes[r] for r in (copied | moved) if r in lake.sizes
            ) / 1e6,
            "files_copied": len(copied),
            "files_moved": len(moved),
        }
        return Outcome(attempted, min(len(bad), attempted), stats)

    def layer_metrics(self, spans: list[Span], res, outcome: Outcome) -> dict[str, float]:
        st = outcome.stats
        if "error" in res:
            return {}
        execute = [sp for sp in spans if sp.name == "movecopy.execute_plan"]
        tasks = spark_totals(execute)["tasks"]
        wall = spans[0].dur
        out = {
            "catalog.manifest_read_s": span_sum(spans, "catalog.read_manifest_csv"),
            "sources.list_s": span_sum(spans, "sources.list_files"),
            "manifest.plan_s": span_sum(spans, "manifest.build_archive_plan"),
            "sources.content_scan_s": span_sum(
                spans, "sources.read_content_after_metadata_filter"
            ),
            "predicates.probe_s": span_sum(spans, "predicates.json_key_probe_fast"),
            "paths.rewrite_s": span_sum(spans, "paths.strip_prefix_rewrite"),
            "movecopy.execute_s": span_sum(spans, "movecopy.execute_plan"),
            "movecopy.tasks": tasks,
            "movecopy.files_per_task": (st.get("files_copied", 0) + st.get("files_moved", 0))
            / max(tasks, 1),
            "movecopy.audit_s": span_sum(spans, "movecopy.audit_summary"),
            "lake.archive_files_per_s": st.get("files_copied", 0)
            / max(span_sum(spans, "pipeline.archive"), 1e-9),
            "lake.move_files_per_s": st.get("files_moved", 0)
            / max(span_sum(spans, "pipeline.move"), 1e-9),
            "lake.mb_per_s": st.get("movecopy.mb_written", 0) / max(wall, 1e-9),
        }
        n_content = res["content"].count()
        out.update(
            {
                "sources.files_listed": res["listing"].count(),
                "manifest.found_ratio": st["found"] / max(res["manifest"].count(), 1),
                "sources.content_mb": sum(self.lake.sizes[r] for r in self.lake.date_window)
                / 1e6,
                "predicates.survivor_ratio": res["survivors"].count() / max(n_content, 1),
                "movecopy.errors": st["movecopy.errors"],
                "movecopy.mb_written": st["movecopy.mb_written"],
            }
        )
        return out


def make_workload(name: str, spark, tracer: Tracer, seed: int, *, scale: float,
                  lake_files: int):
    """``scale`` sizes the query tables (0.01 ≈ 500 documents), ``lake_files``
    the lake."""
    if name == "lake_move":
        return LakeMove(spark, tracer, seed, lake_files)
    if name == "near_dup":
        return QueryWorkload(
            NEAR_DUP, ("documents", "embeddings"), spark, tracer, seed, scale
        )
    raise ValueError(f"unknown workload {name!r}")


QUERY_METRICS = tuple(f"query.{q}.s" for q in NEAR_DUP)
