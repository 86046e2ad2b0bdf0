"""Command-line entry points mirroring the reference's two pipelines, so a
user of ``krben/py-datalake-move-files`` can switch 1:1:

- ``archive``  — pipeline A (reference app/app.py): manifest CSV → existence
  reconciliation against the lake listing → server-side-style copy of the
  found set, with found/not-found samples and totals.
- ``move``     — pipeline B (reference app/main.py): recursive listing →
  date-range + optional JSON content predicate → move (copy + verified
  delete). DRY-RUN by default; ``--execute`` replaces the reference's
  interactive confirmation (app/main.py:269-272) with an explicit flag —
  safer for automation, same gate.

Both print the audit summary the reference printed per batch
(app/app.py:133-152, app/main.py:305-309), but computed from the audit
DataFrame. When any path argument is an ``abfss://`` URI, the session gets
the Azure OAuth conf built from the ``AZURE_*`` credentials in the
environment (config.py); a missing credential is reported before Spark
starts. The plans don't change.

Usage:
    python -m py_datalake_move_files_spark archive \
        --manifest quotes.csv --source /lake/raw --target /lake/archive
    python -m py_datalake_move_files_spark move \
        --source /lake/raw --target /lake/archive \
        --after 2024-01-01 --before 2024-02-01 \
        --json-key SalesCompanyId --json-value 100 --execute
"""

from __future__ import annotations

import argparse
import datetime as dt
import sys
from pathlib import Path

from pyspark.sql import functions as F


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="py_datalake_move_files_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    a = sub.add_parser("archive", help="manifest-driven copy (pipeline A)")
    a.add_argument("--manifest", required=True, help=";-delimited CSV with a filename column")
    a.add_argument("--source", required=True, help="source prefix")
    a.add_argument("--target", required=True, help="target prefix")
    a.add_argument("--execute", action="store_true", help="run the copies (default: dry-run)")
    a.add_argument("--sample", type=int, default=10, help="sample rows to print")

    m = sub.add_parser("move", help="list-filter-move (pipeline B)")
    m.add_argument("--source", required=True)
    m.add_argument("--target", required=True)
    m.add_argument("--after", help="keep files modified on/after (YYYY-MM-DD)")
    m.add_argument("--before", help="keep files modified on/before (YYYY-MM-DD)")
    m.add_argument("--json-key", help="JSON content predicate key")
    m.add_argument("--json-value", help="JSON content predicate value (string-coerced)")
    m.add_argument("--execute", action="store_true", help="run the moves (default: dry-run)")
    m.add_argument("--sample", type=int, default=10)

    v = sub.add_parser("vacuum", help="delete files older than a cutoff (retention)")
    v.add_argument("--source", required=True)
    v.add_argument("--older-than-days", type=int, required=True)
    v.add_argument("--execute", action="store_true", help="run the deletes (default: dry-run)")

    c = sub.add_parser("compact", help="rewrite small files into target-sized files")
    c.add_argument("--source", required=True)
    c.add_argument("--target", required=True)
    c.add_argument("--target-file-mb", type=int, default=128)
    c.add_argument("--format", default="parquet")

    z = sub.add_parser(
        "optimize",
        help="rewrite a table z-order-clustered on the given columns",
    )
    z.add_argument("--source", required=True)
    z.add_argument("--target", required=True)
    z.add_argument(
        "--by",
        required=True,
        help="comma-separated columns to interleave (multi-dim clustering)",
    )
    z.add_argument("--bits", type=int, default=8)
    z.add_argument("--target-file-mb", type=int, default=128)
    z.add_argument("--format", default="parquet")

    q = sub.add_parser(
        "audit", help="data-quality constraint report over a test-table dir"
    )
    q.add_argument("--sf-dir", required=True, help="directory with the parquet tables")
    q.add_argument(
        "--fail-on-violations",
        action="store_true",
        help="exit 2 if any rule reports violations (admission-gate mode)",
    )

    d = sub.add_parser(
        "dedup",
        help="duplicate report over the documents table (exact or near-dup)",
    )
    d.add_argument("--sf-dir", required=True, help="directory with the parquet tables")
    d.add_argument(
        "--mode",
        choices=["exact", "minhash", "simhash"],
        default="exact",
        help="exact hash groups, MinHash-LSH near-dups, or SimHash near-dups",
    )
    d.add_argument(
        "--output",
        help="write the full pair/cluster report as parquet instead of printing",
    )
    d.add_argument(
        "--overwrite",
        action="store_true",
        help="replace an existing --output directory (default: refuse)",
    )
    d.add_argument(
        "--limit", type=int, default=20, help="rows to print (display mode)"
    )

    st = sub.add_parser(
        "selftest",
        help="validate a deployment: run registry queries against their"
        " built-in DuckDB oracles and report per-query parity",
    )
    st.add_argument("--sf-dir", required=True, help="directory with the parquet tables")
    st.add_argument(
        "--query",
        help="comma-separated query names (default: the full registry)",
    )
    def _positive_int(v: str) -> int:
        n = int(v)
        if n < 1:
            raise argparse.ArgumentTypeError(
                f"--max-queries must be >= 1, got {n}"
            )
        return n

    st.add_argument(
        "--max-queries",
        type=_positive_int,
        help="stop after N queries (registry order) — a bounded smoke",
    )

    pr = sub.add_parser(
        "profile",
        help="column profile of a lake table (nulls, distincts, min/max)",
    )
    pr.add_argument("--sf-dir", required=True, help="directory with the parquet tables")
    pr.add_argument("--table", required=True, help="table name under --sf-dir")
    pr.add_argument(
        "--columns", help="comma-separated column subset (default: all columns)"
    )
    pr.add_argument(
        "--approx",
        action="store_true",
        help="HLL approx_count_distinct instead of exact distincts — the"
        " 100 TB path: one sketch per column per partition, no Expand pass",
    )
    pr.add_argument(
        "--output",
        help="write the profile as parquet instead of printing",
    )
    pr.add_argument(
        "--overwrite",
        action="store_true",
        help="replace an existing --output directory (default: refuse)",
    )

    cd = sub.add_parser(
        "card",
        help="dataset card: one (section, metric, value) summary over all"
        " lake tables — the snapshot-diff tripwire",
    )
    cd.add_argument("--sf-dir", required=True, help="directory with the parquet tables")
    cd.add_argument(
        "--output",
        help="write the card as parquet instead of printing",
    )
    cd.add_argument(
        "--overwrite",
        action="store_true",
        help="replace an existing --output directory (default: refuse)",
    )
    cd.add_argument(
        "--diff-against",
        help="path to a previously written card parquet: print only the"
        " metrics that changed (exit 1 if any did, 0 if identical) —"
        " the snapshot-diff tripwire",
    )

    sd = sub.add_parser(
        "schema-diff",
        help="schema drift between two lake snapshots: added/removed"
        " tables and columns, type changes incl. nested (metadata-only,"
        " no data read). Exit codes: 0 identical, 1 drift, 2 usage error"
        " (missing snapshot directory)",
    )
    sd.add_argument("--sf-dir", required=True, help="current snapshot directory")
    sd.add_argument(
        "--against", required=True, help="previous snapshot directory"
    )

    s = sub.add_parser(
        "sql",
        help="run ANSI SQL over the lake tables (registered as temp views)",
    )
    s.add_argument("--sf-dir", required=True, help="directory with the parquet tables")
    g = s.add_mutually_exclusive_group(required=True)
    g.add_argument("--query", help="SQL text")
    g.add_argument("--file", help="path to a file containing the SQL text")
    s.add_argument(
        "--output",
        help="write the full result as parquet here instead of printing",
    )
    s.add_argument(
        "--overwrite",
        action="store_true",
        help="replace an existing --output directory (default: refuse)",
    )
    s.add_argument(
        "--limit", type=int, default=20, help="rows to print (display mode)"
    )
    return p


def cmd_archive(spark, args) -> int:
    from py_datalake_move_files_spark.catalog import read_manifest_csv
    from py_datalake_move_files_spark.operators.manifest import build_archive_plan
    from py_datalake_move_files_spark.plans.movecopy import audit_summary
    from py_datalake_move_files_spark.sources.files import list_files

    manifest = read_manifest_csv(spark, args.manifest)
    listing = list_files(spark, args.source)
    plan = build_archive_plan(
        manifest,
        listing,
        source_prefix=_as_uri(args.source),
        target_prefix=_as_uri(args.target),
    )
    counts = {r["status"]: r["count"] for r in plan.groupBy("status").count().collect()}
    print(f"found: {counts.get('found', 0)}  not_found: {counts.get('not_found', 0)}")
    # found/not-found samples, as the reference reports (app/app.py:133-152)
    for status in ("found", "not_found"):
        rows = plan.where(F.col("status") == status).limit(args.sample).collect()
        for r in rows:
            print(f"  [{status}] {r.source_path}")

    audit = _execute_with_progress(
        spark,
        plan.where(F.col("status") == "found"),
        mode="copy",
        dry_run=not args.execute,
    )
    audit_summary(audit).show(truncate=False)
    return 0


def cmd_move(spark, args) -> int:
    from py_datalake_move_files_spark.operators.paths import strip_prefix_rewrite
    from py_datalake_move_files_spark.operators.predicates import (
        date_range_predicate,
        json_key_probe_fast,
        reason_cascade,
    )
    from py_datalake_move_files_spark.plans.movecopy import audit_summary
    from py_datalake_move_files_spark.sources.files import (
        list_files,
        read_content_after_metadata_filter,
        with_decoded_text,
    )

    after = dt.datetime.fromisoformat(args.after) if args.after else None
    before = dt.datetime.fromisoformat(args.before) if args.before else None
    date_pred = date_range_predicate(
        F.col("modificationTime"), after=after, before=before
    )

    if args.json_key:
        # two-stage plan (reference's cheap-before-expensive order,
        # app/main.py:109-146, made structural): stage 1 is a metadata-only
        # listing that produces the date-rejection audit rows without ever
        # reading bytes; stage 2 applies the date predicate DIRECTLY to the
        # content scan so it reaches the source as a pushed filter —
        # BinaryFileFormat then skips reading bytes for date-rejected files
        # (proved in tests/test_sources.py). First-failure-wins reason
        # semantics are preserved: a date-rejected file is reported from
        # stage 1 and never reaches the content check.
        content_pred = json_key_probe_fast(
            "text", args.json_key, args.json_value or ""
        )
        meta_rejects = (
            list_files(spark, args.source)
            .select(
                "path",
                reason_cascade((date_pred, "outside date range")).alias("reason"),
            )
            .where(F.col("reason") != "Matches all criteria")
        )
        # missing_passes=None: bare comparisons (no coalesce) so the date
        # filter is source-translatable and lands in PushedFilters;
        # binaryFile's modificationTime is never null, so semantics match
        pushable_date_pred = date_range_predicate(
            F.col("modificationTime"), after=after, before=before,
            missing_passes=None,
        )
        survivors = with_decoded_text(
            read_content_after_metadata_filter(
                spark, args.source, pushable_date_pred
            )
        ).select(
            "path",
            reason_cascade((content_pred, "content mismatch")).alias("reason"),
        )
        annotated = meta_rejects.unionByName(survivors)
    else:
        annotated = list_files(spark, args.source).select(
            "path",
            reason_cascade((date_pred, "outside date range")).alias("reason"),
        )
    moves = F.col("reason") == "Matches all criteria"
    plan = annotated.where(moves).select(
        F.col("path").alias("source_path"),
        strip_prefix_rewrite(
            F.col("path"), _as_uri(args.source), _as_uri(args.target)
        ).alias("target_path"),
    )
    # one scan for both counts (the listing and content probe run once)
    counts = {
        r["moves"]: r["count"]
        for r in annotated.groupBy(moves.alias("moves")).count().collect()
    }
    print(f"to_move: {counts.get(True, 0)}  skipped: {counts.get(False, 0)}")
    skipped = annotated.where(~moves).select("path", "reason")
    for r in skipped.limit(args.sample).collect():
        print(f"  [skip] {r.path}: {r.reason}")

    audit = _execute_with_progress(spark, plan, mode="move", dry_run=not args.execute)
    audit_summary(audit).show(truncate=False)
    return 0


def cmd_vacuum(spark, args) -> int:
    import datetime as _dt

    from py_datalake_move_files_spark.plans.maintenance import retention_plan
    from py_datalake_move_files_spark.plans.movecopy import audit_summary, execute_plan

    # naive-UTC cutoff: the session timezone is pinned to UTC, so a naive
    # local-time now() on a non-UTC host would shift the delete boundary by
    # the host offset (ADVICE r01); binaryFile modificationTime is UTC-based
    cutoff = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None) - _dt.timedelta(
        days=args.older_than_days
    )
    plan = retention_plan(spark, args.source, older_than=cutoff)
    print(f"to_delete: {plan.count()} (older than {cutoff.date()})")
    audit = execute_plan(plan, mode="delete", dry_run=not args.execute)
    audit_summary(audit).show(truncate=False)
    return 0


def cmd_compact(spark, args) -> int:
    from py_datalake_move_files_spark.plans.maintenance import compact

    n = compact(
        spark,
        args.source,
        args.target,
        fmt=args.format,
        target_file_mb=args.target_file_mb,
    )
    print(f"compacted into {n} file(s) at {args.target}")
    return 0


def cmd_optimize(spark, args) -> int:
    from py_datalake_move_files_spark.plans.maintenance import optimize_zorder

    n = optimize_zorder(
        spark,
        args.source,
        args.target,
        cols=[c for c in args.by.split(",") if c],
        bits=args.bits,
        target_file_mb=args.target_file_mb,
        fmt=args.format,
    )
    print(f"optimized into {n} z-ordered file(s) at {args.target}")
    return 0


def cmd_audit(spark, args) -> int:
    from py_datalake_move_files_spark.queries import QUERIES

    report = QUERIES["data_quality_audit"](spark, args.sf_dir)
    rows = report.collect()
    for r in sorted(rows, key=lambda r: r["rule"]):
        print(
            f"{r['rule']}: {r['n_violations']}/{r['n_checked']}"
            f" ({r['violation_rate']})"
        )
    bad = sum(r["n_violations"] for r in rows)
    if args.fail_on_violations and bad:
        print(f"FAIL: {bad} violation(s)", file=sys.stderr)
        return 2
    return 0


def cmd_selftest(spark, args) -> int:
    """Deployment validation: every registered query ships with the ANSI
    SQL that defines its semantics; this command runs query and oracle
    side by side (DuckDB in-process) and reports the same
    rows/schema/values verdicts the external correctness gate computes —
    so a consumer can prove THEIR data layout + Spark build reproduce the
    engine's contract before trusting any number. Exit 2 on any mismatch,
    listing the failures."""
    from py_datalake_move_files_spark.functions.parity import (
        compare_query,
        duck_connection,
    )
    from py_datalake_move_files_spark.queries import QUERIES

    if args.query:
        names = [q.strip() for q in args.query.split(",") if q.strip()]
        unknown = [n for n in names if n not in QUERIES]
        if unknown:
            print(f"unknown query name(s): {unknown}", file=sys.stderr)
            return 2
    else:
        names = list(QUERIES)
    if args.max_queries is not None:
        names = names[: args.max_queries]

    con = duck_connection(args.sf_dir)
    failures = []
    for name in names:
        try:
            v = compare_query(spark, con, name, args.sf_dir)
        except Exception as exc:  # noqa: BLE001 — keep testing the rest
            failures.append(name)
            print(f"ERROR {name}: {str(exc).splitlines()[0][:200]}")
            continue
        if v["values_match"] is None:
            print(f"ok    {name} (rows-only: {v['spark_rows']} rows)")
        elif v["rows_match"] and v["schema_match"] and v["values_match"]:
            print(f"ok    {name} ({v['spark_rows']} rows)")
        else:
            failures.append(name)
            print(
                f"FAIL  {name}: rows={v['rows_match']}"
                f" schema={v['schema_match']} values={v['values_match']}"
                f" ({v['spark_rows']} vs {v['oracle_rows']} rows)"
            )
    print(f"selftest: {len(names) - len(failures)}/{len(names)} passed")
    if failures:
        print(f"FAILED: {failures}", file=sys.stderr)
        return 2
    return 0


def cmd_profile(spark, args) -> int:
    """Column profile of one lake table — the ``table_profile_orders``
    device as a product surface. Exact mode compiles the multi-distinct
    into a single Expand pass (one shuffle); ``--approx`` swaps in HLL
    sketches (rsd 5%), the sanctioned 100 TB path per the scale policy on
    ``table_profile_orders`` / ``table_profile_orders_approx``. Unknown
    columns fail fast with the available names."""
    from py_datalake_move_files_spark.catalog import load_table
    from py_datalake_move_files_spark.operators.profile import profile_table

    df = load_table(spark, args.sf_dir, args.table)
    cols = None
    if args.columns:
        cols = [c.strip() for c in args.columns.split(",") if c.strip()]
        missing = [c for c in cols if c not in df.columns]
        if missing:
            print(
                f"unknown column(s) {missing}; {args.table} has {df.columns}",
                file=sys.stderr,
            )
            return 2
    prof = profile_table(df, cols, approx=args.approx)
    if args.output:
        mode = "overwrite" if args.overwrite else "errorifexists"
        prof.write.mode(mode).parquet(args.output)
        print(f"wrote {args.output}")
    else:
        kind = "approx (HLL, rsd 5%)" if args.approx else "exact"
        print(f"profile of {args.table} ({kind} distincts):")
        for r in prof.collect():  # one row per profiled column — bounded
            print(
                f"  {r['column']}: rows={r['n_rows']} nulls={r['n_nulls']}"
                f" distinct={r['n_distinct']}"
                f" min={r['min_repr']} max={r['max_repr']}"
            )
    return 0


def cmd_card(spark, args) -> int:
    """The dataset card as a product surface (``dataset_card_summary``):
    one (section, metric, value) frame over every lake table — row
    counts, cardinalities, modal language, time bounds, exact revenue,
    embedding dim. Bounded output (one row per metric), so the print
    path collects safely at any table size. ``--diff-against`` compares
    to a previously written card and reports ONLY the changed metrics —
    the snapshot-diff tripwire run between ingest batches (exit 1 when
    anything moved, so it gates pipelines)."""
    from py_datalake_move_files_spark.queries import QUERIES

    card = QUERIES["dataset_card_summary"](spark, args.sf_dir)
    if args.diff_against:
        prev = {
            (r["section"], r["metric"]): r["value"]
            for r in spark.read.parquet(args.diff_against).collect()
        }
        cur = {
            (r["section"], r["metric"]): r["value"] for r in card.collect()
        }
        changed = [
            k
            for k in sorted(set(prev) | set(cur))
            if prev.get(k) != cur.get(k)
        ]
        if not changed:
            print(f"card unchanged vs {args.diff_against} ({len(cur)} metrics)")
            return 0
        print(f"card drift vs {args.diff_against}: {len(changed)} metric(s)")
        for sec, met in changed:
            print(
                f"  {sec}.{met}: {prev.get((sec, met), '<absent>')}"
                f" -> {cur.get((sec, met), '<absent>')}"
            )
        return 1
    if args.output:
        mode = "overwrite" if args.overwrite else "errorifexists"
        card.write.mode(mode).parquet(args.output)
        print(f"wrote {args.output}")
    else:
        print(f"dataset card for {args.sf_dir}:")
        last = None
        for r in card.collect():  # one row per card metric — bounded
            if r["section"] != last:
                print(f"  [{r['section']}]")
                last = r["section"]
            print(f"    {r['metric']} = {r['value']}")
    return 0


def cmd_schema_diff(spark, args) -> int:
    """Schema drift between two lake snapshots — the structural companion
    of ``card --diff-against`` (which watches VALUES): per table found in
    either directory, report added/removed tables, added/removed columns,
    and type changes. Metadata-only: parquet footers via
    ``spark.read.parquet(...).schema``, no data bytes read.

    Detection matrix: top-level add/remove/type-change, plus NESTED type
    changes — array element type, map key/value type, struct field
    type/add/remove — all surface as a type change because comparison is
    on ``dataType.simpleString()`` (the full recursive type text). A
    struct field REORDER also reports as a type change: parquet column
    resolution inside structs is positional for some readers, so order
    is part of the contract.

    Exit-code contract (pinned by tests/test_cli.py): 0 = structurally
    identical; 1 = drift (one line per change); 2 = usage error — a
    snapshot directory that does not exist (an absent dir is an operator
    mistake, NOT an empty lake; treating it as empty would report every
    table as added and hide the typo behind a legitimate-looking 1)."""
    import glob as _glob
    import os as _os

    for d in (args.sf_dir, args.against):
        if not _os.path.isdir(d):
            print(f"schema-diff: not a directory: {d}", file=sys.stderr)
            return 2

    def tables(d):
        out = {}
        for p in sorted(_glob.glob(_os.path.join(d, "*.parquet"))):
            name = _os.path.basename(p)[: -len(".parquet")]
            out[name] = p
        return out

    cur_t, prev_t = tables(args.sf_dir), tables(args.against)
    drift = 0
    for name in sorted(set(prev_t) - set(cur_t)):
        print(f"removed table: {name}")
        drift += 1
    for name in sorted(set(cur_t) - set(prev_t)):
        print(f"added table: {name}")
        drift += 1
    for name in sorted(set(cur_t) & set(prev_t)):
        prev_s = {
            f.name: f.dataType.simpleString()
            for f in spark.read.parquet(prev_t[name]).schema.fields
        }
        cur_s = {
            f.name: f.dataType.simpleString()
            for f in spark.read.parquet(cur_t[name]).schema.fields
        }
        for col in sorted(set(prev_s) - set(cur_s)):
            print(f"{name}: removed column {col} ({prev_s[col]})")
            drift += 1
        for col in sorted(set(cur_s) - set(prev_s)):
            print(f"{name}: added column {col} ({cur_s[col]})")
            drift += 1
        for col in sorted(set(cur_s) & set(prev_s)):
            if cur_s[col] != prev_s[col]:
                print(
                    f"{name}: column {col} type {prev_s[col]} -> {cur_s[col]}"
                )
                drift += 1
    if drift == 0:
        print(
            f"schemas identical: {len(cur_t)} table(s) in both snapshots"
        )
        return 0
    print(f"schema drift: {drift} change(s)")
    return 1


def cmd_sql(spark, args) -> int:
    """Ad-hoc ANSI SQL over the lake: every table under --sf-dir is a temp
    view (catalog.register_tables), the statement runs through Catalyst
    like any registered query, and the result either prints (bounded by
    --limit via TakeOrderedAndProject-free .show) or lands as parquet —
    the distributed path for big results; the driver never collects them."""
    from py_datalake_move_files_spark.catalog import register_tables

    register_tables(spark, args.sf_dir)
    text = (
        args.query
        if args.query is not None
        else Path(args.file).read_text(encoding="utf-8")
    )
    df = spark.sql(text)
    if args.output:
        mode = "overwrite" if args.overwrite else "errorifexists"
        df.write.mode(mode).parquet(args.output)
        print(f"wrote {args.output}")
    else:
        df.show(args.limit, truncate=False)
    return 0


def cmd_dedup(spark, args) -> int:
    """Duplicate report over `documents`: the LLM-curation tier as a one-
    command product surface. `exact` groups identical texts (md5 groupBy),
    `minhash` reports MinHash-LSH near-dup pairs, `simhash` reports banded
    SimHash pairs — the same registry queries the driver verifies, so the
    CLI output is oracle-checked by construction."""
    from py_datalake_move_files_spark.queries import QUERIES

    name = {
        "exact": "dedup_exact",
        "minhash": "dedup_minhash_lsh",
        "simhash": "simhash_dup_pairs",
    }[args.mode]
    df = QUERIES[name](spark, args.sf_dir)
    if args.output:
        mode = "overwrite" if args.overwrite else "errorifexists"
        df.write.mode(mode).parquet(args.output)
        print(f"wrote {args.output} ({args.mode}: {df.count()} rows)")
    else:
        df.show(args.limit, truncate=False)
    return 0


def _execute_with_progress(spark, plan, *, mode: str, dry_run: bool):
    """execute_plan plus the reference's running tally (app/main.py:280-303):
    a reporter thread prints accumulator-backed ok/error counts once a second
    while the blocking execute call runs."""
    from py_datalake_move_files_spark.plans.movecopy import PlanProgress, execute_plan

    if dry_run:
        return execute_plan(plan, mode=mode, dry_run=True)

    import threading

    progress = PlanProgress(spark)
    stop = threading.Event()

    def report():
        while not stop.wait(1.0):
            ok, err = progress.snapshot()
            print(f"  progress: ok={ok} error={err}")

    reporter = threading.Thread(target=report, daemon=True)
    reporter.start()
    try:
        return execute_plan(plan, mode=mode, progress=progress)
    finally:
        stop.set()
        reporter.join()
        ok, err = progress.snapshot()
        print(f"  progress: ok={ok} error={err} (final)")


def _as_uri(path: str) -> str:
    """binaryFile listings yield ``file:/abs/path`` URIs for local paths —
    qualify bare absolute paths the same way so prefixes line up."""
    if "://" in path or path.startswith("file:"):
        return path
    return f"file:{path}"


#: arguments whose value Spark reads or writes as a lake path
_PATH_ARGS = (
    "manifest",
    "source",
    "target",
    "sf_dir",
    "against",
    "output",
    "diff_against",
)


def _azure_conf(args: argparse.Namespace) -> dict[str, str] | None:
    """Azure OAuth session conf iff some path argument is an ``abfss://``
    URI; raises ``ValueError`` when credentials are missing."""
    paths = (getattr(args, a, None) for a in _PATH_ARGS)
    if not any(p and p.startswith("abfss://") for p in paths):
        return None
    from py_datalake_move_files_spark.config import LakeConfig, azure_oauth_conf

    return azure_oauth_conf(LakeConfig.from_env())


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    try:
        extra_conf = _azure_conf(args)
    except ValueError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1
    from py_datalake_move_files_spark.session import get_spark

    spark = get_spark("pdmfs-cli", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.cmd == "archive":
            return cmd_archive(spark, args)
        if args.cmd == "vacuum":
            return cmd_vacuum(spark, args)
        if args.cmd == "compact":
            return cmd_compact(spark, args)
        if args.cmd == "optimize":
            return cmd_optimize(spark, args)
        if args.cmd == "audit":
            return cmd_audit(spark, args)
        if args.cmd == "sql":
            return cmd_sql(spark, args)
        if args.cmd == "profile":
            return cmd_profile(spark, args)
        if args.cmd == "card":
            return cmd_card(spark, args)
        if args.cmd == "schema-diff":
            return cmd_schema_diff(spark, args)
        if args.cmd == "selftest":
            return cmd_selftest(spark, args)
        if args.cmd == "dedup":
            return cmd_dedup(spark, args)
        return cmd_move(spark, args)
    except Exception as exc:  # one clean line instead of a JVM traceback
        msg = str(exc).splitlines()[0] if str(exc) else type(exc).__name__
        print(f"error: {msg}", file=sys.stderr)
        return 1
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
