"""Source-layer tests: format round-trips and the binaryFile listing and
content scans (what they read, and what they must never read)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_source_format_round_trips(spark, sf_small, tmp_path):
    """Format breadth: the engine reads/writes parquet, ORC, CSV, and JSON
    with schema fidelity (CSV/JSON get the schema re-imposed on read — text
    formats don't carry types)."""
    from py_datalake_move_files_spark.catalog import load_table

    src = load_table(spark, sf_small, "nation")
    expect = {tuple(r) for r in src.collect()}

    for fmt in ("parquet", "orc"):
        p = str(tmp_path / fmt)
        src.write.format(fmt).save(p)
        back = spark.read.format(fmt).load(p)
        assert back.schema == src.schema, fmt
        assert {tuple(r) for r in back.collect()} == expect, fmt

    for fmt, opts in (("csv", {"header": "true"}), ("json", {})):
        p = str(tmp_path / fmt)
        src.write.format(fmt).options(**opts).save(p)
        back = spark.read.format(fmt).options(**opts).schema(src.schema).load(p)
        assert back.schema == src.schema, fmt
        assert {tuple(r) for r in back.collect()} == expect, fmt


def test_two_stage_content_scan_never_reads_rejected_bytes(spark, tmp_path):
    """SURVEY §4 row 2's open "verify": date-rejected files must never have
    their content read.

    Proof device: BinaryFileFormat refuses to READ any file longer than
    spark.sql.sources.binaryFile.maxLength — but the check sits inside the
    content-reading branch, AFTER pushed metadata filters are applied to
    the file status. So plant an over-limit file whose mtime fails the date
    predicate: if the two-stage scan tried to read its bytes the query
    would throw; it succeeding proves the bytes were never touched. The
    control (no filter) must throw. Plus the plan assertion: the date
    predicate reaches the scan's PushedFilters.
    """
    import datetime
    import os
    import time

    import pytest as _pytest

    from py_datalake_move_files_spark.operators.predicates import (
        date_range_predicate,
    )
    from py_datalake_move_files_spark.sources.files import (
        read_content_after_metadata_filter,
        read_files_with_content,
    )

    d = tmp_path / "lake"
    d.mkdir()
    (d / "fresh.json").write_text('{"k": 1}')
    big = d / "stale_huge.json"
    big.write_text("x" * 4096)
    old = time.time() - 90 * 86400
    os.utime(big, (old, old))

    cutoff = datetime.datetime.now(datetime.timezone.utc).replace(
        tzinfo=None
    ) - datetime.timedelta(days=30)
    # missing_passes=None: bare comparison, source-translatable (the
    # coalesce of the True/False modes blocks pushdown; binaryFile mtime
    # is never null so the modes agree)
    pred = date_range_predicate(
        F.col("modificationTime"), after=cutoff, missing_passes=None
    )

    spark.conf.set("spark.sql.sources.binaryFile.maxLength", "1024")
    try:
        df = read_content_after_metadata_filter(spark, str(d), pred)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [" in plan and "modificationTime" in plan.split(
            "PushedFilters:"
        )[1].split("]")[0]
        rows = df.select("path", "content").collect()
        assert [r.path.rsplit("/", 1)[-1] for r in rows] == ["fresh.json"]
        assert rows[0].content == b'{"k": 1}'

        # control: without the pushed filter the over-limit file IS read
        # and the scan fails — demonstrating the proof device is live
        with _pytest.raises(Exception, match="exceeds the max length"):
            read_files_with_content(spark, str(d)).select(
                "path", "content"
            ).collect()
    finally:
        spark.conf.unset("spark.sql.sources.binaryFile.maxLength")


def test_list_files_prunes_content_from_the_scan(spark, tmp_path):
    """The metadata listing relies on column pruning: the binaryFile scan
    under ``list_files`` must not read ``content``. Plan check (the
    FileScan's ReadSchema has no content field) plus the maxLength device
    of the test above: an over-limit file lists without error because its
    bytes are never read."""
    from py_datalake_move_files_spark.sources.files import list_files

    d = tmp_path / "lake" / "nested"
    d.mkdir(parents=True)
    (d / "huge.json").write_text("x" * 4096)

    spark.conf.set("spark.sql.sources.binaryFile.maxLength", "1024")
    try:
        df = list_files(spark, str(tmp_path / "lake"))
        plan = df._jdf.queryExecution().executedPlan().toString()
        scans = [ln for ln in plan.splitlines() if "FileScan binaryFile" in ln]
        assert scans, plan
        for ln in scans:
            read_schema = ln.split("ReadSchema:")[-1]
            assert "path" in read_schema and "content" not in read_schema, ln
        rows = df.collect()
        assert [(r.path.rsplit("/", 1)[-1], r.length) for r in rows] == [
            ("huge.json", 4096)
        ]
    finally:
        spark.conf.unset("spark.sql.sources.binaryFile.maxLength")
