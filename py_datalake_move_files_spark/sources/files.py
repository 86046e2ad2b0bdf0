"""File-catalog sources (SURVEY.md §2.1 S2/S4/S5/S6).

The reference lists a lake path recursively via the ADLS SDK
(app/main.py:195-216) and fetches per-file properties one RPC at a time
(app/main.py:219-226). Spark's ``binaryFile`` source does both in one
distributed scan: columns ``path, modificationTime, length, content``, with
directories excluded and ``content`` only materialized if referenced (column
pruning — the metadata-only listing never reads file bytes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def list_files(spark: SparkSession, path: str) -> DataFrame:
    """S2+S4: recursive file catalog of ``path``.

    Metadata-only projection (``path, length, modificationTime``) — do NOT
    select ``content`` here; Spark prunes the byte reads away entirely.
    """
    return read_files_with_content(spark, path).select(
        "path", "length", "modificationTime"
    )


def read_files_with_content(spark: SparkSession, path: str) -> DataFrame:
    """S5: whole-file bytes as a ``content: binary`` column, listed
    recursively."""
    return (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(path)
    )


def read_content_after_metadata_filter(
    spark: SparkSession, path: str, metadata_pred
) -> DataFrame:
    """Stage 2 of the two-stage content pipeline (SURVEY §4 row 2: "cheap
    metadata date filter before expensive content download",
    reference app/main.py:126-141).

    ``metadata_pred`` must reference only the scan's metadata columns
    (``path``, ``length``, ``modificationTime``). Applying it DIRECTLY to
    the binaryFile scan (not to a derived column) lets Spark push it into
    the source as a data filter; ``BinaryFileFormat`` evaluates pushed
    path/length/modificationTime filters against the file STATUS before
    opening the file, so rejected files never have their bytes read.
    Callers produce date-rejection audit rows from a separate
    :func:`list_files` metadata scan (stage 1), which reads no bytes by
    construction. Verified behaviorally in tests/test_sources.py (an
    over-maxLength file that the predicate rejects does not fail the scan —
    it would throw if its content were materialized) and by plan assertion
    (the FileScan carries the pushed modificationTime filter)."""
    return read_files_with_content(spark, path).where(metadata_pred)


def with_decoded_text(df: DataFrame) -> DataFrame:
    """S6: UTF-8 decode of file bytes (reference app/main.py:61)."""
    return df.withColumn("text", F.decode(F.col("content"), "UTF-8"))

