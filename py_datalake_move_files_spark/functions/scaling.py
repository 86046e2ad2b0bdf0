"""Parallelism guards.

A small parquet file arrives as ONE input partition (parquet can't split a
single row group), so CPU-heavy per-row operators (shingling, hashing,
vector math) would run on one core no matter how many are available. At
100 TB the scan naturally yields thousands of partitions and these helpers
are no-ops; locally they round-robin the rows out once, before the heavy
compute, which costs one small shuffle and buys full CPU utilization.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame


def _conf_bytes(raw: str) -> int:
    """Parse a Spark size conf value ('134217728', '134217728b', '128m')."""
    s = raw.strip().lower()
    mult = 1
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
        if s.endswith(suffix):
            s = s[: -len(suffix)]
            mult = m
            break
    return int(s) * mult


def _estimated_scan_partitions(df: DataFrame) -> int | None:
    """Estimate how many input partitions ``df``'s scan produces, WITHOUT
    building the RDD (``df.rdd`` forces full physical planning per query
    build — VERDICT r4 #4). The estimate mirrors Spark's own file-split
    rule: each file yields ceil(size / maxPartitionBytes) splits, and a
    file is at least one split, so the floor is len(files).

    Returns None when the inputs aren't introspectable local files (pure
    in-memory DataFrames, or remote storage where sizes aren't free to
    stat) — there the guard backs off to a no-op, which is the correct
    call at cluster scale: a 100 TB lake scan is already wide, and adding
    a speculative repartition would BE the bottleneck."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    try:
        mpb = _conf_bytes(
            df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes")
        )
    except Exception:
        mpb = 128 << 20
    total = 0
    for f in files:
        path = f[len("file:") :] if f.startswith("file:") else f
        if "://" in path:  # non-local scheme: sizes not free to stat
            return None
        try:
            total += os.path.getsize(path)
        except OSError:
            return None
    return max(len(files), math.ceil(total / max(mpb, 1)))


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition ``df`` up to the session's default parallelism iff its
    scan is estimated to produce fewer partitions than half of that — i.e.
    only when the input is too concentrated to use the cluster. Never
    coalesces, and never repartitions on estimate-failure (remote lakes,
    in-memory frames), where the scan is presumed already wide."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    est = _estimated_scan_partitions(df)
    if est is not None and est < max(2, target // 2):
        return df.repartition(target)
    return df
