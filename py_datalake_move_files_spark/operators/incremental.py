"""Incremental aggregate maintenance: mergeable partial-aggregate states
for materialized-view upkeep without full recomputation.

The reference re-runs its whole pipeline per invocation (``app/main.py``
re-lists and re-reconciles everything); the lake-engine generalization is
*incremental view maintenance*: keep per-key partial states (count, sum,
min, max — the commutative-monoid aggregates), fold each new batch into a
partial of its own, and MERGE states instead of touching historical data.
At 100 TB the historical state is ~#keys rows while a day's delta is tiny:
merging shuffles only the two state tables on the key — the raw fact table
is read exactly once, ever, per batch. Derived measures (avg = sum / cnt)
are computed by the reader from the merged states, never stored, so the
states stay exactly mergeable.

snapshot_diff (``operators/delta.py``) tells you *what* changed; this tier
folds those changes into standing aggregates.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["partial_aggs", "merge_partials"]


def partial_aggs(
    df: DataFrame, keys: Sequence[str], measures: Sequence[str]
) -> DataFrame:
    """Fold a batch into per-key mergeable states: for every measure column
    ``c`` emit ``cnt_c`` (non-null count), ``sum_c``, ``min_c``, ``max_c``.
    One keyed shuffle with map-side partial aggregation — the only time the
    raw rows are ever read."""
    aggs = []
    for c in measures:
        aggs.extend(
            [
                F.count(F.col(c)).alias(f"cnt_{c}"),
                F.sum(F.col(c)).alias(f"sum_{c}"),
                F.min(F.col(c)).alias(f"min_{c}"),
                F.max(F.col(c)).alias(f"max_{c}"),
            ]
        )
    return df.groupBy(*keys).agg(*aggs)


def merge_partials(
    base: DataFrame, delta: DataFrame, keys: Sequence[str], measures: Sequence[str]
) -> DataFrame:
    """Merge two partial-state tables (same schema) into one: union then
    re-reduce with the monoid ops (count/sum add, min/max extremize).
    Shuffles only state rows (~#keys), never facts; with both sides already
    hash-partitioned on the keys the exchange is a no-op under AQE reuse."""
    merged_aggs = []
    for c in measures:
        merged_aggs.extend(
            [
                F.sum(F.col(f"cnt_{c}")).alias(f"cnt_{c}"),
                F.sum(F.col(f"sum_{c}")).alias(f"sum_{c}"),
                F.min(F.col(f"min_{c}")).alias(f"min_{c}"),
                F.max(F.col(f"max_{c}")).alias(f"max_{c}"),
            ]
        )
    return base.unionByName(delta).groupBy(*keys).agg(*merged_aggs)

