"""App-scoped cache for derived index ARTIFACTS (kNN graph edges, dedup
cluster maps).

A curation engine builds some structures once and serves many passes from
them: the kNN graph feeds the density / label-agreement / triangle /
component audits, the near-dup cluster map feeds canonical-doc picking,
leakage-safe splits and the family-size census.  Re-deriving the pipeline
per query is correct but wasteful — the established remedy in this repo is
the snapshot-keyed driver-side cache (`queries_ivf._CENTROIDS`,
`queries_pq._CODEBOOK` — both hold small Python literals).  This module
extends the same pattern to small derived *DataFrames*: build once,
`localCheckpoint(eager=True)` (materialize + cut lineage, executor-local
blocks, auto-reclaimed on GC — the repo's standard multi-consumer device,
see PLANS.md), and serve every later consumer in the session from the
checkpoint.

Cache-key discipline (each component closes a distinct staleness hole):

- ``applicationId`` — a checkpointed DataFrame is bound to its
  SparkContext; a new session must never see another context's RDD.
- ``spark.sql.shuffle.partitions`` — the artifact's OWN build must stay
  partition-layout-invariant, and `tests/test_partition_invariance.py`
  proves it by re-running queries under different settings; keying on the
  conf makes each setting build its own artifact instead of the second
  run silently reusing the first (which would vacuously pass the test).
- ``catalog.table_snapshot`` of every input table — rewriting data under
  the same path invalidates (ADVICE r4: bare-path keys served stale
  trained state).
- the build parameters (k, n_lists, thresholds, …).

Only metadata-sized artifacts belong here (id pairs, id→label maps —
O(N·k) ids, never documents or embeddings); entries accrue per distinct
key for the process lifetime, which is bounded by design (a session
touches a handful of (table-snapshot, params) combinations).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_ARTIFACTS: dict[tuple, DataFrame] = {}


def shared_artifact(
    spark: SparkSession, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """Return the artifact for ``key``, building + checkpointing it on
    first use in this (SparkContext, shuffle-partition-setting) scope.

    ``key`` must already include the input-table snapshots and build
    parameters; this function adds the context/layout components.
    """
    full = (
        spark.sparkContext.applicationId,
        spark.conf.get("spark.sql.shuffle.partitions", ""),
        *key,
    )
    df = _ARTIFACTS.get(full)
    if df is None:
        df = build().localCheckpoint(eager=True)
        _ARTIFACTS[full] = df
    return df

