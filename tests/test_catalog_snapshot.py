"""table_snapshot cache-key contract (VERDICT r5 #7): process-lifetime
caches of trained state (IVF centroids, PQ codebooks) key on
(path, mtime_ns, size), so rewriting data under the same path invalidates
them — a bare-path key silently serves stale trained state."""

from __future__ import annotations

import os
import time

from py_datalake_move_files_spark.catalog import table_snapshot


def test_snapshot_key_changes_when_file_rewritten(tmp_path):
    p = tmp_path / "embeddings.parquet"
    p.write_bytes(b"v1 bytes")
    k1 = table_snapshot(str(tmp_path), "embeddings")
    # same content, same mtime -> same key (stable across repeated calls)
    assert table_snapshot(str(tmp_path), "embeddings") == k1

    # rewrite with different size -> key changes even if mtime granularity
    # were coarse
    p.write_bytes(b"v2 bytes, longer")
    k2 = table_snapshot(str(tmp_path), "embeddings")
    assert k2 != k1

    # same-size rewrite -> mtime_ns still distinguishes
    time.sleep(0.01)
    p.write_bytes(b"v3 bytes, longer")
    k3 = table_snapshot(str(tmp_path), "embeddings")
    assert k3 != k2


def test_snapshot_key_degrades_to_path_when_missing(tmp_path):
    assert table_snapshot(str(tmp_path), "nope") == (
        os.path.join(str(tmp_path), "nope.parquet"),
    )


def test_trained_state_caches_use_snapshot_keys(tmp_path):
    """The PQ/IVF cache dicts must be keyed by snapshot tuples, and a
    cleared cache retrains on next access — the clear() hook a test or a
    long-lived session uses after an in-session data rewrite."""
    from py_datalake_move_files_spark import queries_ivf, queries_pq

    # the module caches are plain dicts -> .clear() is the supported hook
    for cache in (
        queries_pq._CODEBOOK,
        queries_ivf._CENTROIDS,
        queries_ivf._KM_CENTROIDS,
    ):
        assert isinstance(cache, dict)
        for key in cache:
            # every live key embeds the (path, mtime, size) snapshot tuple
            flat = key if isinstance(key[0], str) else key[0]
            assert isinstance(flat[0], str) and flat[0].endswith(".parquet")


# --- load_table's schema cache ---------------------------------------------


def _jobs(spark, fn):
    """(fn's result, Spark jobs fn ran), counted under a one-off job group."""
    sc = spark.sparkContext
    group = f"catalog-{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, **cols):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), str(path))


def test_second_load_of_unchanged_table_runs_no_job(spark, tmp_path):
    from py_datalake_move_files_spark.catalog import load_table

    _write(tmp_path / "t.parquet", a=[1, 2, 3])
    first, cold = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    again, warm = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert cold >= 1  # schema inference reads the footer in a job
    assert warm == 0
    assert again.schema == first.schema
    assert sorted(r["a"] for r in again.collect()) == [1, 2, 3]


def test_rewritten_file_returns_its_new_schema(spark, tmp_path):
    from py_datalake_move_files_spark.catalog import load_table

    _write(tmp_path / "t.parquet", a=[1, 2])
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    _write(tmp_path / "t.parquet", a=[1, 2], b=["x", "y"])
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_spark_written_directory_is_inferred_again_when_a_part_changes(
    spark, tmp_path
):
    from py_datalake_move_files_spark.catalog import load_table

    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert load_table(spark, str(tmp_path), "t").columns == ["id"]
    spark.range(3).selectExpr("id", "id * 2 AS twice").write.mode(
        "overwrite"
    ).parquet(path)
    df, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs >= 1
    assert df.columns == ["id", "twice"]
    assert sorted(r["twice"] for r in df.collect()) == [0, 2, 4]


def test_path_that_cannot_be_stated_is_never_cached(spark, tmp_path):
    """A URI (as remote storage has) is not a local path: os.stat fails,
    so every read infers, and nothing is cached under it."""
    from py_datalake_move_files_spark import catalog

    _write(tmp_path / "t.parquet", a=[1])
    uri = f"file://{tmp_path}"
    for _ in range(2):
        df, jobs = _jobs(spark, lambda: catalog.load_table(spark, uri, "t"))
        assert jobs >= 1
        assert df.collect()[0]["a"] == 1
    assert not [k for k in catalog._SCHEMAS if k.startswith("file:")]
