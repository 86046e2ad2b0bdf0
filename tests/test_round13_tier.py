"""Round-13 optimization-tier tests (VERDICT r12 "Next round" #2/#3/#4/#5).

Pins three r13 rewrites and the bucket-cap device:

- ``profile_table`` exact distincts are EXPAND-FREE (per-column
  distinct→count arms + broadcast attach) and still equal
  ``count(DISTINCT col)`` cell-for-cell (#2).
- ``auto_eval_sample_k``: corpus-count-derived eval-sample modulus,
  monotone, floor 1, holds the sample at the target budget (#3).
- ``weighted_median_price``'s two-pass histogram-midrank device is
  result-identical to the DuckDB oracle on a lake built so the lower and
  upper median ranks cross in DIFFERENT coarse buckets — the adversarial
  case for the bucket-locate step (#4).
- ``_cap_bucket_size`` reports the observation metrics unchanged (values
  re-pinned here), caps a NULL-key bucket like any other (the window
  groups NULL keys), and fills the observation on an empty frame; the
  band-keyed queries scan ``documents`` once with no anti-join, under a
  session that excludes no AQE optimizer rule.
"""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from py_datalake_move_files_spark.functions.parity import canon_rows
from py_datalake_move_files_spark.operators.profile import profile_table
from py_datalake_move_files_spark.queries import ORACLE, QUERIES
from py_datalake_move_files_spark.queries_corpus import auto_eval_sample_k

SF = "/root/testdata/sf0.01"


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------------------------ profile (#2)


def test_profile_queries_plan_no_expand(spark):
    """The exact multi-distinct no longer compiles to an Expand (the
    r12 sf10 sweep's 11-14× multiplier on the profile family): neither
    the exact profile nor the approx query's exact AUDIT arm may plan
    one. The distinct arms attach via a broadcast join."""
    for name in ("table_profile_orders", "table_profile_orders_approx"):
        plan = _plan(spark, name)
        assert "Expand" not in plan, f"{name} regained an Expand pass"
    assert "BroadcastHashJoin" in _plan(spark, "table_profile_orders")


def test_profile_exact_matches_count_distinct(spark):
    """Cell-for-cell: the per-column distinct arms equal countDistinct
    on a frame with NULLs, duplicates, and an all-NULL column."""
    df = spark.createDataFrame(
        [(1, "a", None), (2, None, None), (3, "a", None), (None, "b", None)],
        "id int, s string, z string",
    )
    prof = {r["column"]: r for r in profile_table(df).collect()}
    for c in ("id", "s", "z"):
        expect = df.agg(F.countDistinct(c)).collect()[0][0]
        assert prof[c]["n_distinct"] == expect, c
    assert prof["z"]["n_distinct"] == 0 and prof["z"]["n_nulls"] == 4


# ----------------------------------------------------- eval-sample K (#3)


def test_auto_eval_sample_k_monotone_and_budgeted():
    prev = 0
    for n in [0, 1, 10**6, 4 * 10**6, 10**7, 10**9, 10**12]:
        k = auto_eval_sample_k(n)
        assert k >= max(1, prev), "K must grow monotonically with N"
        prev = k
        # the 1-in-K sample holds the eval at <= target docs (floor 1)
        if n > 4 * 10**6:
            assert n / k <= 4 * 10**6
    assert auto_eval_sample_k(4 * 10**6) == 1  # inert below the budget
    assert auto_eval_sample_k(40 * 10**6) == 10


# ------------------------------------------- weighted median two-pass (#4)


def test_weighted_median_crossing_different_coarse_buckets(spark, tmp_path):
    """Lower and upper weighted-median cents straddle a 2^16-cent coarse
    bucket boundary (weights 1+1: rank tw/2 lands on the last cent of
    bucket 0, rank (tw+1)/2 on the first cent of bucket 1) — the locate
    step must pick DIFFERENT buckets per arm and still reproduce the
    oracle exactly. A second flag pins the both-ranks-in-one-bucket case.
    """
    rows = [
        # flag A: cents 65535 (bucket 0) and 65537 (bucket 1), weight 1+1
        ("A", 655.35, 1.0),
        ("A", 655.37, 1.0),
        # flag B: all weight in one bucket, uneven weights
        ("B", 10.00, 3.0),
        ("B", 20.00, 1.0),
    ]
    pd.DataFrame(
        rows, columns=["l_returnflag", "l_extendedprice", "l_quantity"]
    ).to_parquet(tmp_path / "lineitem.parquet", index=False)

    sdf = QUERIES["weighted_median_price"](spark, str(tmp_path))
    got = canon_rows(list(sdf.columns), [tuple(r) for r in sdf.collect()])

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM"
        f" read_parquet('{tmp_path}/lineitem.parquet')"
    )
    cur = con.execute(ORACLE["weighted_median_price"])
    want = canon_rows([d[0] for d in cur.description], cur.fetchall())
    con.close()
    assert got == want
    # and the hand-computed crossings: A = 65535 + 65537, B = 1000 + 1000
    by_flag = {r["l_returnflag"]: r for r in sdf.collect()}
    assert by_flag["A"]["wmedian_cents_x2"] == 131072
    assert by_flag["B"]["wmedian_cents_x2"] == 2000


def test_weighted_median_plan_is_domain_bounded(spark):
    """Both passes shuffle domain-bounded cells only: no window may run
    over a corpus-keyed frame — every Window sits above an aggregate —
    and the target attach is a broadcast join."""
    plan = _plan(spark, "weighted_median_price")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


# ------------------------------------------------------- cap device (#5)


def test_cap_bucket_size_metrics_unchanged(spark):
    """The cap reports rows in capped buckets / capped-bucket count / max
    bucket size, zero-safe when clean. NULL keys form one bucket that is
    capped like any other — rows kept and metric agree — and an empty
    frame still fills the observation."""
    from pyspark.sql import Observation

    from py_datalake_move_files_spark.operators.similarity import (
        _cap_bucket_size,
    )

    df = spark.createDataFrame(
        [(i, "hot") for i in range(10)]
        + [(100 + i, "warm") for i in range(6)]
        + [(999, "solo")],
        "id long, b string",
    )
    obs = Observation()
    assert _cap_bucket_size(df, ["b"], 6, observation=obs).count() == 7
    got = obs.get
    assert got["rows_dropped"] == 10
    assert got["buckets_capped"] == 1
    assert got["max_bucket_n"] == 10

    clean = Observation()
    assert _cap_bucket_size(df, ["b"], 64, observation=clean).count() == 17
    got = clean.get
    assert got["rows_dropped"] == 0 and got["buckets_capped"] == 0
    assert got["max_bucket_n"] == 10

    nulls = spark.createDataFrame(
        [(i, None) for i in range(10)] + [(999, "solo")], "id long, b string"
    )
    null_obs = Observation()
    assert _cap_bucket_size(nulls, ["b"], 3, observation=null_obs).count() == 1
    got = null_obs.get
    assert got["rows_dropped"] == 10 and got["buckets_capped"] == 1

    empty = Observation()
    assert _cap_bucket_size(df.limit(0), ["b"], 3, observation=empty).count() == 0
    assert empty.get["buckets_capped"] == 0


def test_band_keyed_plans_scan_documents_once(spark):
    """The band-keyed pair generators cap with one window over the banded
    frame: the final AQE plan reads ``documents`` once and carries no
    anti-join, and the session factory excludes no AQE optimizer rule."""
    for name in ("dedup_minhash_lsh", "simhash_dup_pairs"):
        df = QUERIES[name](spark, SF)
        df.collect()  # run the frame itself so AQE settles its final plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, name
        plan = plan.split("== Initial Plan ==")[0]
        assert plan.count("FileScan parquet") == 1, name
        assert "documents" in plan, name
        assert "LeftAnti" not in plan, name
    assert spark.conf.get("spark.sql.adaptive.optimizer.excludedRules", "") == ""