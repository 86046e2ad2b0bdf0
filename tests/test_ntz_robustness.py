"""Event-time operator APIs must accept user frames of EITHER timestamp
flavor (TimestampType or TIMESTAMP_NTZ) — harness tables are normalized at
load (catalog.py), but callers pass their own frames; r2's harness-parquet
flavor flip showed how much breaks when epoch/watermark expressions meet an
NTZ column."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from py_datalake_move_files_spark.operators.asof import (
    asof_join,
    interval_join_bucketed,
)

D = datetime.datetime
FLAVORS = ["timestamp", "timestamp_ntz"]


def _with_flavor(df, flavor, *cols):
    return df.withColumns({c: F.col(c).cast(flavor) for c in cols})


@pytest.mark.parametrize("flavor", FLAVORS)
def test_asof_join_salted_both_flavors(spark, flavor):
    # the salted plan buckets by unix_micros of the timestamp, which must
    # accept NTZ columns as well as TimestampType
    left = spark.createDataFrame(
        [
            (1, D(2023, 12, 31, 23, 0)),
            (1, D(2024, 1, 1, 0, 10)),
            (1, D(2024, 1, 1, 2, 0)),
        ],
        "k long, lts timestamp",
    )
    right = spark.createDataFrame(
        [(1, D(2024, 1, 1, 0, 0), "a"), (1, D(2024, 1, 1, 1, 0), "b")],
        "k long, rts timestamp, payload string",
    )
    left = _with_flavor(left, flavor, "lts")
    right = _with_flavor(right, flavor, "rts")
    out = asof_join(
        left,
        right,
        on="k",
        left_ts="lts",
        right_ts="rts",
        right_cols=["payload"],
        salt_buckets=4,
    )
    rows = {r.lts.replace(tzinfo=None): r.asof_payload for r in out.collect()}
    assert rows == {
        D(2023, 12, 31, 23, 0): None,  # before every right row
        D(2024, 1, 1, 0, 10): "a",
        D(2024, 1, 1, 2, 0): "b",  # carried across salt buckets
    }


@pytest.mark.parametrize("flavor", FLAVORS)
def test_interval_join_bucketed_both_flavors(spark, flavor):
    facts = spark.createDataFrame(
        [(1, D(2024, 1, 1, 1, 30)), (1, D(2024, 1, 1, 9, 0))],
        "k long, pt timestamp",
    )
    ivs = spark.createDataFrame(
        [(1, D(2024, 1, 1, 1, 0), D(2024, 1, 1, 2, 0), "iv1")],
        "k long, st timestamp, en timestamp, label string",
    )
    facts = _with_flavor(facts, flavor, "pt")
    ivs = _with_flavor(ivs, flavor, "st", "en")
    out = interval_join_bucketed(
        facts, ivs, point_col="pt", start_col="st", end_col="en", keys=["k"]
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0].label == "iv1"
