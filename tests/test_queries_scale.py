"""Oracle-parity + plan checks for the round-3 scale-pattern tier."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from py_datalake_move_files_spark.queries import ORACLE, QUERIES

NAMES = [
    "event_dedup_tumbling",
    "fuzzy_customer_pairs",
    "skew_salted_event_join",
    "pagerank_nation_flow",
]


@pytest.fixture(scope="module")
def oracle(sf_oracle):
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_oracle}/{t}.parquet')"
        )
    return con


def _norm(v):
    import datetime

    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, float):
        return round(v, 6)
    return v


@pytest.mark.parametrize("name", NAMES)
def test_oracle_parity(spark, sf_oracle, oracle, name):
    got = sorted(
        tuple(_norm(v) for v in r) for r in QUERIES[name](spark, sf_oracle).collect()
    )
    want = sorted(
        tuple(_norm(v) for v in r) for r in oracle.execute(ORACLE[name]).fetchall()
    )
    assert len(got) == len(want), (len(got), len(want))
    assert got == want


def test_fuzzy_pairs_plan_has_no_cartesian(spark, sf_small):
    plan = (
        QUERIES["fuzzy_customer_pairs"](spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_banding_is_length_adaptive_on_short_names(spark):
    """Sub-10-char names must still band into discriminating chunks (a
    fixed-position-10/13/16 scheme gives them three empty chunks — every
    short name in a group collapses into ONE bucket, i.e. quadratic).
    Checks (a) exact parity with a naive quadratic computed in Python and
    (b) per-(group, len, chunk_idx, chunk) bucket sizes stay well under
    the single-bucket collapse size."""
    import itertools

    from py_datalake_move_files_spark.operators.fuzzy import (
        banded_strings,
        fuzzy_hamming_pairs,
    )

    # 60 short names (3-9 chars), one group, engineered near-dups
    rows = []
    base = ["cat", "car", "dog", "fog", "alpha", "alphb", "gamma", "gamut", "delta9"]
    for i, nm in enumerate(itertools.islice(itertools.cycle(base), 60)):
        # vary one trailing char to create distance-1/2 neighbours
        rows.append((i, nm[:-1] + chr(ord("a") + i % 7)))
    df = spark.createDataFrame(rows, "id long, name string")

    got = sorted(
        tuple(r)
        for r in fuzzy_hamming_pairs(df, "id", "name", max_dist=2).collect()
    )

    def ham(x, y):
        return sum(a != b for a, b in zip(x, y)) if len(x) == len(y) else 99

    want = sorted(
        (a, b, ham(na, nb))
        for (a, na), (b, nb) in itertools.combinations(rows, 2)
        if ham(na, nb) <= 2
    )
    assert got == want and len(want) > 50  # the fixture really exercises pairs

    # banding losslessness: the 3 interleaved position classes of each row
    # partition the name (class j == nm[j::3]), and no class is empty for
    # names of length >= 3 — the properties the fixed 10/13/16 scheme
    # violates for short strings (empty chunks => every short name shares
    # one bucket => quadratic fallback)
    bands = banded_strings(df, "id", "name", (), 2, None).collect()
    by_id = {}
    for r in bands:
        by_id.setdefault(r["id"], {})[r["chunk_idx"]] = r
    for (rid, nm) in rows:
        chunks = [by_id[rid][i]["chunk"] for i in range(3)]
        assert chunks == [nm[0::3], nm[1::3], nm[2::3]], (nm, chunks)
        if len(nm) >= 3:
            assert all(c != "" for c in chunks), (nm, chunks)


def test_fuzzy_compound_bands_agree_with_single_class_bands(spark):
    """PartEnum-style compound banding (n_classes > max_dist + 1) is a pure
    candidate-generation change: results must equal the single-class scheme
    on every corpus, including short names where some classes are empty."""
    import itertools

    from py_datalake_move_files_spark.operators.fuzzy import fuzzy_hamming_pairs

    base = ["cat", "car", "dog", "fog", "alpha", "alphb", "gamma", "gamut", "delta9"]
    rows = [
        (i, nm[:-1] + chr(ord("a") + i % 7))
        for i, nm in enumerate(itertools.islice(itertools.cycle(base), 60))
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    singles = set(map(tuple, fuzzy_hamming_pairs(df, "id", "name").collect()))
    for k in (4, 5):
        compound = set(
            map(
                tuple,
                fuzzy_hamming_pairs(df, "id", "name", n_classes=k).collect(),
            )
        )
        assert compound == singles, k
    assert len(singles) > 50


def test_fuzzy_banding_no_constant_bucket_on_uniform_prefix_corpus(spark):
    """The TPC-H-shaped regression: names sharing a long constant prefix
    plus a high-entropy numeric tail must NOT band into one giant bucket
    (contiguous thirds put the constant prefix chunk of every row in the
    same bucket — the 54 s sf0.1 pathology). With interleaved classes the
    tail's digits reach every chunk, so the largest (chunk_idx, chunk)
    bucket stays a small fraction of the corpus."""
    from py_datalake_move_files_spark.operators.fuzzy import banded_strings

    n = 2000
    # sparse ids (step 73) so every digit position varies, like a real
    # 6-digit custkey range — dense 0..1999 ids leave 5 of 9 digit
    # positions constant, which caps what ANY positional banding can do
    rows = [(i, f"Customer#{i:09d}") for i in range(0, 73 * n, 73)]
    df = spark.createDataFrame(rows, "id long, name string")
    stats = (
        banded_strings(df, "id", "name", (), 2, None)
        .groupBy("chunk_idx", "chunk")
        .count()
        .agg(
            F.max("count").alias("mx"),
            # banding candidate pairs = sum over buckets of c*(c-1)/2
            F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("cands"),
        )
        .first()
    )
    # contiguous thirds give mx == n (the constant 'Custom' chunk) and a
    # fully quadratic candidate set; interleaved classes spread the digit
    # tail so no bucket dominates and candidates stay ~linear-ish
    assert stats.mx < n / 10, stats.mx
    assert stats.cands < 0.10 * (n * (n - 1) / 2), stats.cands


def test_salted_join_plan_spreads_hot_key(spark, sf_small):
    plan = (
        QUERIES["skew_salted_event_join"](spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "__salt" in plan  # join key carries the salt column


def test_fuzzy_banding_lossless_with_line_terminators(spark):
    """Java-regex '.' excludes \\n/\\r by default; without (?s) in the
    position-class gather a terminator broke the class partition and
    distance-1 pairs silently vanished (review finding, r4)."""
    from py_datalake_move_files_spark.operators.fuzzy import fuzzy_hamming_pairs

    rows = [(1, "a\nb"), (2, "a\nc"), (3, "x\ry"), (4, "x\rz"), (5, "a b")]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {
        (r["key_a"], r["key_b"], r["hdist"])
        for r in fuzzy_hamming_pairs(df, "id", "name", max_dist=2).collect()
    }
    assert (1, 2, 1) in got
    assert (3, 4, 1) in got
    assert (1, 5, 1) in got  # \n vs   at position 1


def test_range_partition_plan_has_no_full_sample_sort(spark, sf_small):
    """VERDICT r5 #3: boundary planning must never row_number a global
    window over the raw sample (single-task sort of ~5% of the corpus at
    100 TB). The fixed plan reduces the sample to a distinct-value
    histogram FIRST, so (a) no row_number appears anywhere and (b) every
    Window operates above a HashAggregate of the sample, never on the
    sample scan directly."""
    qe = QUERIES["range_partition_plan"](spark, sf_small)._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "row_number" not in plan.lower()
    # the single-partition window consumes the histogram: its input chain
    # must contain the groupBy-v partial aggregate, evidenced by a
    # hash-aggregate keyed on the sample value column feeding the window
    assert "Window" in plan
    optimized = qe.optimizedPlan().toString()
    win_at = optimized.find("Window")
    assert win_at != -1
    below_window = optimized[win_at:]
    assert "Aggregate" in below_window, (
        "window must run over the aggregated histogram, not raw sample rows"
    )
