"""Bloom-filter operator properties (operators/bloom.py) and the
composed bloom_decontamination query's structural guarantees.

The load-bearing claim is NO FALSE NEGATIVES: it is what makes
"Bloom prefilter → exact verify join" output-identical to the exact join
alone, which in turn is why bloom_decontamination can carry an exact SQL
oracle. The FP-rate bound is the efficiency claim (how much of the
corpus the prefilter discards map-side before any join runs).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from py_datalake_move_files_spark.operators.bloom import bloom_build, bloom_probe

M = 1 << 15
K = 4


@pytest.fixture(scope="module")
def built(spark):
    members = spark.range(0, 2000).select(
        F.concat(F.lit("member_"), F.col("id")).alias("s")
    )
    bf = bloom_build(members, "s", m_bits=M, k_hashes=K)
    probes = spark.range(0, 8000).select(
        F.col("id").alias("pid"),
        F.concat(F.lit("member_"), F.col("id")).alias("s"),
    )
    out = bloom_probe(probes, "s", bf, m_bits=M, k_hashes=K)
    agg = (
        out.groupBy(
            (F.col("pid") < 2000).alias("truth"), "bloom_might_contain"
        )
        .count()
        .collect()
    )
    return {(r["truth"], r["bloom_might_contain"]): r["count"] for r in agg}


def test_no_false_negatives(built):
    # every built item MUST probe true — the property the exact-oracle
    # composition depends on
    assert built.get((True, False), 0) == 0
    assert built.get((True, True), 0) == 2000


def test_false_positive_rate_bounded(built):
    # theory at n=2000, m=2^15, k=4: (1 - e^(-kn/m))^4 ≈ 0.25%; assert a
    # loose 2% so hash quality regressions fail without flaking
    fp = built.get((False, True), 0)
    tn = built.get((False, False), 0)
    assert fp + tn == 6000
    assert fp / 6000 < 0.02, f"FP rate {fp / 6000:.4f}"


def test_filter_size_is_bounded_by_m(spark):
    # 10x more items than bits worth of words: the map can never exceed
    # m/64 entries — the constant-size-broadcast property vs an exact set
    items = spark.range(0, 20000).select(F.col("id").cast("string").alias("s"))
    bf = bloom_build(items, "s", m_bits=1 << 10, k_hashes=K)
    row = bf.collect()[0]
    assert len(row["bloom"]) <= (1 << 10) // 64


def test_probe_side_is_map_only(spark):
    # the probed stream must reach the membership test without a shuffle,
    # a Python stage, or a hash join — only the 1-row filter broadcast
    probes = spark.range(0, 100).select(F.col("id").cast("string").alias("s"))
    bf = bloom_build(probes, "s", m_bits=M, k_hashes=K)
    out = bloom_probe(
        spark.range(0, 100).select(F.col("id").cast("string").alias("s")),
        "s",
        bf,
        m_bits=M,
        k_hashes=K,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # exactly one join: the broadcast of the one-row filter
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # no exchange on the probe branch: the only exchanges belong to the
    # filter build (word bit_or + single-row map aggregate)
    probe_branch = plan.split("BroadcastExchange")[0]
    assert "Exchange" not in probe_branch


def test_bloom_decontamination_equals_exact_join(spark, sf_oracle):
    # end-to-end: the composed query's output must be IDENTICAL to the
    # same pipeline with the Bloom stage removed (no false negatives ⇒
    # the prefilter only drops rows the exact join would drop anyway)
    from py_datalake_move_files_spark.operators import dedup as DD
    from py_datalake_move_files_spark.catalog import load_table
    from py_datalake_move_files_spark.queries import QUERIES
    from py_datalake_move_files_spark.queries_corpus import (
        _BLOOM_K_SHINGLE,
        _BLOOM_MIN_SHARED,
        _EVAL_SOURCE,
    )

    got = {
        tuple(r)
        for r in QUERIES["bloom_decontamination"](spark, sf_oracle).collect()
    }

    docs = load_table(spark, sf_oracle, "documents")
    sh = DD.with_shingles(docs, "text", _BLOOM_K_SHINGLE)
    is_eval = F.col("source") == _EVAL_SOURCE
    ev = (
        sh.where(is_eval)
        .select(F.explode("shingle_set").alias("shingle"))
        .distinct()
    )
    train = sh.where(~is_eval).select(
        "doc_id",
        F.size("shingle_set").cast("long").alias("n_shingles"),
        F.explode("shingle_set").alias("shingle"),
    )
    exact = (
        train.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= _BLOOM_MIN_SHARED)
        .select(
            "doc_id",
            "n_shared",
            "n_shingles",
            F.round(F.col("n_shared") / F.col("n_shingles"), 6).alias(
                "contamination_ratio"
            ),
        )
    )
    want = {tuple(r) for r in exact.collect()}
    assert got == want and len(got) > 0


def test_bloom_prefilter_discards_most_rows(spark, sf_oracle):
    # efficiency, measured not asserted-in-prose: the Bloom stage must
    # discard the overwhelming majority of train shingles (the corpus
    # shares little 4-gram text with the eval slice)
    from py_datalake_move_files_spark.operators import dedup as DD
    from py_datalake_move_files_spark.catalog import load_table
    from py_datalake_move_files_spark.queries_corpus import (
        _BLOOM_K_HASHES,
        _BLOOM_K_SHINGLE,
        _BLOOM_M_BITS,
        _EVAL_SOURCE,
    )

    docs = load_table(spark, sf_oracle, "documents")
    sh = DD.with_shingles(docs, "text", _BLOOM_K_SHINGLE)
    is_eval = F.col("source") == _EVAL_SOURCE
    ev = (
        sh.where(is_eval)
        .select(F.explode("shingle_set").alias("shingle"))
        .distinct()
    )
    bf = bloom_build(ev, "shingle", m_bits=_BLOOM_M_BITS, k_hashes=_BLOOM_K_HASHES)
    train = sh.where(~is_eval).select(F.explode("shingle_set").alias("shingle"))
    probed = bloom_probe(
        train, "shingle", bf, m_bits=_BLOOM_M_BITS, k_hashes=_BLOOM_K_HASHES
    )
    stats = probed.groupBy("bloom_might_contain").count().collect()
    by = {r["bloom_might_contain"]: r["count"] for r in stats}
    total = sum(by.values())
    assert by.get(True, 0) / total < 0.5, by
