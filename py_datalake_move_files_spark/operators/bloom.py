"""Bloom-filter membership primitives built from pure DataFrame expressions.

Spark uses Bloom filters internally (runtime row-group filtering, the
``bloom_filter_agg``/``might_contain`` Catalyst expressions behind
spark.sql.optimizer.runtime.bloomFilter), but does NOT expose them to the
SQL/DataFrame surface in 4.x — so a pipeline that wants an *explicit*
Bloom stage (the classic "discard 99% of a 100 TB corpus map-side before
an exact verify join" decontamination shape) has nothing to call. These
two functions provide that stage with zero new execution machinery:

- :func:`bloom_build` aggregates a column of items into ONE row holding a
  dense ``map<int, bigint>`` word-bitmap (m bits as m/64 longs; absent
  words are all-zero). Build cost is one map-side-combined aggregate over
  ``k_hashes`` positions per item; the result is O(m_bits/8) bytes no
  matter how many items went in — the whole point vs broadcasting the
  item set itself.
- :func:`bloom_probe` broadcasts that one row onto a target DataFrame and
  appends a boolean "might be a member" column. The probe is pure
  whole-stage-codegen arithmetic (xxhash64 double hashing + shift/AND on
  the map words): no shuffle, no Python, no join on the probed side.

Double hashing (Kirsch–Mitzenmatcher): position_i = (h1 + i*h2) mod m for
i in 0..k-1 simulates k independent hashes from two xxhash64 calls with
different seeds. Both hashes are reduced mod m BEFORE the multiply-add so
the arithmetic stays inside BIGINT under ANSI overflow checking.

Guarantees (property-tested in tests/test_bloom.py): NO false negatives —
every item that was built in probes true — and a false-positive rate that
shrinks with m_bits (the standard (1-e^{-kn/m})^k curve). Because there
are no false negatives, a Bloom prefilter composed with an exact verify
join is *output-identical* to the exact join alone, which is what lets
queries using it keep exact SQL oracles (queries_corpus.py
``bloom_decontamination``).

Reference scope: the reference (a 565-LoC file mover, app/main.py) has no
sketch/membership operators; this module belongs to the repo's
LLM-pipeline tier (SURVEY.md "beyond-reference" mandate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: seeds for the two xxhash64 calls behind double hashing; any fixed
#: distinct pair works, pinned so filters are stable across runs
_SEED_A = 0x5BF0
_SEED_B = 0xC3A5


def _positions_sql(h1_sql: str, h2_sql: str, m_bits: int, k_hashes: int) -> str:
    """SQL array expression of the ``k_hashes`` bit positions, given the
    TWO per-item hash columns (Kirsch–Mitzenmatcher double hashing).

    The hashes are taken as column references, not inlined expressions:
    Catalyst does not hoist loop-invariant subexpressions out of HOF
    lambdas, so inlining ``xxhash64(item)`` here would recompute both
    hashes for every i — 2·k hash calls per item instead of 2 on the very
    stage this module advertises as the billions-of-shingles map filter.
    Callers materialize the hashes with :func:`_with_hashes` first.

    ``pmod`` each hash into [0, m) before the multiply-add: i*h2 with a
    raw 64-bit h2 would overflow BIGINT (an error under ANSI mode, silent
    wrap otherwise); after reduction the intermediate is < k*m, always
    safe for any practical m.
    """
    return (
        f"transform(sequence(0, {k_hashes - 1}), bfi -> "
        f"pmod({h1_sql} + CAST(bfi AS BIGINT) * {h2_sql}, {m_bits}L))"
    )


def _with_hashes(df: DataFrame, col: str, m_bits: int) -> DataFrame:
    """Materialize the two double-hashing bases as real columns (one
    xxhash64 each per row — see :func:`_positions_sql`)."""
    return df.withColumn(
        "__bf_h1", F.expr(f"pmod(xxhash64({col}, {_SEED_A}), {m_bits}L)")
    ).withColumn(
        "__bf_h2", F.expr(f"pmod(xxhash64({col}, {_SEED_B}), {m_bits}L)")
    )


def bloom_build(
    items: DataFrame,
    col: str,
    *,
    m_bits: int = 1 << 17,
    k_hashes: int = 4,
) -> DataFrame:
    """Aggregate ``items[col]`` into a one-row Bloom filter DataFrame.

    Returns a single row ``(bloom: map<int, bigint>)`` mapping word index
    (bit position div 64) to the OR of that word's set bits. Words with no
    set bit are absent (probe treats absent as zero), so sparse filters
    stay small and a full filter tops out at ``m_bits/64`` entries —
    ~16 KiB of longs at the default m=131072 regardless of item count.

    100 TB shape: explode k positions per item (map-only), partial bit_or
    per word map-side, one tiny final aggregate of ≤ m/64 rows into the
    map. Compare exact-set broadcast: O(distinct items) strings vs this
    constant O(m/8) bytes — at benchmark-decontamination scale (billions
    of train shingles probed against a fixed filter) the filter is the
    only thing small enough to ship to every executor.
    """
    pos = _with_hashes(items, col, m_bits).select(
        F.explode(
            F.expr(_positions_sql("__bf_h1", "__bf_h2", m_bits, k_hashes))
        ).alias("bf_pos")
    )
    words = pos.select(
        F.expr("CAST(bf_pos DIV 64 AS INT)").alias("bf_word"),
        F.expr("shiftleft(1L, CAST(bf_pos % 64 AS INT))").alias("bf_mask"),
    ).groupBy("bf_word").agg(F.expr("bit_or(bf_mask)").alias("bf_bits"))
    return words.agg(
        F.map_from_arrays(
            F.collect_list("bf_word"), F.collect_list("bf_bits")
        ).alias("bloom")
    )


def bloom_probe(
    df: DataFrame,
    col: str,
    bloom: DataFrame,
    *,
    m_bits: int = 1 << 17,
    k_hashes: int = 4,
) -> DataFrame:
    """Append a boolean ``bloom_might_contain``: true iff all ``k_hashes`` bit
    positions of ``df[col]`` are set in ``bloom`` (built with the SAME
    m_bits/k_hashes — mismatched parameters void the no-false-negative
    guarantee, so callers thread one config through both calls).

    The one-row filter joins in as a BroadcastNestedLoopJoin (1-row build
    side — effectively free) and the membership test is codegen-side
    ``forall`` over shift/AND word lookups; the probed DataFrame is not
    shuffled, repartitioned, or sent through Python. ``try_element_at``
    (NULL, not error, on absent words under ANSI mode) + coalesce-to-zero
    handles words no build item ever touched.
    """
    probe = F.expr(
        f"forall({_positions_sql('__bf_h1', '__bf_h2', m_bits, k_hashes)}, bfp -> "
        f"(shiftright(coalesce(try_element_at(bloom, CAST(bfp DIV 64 AS INT)), 0L), "
        f"CAST(bfp % 64 AS INT)) & 1L) = 1L)"
    )
    return (
        _with_hashes(df, col, m_bits)
        .join(F.broadcast(bloom))
        .withColumn("bloom_might_contain", probe)
        .drop("bloom", "__bf_h1", "__bf_h2")
    )
