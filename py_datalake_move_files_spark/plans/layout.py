"""Lake write layout: the z-order (Morton) clustering key.

The reference writes one blob per file (app/main.py:179-182); an analytics
lake instead clusters rows so parquet row-group min/max statistics skip
irrelevant data. :func:`zorder_key` interleaves several columns' bits into
one sort key (used by ``plans/maintenance.optimize_zorder`` and the
``zorder_locality`` query); :func:`zorder_key_sql` is the same key as
portable SQL text for the DuckDB oracle.
"""

from __future__ import annotations


def zorder_key(cols: list[str], *, bits: int = 8):
    """Z-order (Morton) interleave of ``bits`` low bits from each column —
    the multi-dimensional clustering key for data-skipping layouts.

    Sorting (or range-partitioning) a table by this key before writing makes
    parquet row-group min/max stats tight in EVERY interleaved dimension at
    once, so selective predicates on any of them skip most row groups — the
    property a single-column sort only gives its leading column. At 100 TB:
    ``df.repartitionByRange(N, zorder_key([...]))`` then
    ``sortWithinPartitions`` by the same key; the write is the only shuffle.

    Pure JVM bit arithmetic (``shiftright/&/shiftleft`` per bit), no UDFs;
    callers bucketize raw values into ``2^bits`` ranks first (e.g. via
    ``histogram_fixed_width`` buckets or ``floor(v / step)``) — interleaving
    raw skewed values wastes high bits.
    """
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(F.col(c).cast("long"), b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, b * len(cols) + i)
    return z


def zorder_key_sql(cols: list[str], *, bits: int = 8) -> str:
    """The same Morton interleave as :func:`zorder_key`, as engine-portable
    SQL text: bit ``b`` of ``c`` is extracted as
    ``(c % 2^(b+1)) >= 2^b`` — modulo + comparison + CASE only, valid in
    both Spark SQL and DuckDB — so external oracles verify layouts
    bit-for-bit."""
    terms = []
    for b in range(bits):
        for i, c in enumerate(cols):
            terms.append(
                f"(CASE WHEN (CAST({c} AS BIGINT) % {2 ** (b + 1)}) >= {2 ** b} "
                f"THEN {2 ** (b * len(cols) + i)} ELSE 0 END)"
            )
    return " + ".join(terms)
