"""Skew mitigation for joins on hot keys.

AQE's skew-join splitting (on in `session.py`) handles most skew at runtime;
explicit salting remains the tool when one side must be replicated anyway
(e.g. a dimension joined by a power-law key). ``salted_join`` implements the
classic scheme deterministically:

- fact side gets ``salt = pmod(hash(<row id cols>), factor)``;
- the (small) other side is replicated ``factor`` times via explode;
- the join key becomes (key, salt), splitting each hot key's rows across
  ``factor`` reducers.

Result set is identical to the plain join (replication × matching salt = 1
match per original pair).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    *,
    key: str,
    salt_factor: int = 8,
) -> DataFrame:
    """Inner equi-join ``facts ⋈ dim`` on ``key`` with the dim side
    replicated ``salt_factor``× so a hot key's fact rows spread over
    ``salt_factor`` partitions. All fact columns seed the deterministic
    per-row salt."""
    salted_facts = facts.withColumn(
        "__salt",
        F.pmod(F.hash(*[F.col(c) for c in facts.columns]), F.lit(salt_factor)),
    )
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_factor)]))
    )
    out = salted_facts.join(salted_dim, [key, "__salt"], "inner")
    return out.drop("__salt")
