"""Leaf module: portable DuckDB SQL fragment generators for the embedding
oracles plus the corpus dimensionality constant.

Deliberately dependency-free (no imports from the registry) so that shared
oracle preludes (``oracle_ivf``) can be built at import time from ANY entry
module without circular-import ordering constraints. ``queries`` re-exports
these names, so existing ``from queries import dd_cosine`` call sites are
unchanged.
"""

from __future__ import annotations

EMB_DIM = 64


def dd_dot(a: str, b: str, dim: int = EMB_DIM) -> str:
    """Left-associative explicit dot product — IEEE-identical to Spark's
    sequential ``aggregate`` fold."""
    return " + ".join(f"{a}[{i}]::DOUBLE * {b}[{i}]::DOUBLE" for i in range(1, dim + 1))


def dd_norm(a: str, dim: int = EMB_DIM) -> str:
    return "sqrt(" + " + ".join(f"{a}[{i}]::DOUBLE * {a}[{i}]::DOUBLE" for i in range(1, dim + 1)) + ")"


def dd_cosine(a: str, b: str) -> str:
    return f"round(({dd_dot(a, b)}) / (({dd_norm(a)}) * ({dd_norm(b)})), 6)"


def dd_recall_tail(approx_cte: str) -> str:
    """Shared recall@10 oracle tail: compares an approximate top-k CTE
    (columns ``query_id, neighbor_id, rn``) against the exact brute-force
    baseline. Requires a ``qv(query_id, q_vec)`` CTE in scope. One
    definition keeps the ivf / refined-ivf / pq / ivf+pq recall metrics
    textually in lockstep — tie-break or denominator changes cannot
    desynchronize them."""
    return f""",
ex_scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    {dd_cosine('q.q_vec', 'e.embedding')} AS cosine_sim
  FROM qv q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id
),
ex_r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rn
  FROM ex_scored
),
hits AS (
  SELECT p.query_id, count(*) AS n
  FROM {approx_cte} p JOIN ex_r e
    ON p.query_id = e.query_id AND p.neighbor_id = e.neighbor_id
  WHERE p.rn <= 10 AND e.rn <= 10
  GROUP BY p.query_id
)
SELECT q.query_id,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
       round(coalesce(h.n, 0) / 10.0, 6) AS recall_at_10
FROM qv q LEFT JOIN hits h USING (query_id)
"""

def dd_hamming(a: str, b: str) -> str:
    """DuckDB positional mismatch count for 18-character strings (the
    fuzzy-join / record-linkage oracles; Spark side is F.levenshtein-free
    positional comparison in operators/fuzzy)."""
    return " + ".join(
        f"CASE WHEN substr({a}, {i}, 1) = substr({b}, {i}, 1) THEN 0 ELSE 1 END"
        for i in range(1, 19)
    )
