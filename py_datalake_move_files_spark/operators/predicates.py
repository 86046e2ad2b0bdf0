"""Filter predicates (SURVEY.md §2.2 P9-P13).

Date-range with the reference's inverted null semantics, the JSON content
probe in both a fast declarative form and an exact pandas_udf form, and the
ordered reason-cascade.
"""

from __future__ import annotations

import datetime as _dt
import json

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from py_datalake_move_files_spark.functions.worker import make_worker_preamble


def date_range_predicate(
    ts: Column,
    *,
    after: _dt.datetime | None = None,
    before: _dt.datetime | None = None,
    missing_passes: bool | None = True,
) -> Column:
    """P9 (reference app/main.py:119-136): keep iff ``after <= ts <= before``,
    each bound independently optional. The reference treats a missing
    timestamp as PASSING ("upload date unknown", app/main.py:135-136) —
    inverted vs SQL three-valued logic, hence the explicit coalesce.

    ``missing_passes=None`` skips the null handling entirely (plain SQL
    3VL). This matters for SOURCE PUSHDOWN: ``coalesce(...)`` is not a
    translatable source filter, so the True/False modes evaluate post-scan;
    the None mode yields bare comparisons that reach e.g. binaryFile's
    PushedFilters (where ``modificationTime`` is never null, so all three
    modes agree semantically — see sources.read_content_after_metadata_filter).
    """
    pred = F.lit(True)
    if after is not None:
        pred = pred & (ts >= F.lit(after))
    if before is not None:
        pred = pred & (ts <= F.lit(before))
    if missing_passes is True:
        pred = F.coalesce(pred, F.lit(True))
    elif missing_passes is False:
        pred = F.coalesce(pred, F.lit(False))
    return pred


def json_key_probe_fast(doc_sql: str, key: str, target: str) -> Column:
    """P10 fast path (reference check_file_content, app/main.py:49-106).
    ``doc_sql`` is a SQL column reference (e.g. ``"props"``).

    Declarative probe: the key at top level (``$.key``); else ANY depth-1
    nested object carrying it; else the head of ANY depth-1 list of objects;
    else an array root's head — string-coerced equality; miss/parse failure
    ⇒ False (the reference returns False on not-found/mismatch/non-JSON when
    a filter is set, app/main.py:85-106).

    Divergence from the reference: its nested walk stops at the FIRST dict
    containing the key in insertion order (app/main.py:73-77); this fast path
    matches if ANY does. ``make_json_key_probe_exact`` reproduces the
    reference bit-for-bit; use it when adversarial documents (two nested
    dicts carrying the key with different values) matter.
    """
    doc = F.col(doc_sql)
    starget = F.lit(str(target))

    def eq(c: Column) -> Column:
        return F.coalesce(c.cast("string") == starget, F.lit(False))

    tgt_sql = str(target).replace("'", "''")
    top = F.get_json_object(doc, f"$.{key}")
    # depth-1 nested objects / lists: parse to map<string,string> (nested
    # values come back as raw JSON strings) and probe each value. HOFs are
    # SQL text with unique lambda vars — python-lambda HOFs corrupt when
    # several share a projection (tests/test_lambda_safety.py).
    def any_match(path_prefix: str, u: str) -> Column:
        return F.coalesce(
            F.expr(
                f"exists(map_values(from_json({doc_sql}, 'map<string,string>')), "
                f"{u} -> coalesce("
                f"CAST(get_json_object({u}, '{path_prefix}.{key}') AS STRING)"
                f" = '{tgt_sql}', false))"
            ),
            F.lit(False),
        )

    nested_any = any_match("$", "v0n")
    list_any = any_match("$[0]", "v0l")
    root_list = F.get_json_object(doc, f"$[0].{key}")
    return (
        F.when(top.isNotNull(), eq(top))
        .when(nested_any, F.lit(True))
        .when(list_any, F.lit(True))
        .otherwise(eq(root_list))
    )


def make_json_key_probe_exact(key: str, target: str):
    """P10 exact path: a vectorized (Arrow) pandas_udf replicating the
    reference's probe order bit-for-bit (app/main.py:68-106):

    1. top-level ``key``;
    2. first depth-1 dict containing ``key``, in dict insertion order
       (app/main.py:73-77);
    3. first depth-1 list whose head is a dict containing ``key``
       (app/main.py:78-82);
    not found / mismatch / non-JSON / decode error ⇒ False.
    """
    starget = str(target)
    worker_preamble = make_worker_preamble()

    @F.pandas_udf(T.BooleanType())
    def probe(docs: pd.Series) -> pd.Series:
        worker_preamble()

        def one(txt) -> bool:
            if txt is None:
                return False
            try:
                data = json.loads(txt)
            except (ValueError, TypeError):
                return False
            if isinstance(data, dict):
                if key in data:
                    return str(data[key]) == starget
                for v in data.values():
                    if isinstance(v, dict) and key in v:
                        return str(v[key]) == starget
                    if (
                        isinstance(v, list)
                        and v
                        and isinstance(v[0], dict)
                        and key in v[0]
                    ):
                        return str(v[0][key]) == starget
            elif isinstance(data, list) and data and isinstance(data[0], dict):
                if key in data[0]:
                    return str(data[0][key]) == starget
            return False

        return docs.map(one)

    return probe


def reason_cascade(*checks: tuple[Column, str]) -> Column:
    """P12 (reference should_process_file, app/main.py:109-146): evaluate
    ``(predicate, reject_reason)`` pairs in order; the reason column is the
    FIRST failing predicate's message, or ``Matches all criteria`` when every
    check passes (cheap-before-expensive ordering is the caller's
    responsibility, as in the reference)."""
    expr = F.lit("Matches all criteria")
    for pred, reason in reversed(checks):
        expr = F.when(~F.coalesce(pred, F.lit(False)), F.lit(reason)).otherwise(expr)
    return expr
