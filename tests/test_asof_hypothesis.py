"""Property-based tests (hypothesis) for the backward as-of join: random
keyed event streams checked against a plain-Python merge-asof oracle, with
the salted and unsalted plans required to agree with it exactly.

Timestamps are drawn with heavy collision probability (small integer
ranges) so equal-timestamp boundaries, empty sides, and single-key skew
all occur; only the matched RIGHT TIMESTAMP is compared (payload ties at
an equal timestamp are legitimately engine-order-dependent, matching the
production queries which project the timestamp for hashing).
"""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from py_datalake_move_files_spark.operators.asof import asof_join

BASE = datetime.datetime(2024, 1, 1)


def _ts(sec: int) -> datetime.datetime:
    return BASE + datetime.timedelta(seconds=sec)


event = st.tuples(st.integers(0, 2), st.integers(0, 120))  # (key, sec)
stream = st.lists(event, min_size=0, max_size=30)


def _oracle(lefts, rights):
    out = []
    for k, ls in lefts:
        cand = [rs for rk, rs in rights if rk == k and rs <= ls]
        out.append((k, ls, max(cand) if cand else None))
    return sorted(out)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    lefts=stream,
    rights=stream,
    salt=st.sampled_from([None, 4]),
)
def test_asof_matches_python_oracle(spark, lefts, rights, salt):
    left = spark.createDataFrame(
        [(k, _ts(s)) for k, s in lefts] or [(99, _ts(0))], "k long, lts timestamp"
    )
    right = spark.createDataFrame(
        [(k, _ts(s), f"p{i}") for i, (k, s) in enumerate(rights)]
        or [(98, _ts(0), "x")],
        "k long, rts timestamp, payload string",
    )
    joined = asof_join(
        left,
        right,
        on="k",
        left_ts="lts",
        right_ts="rts",
        right_cols=["rts"],
        salt_buckets=salt,
    )
    got = sorted(
        (
            r.k,
            int((r.lts - BASE).total_seconds()),
            None if r.asof_rts is None else int((r.asof_rts - BASE).total_seconds()),
        )
        for r in joined.collect()
    )
    eff_lefts = lefts or [(99, 0)]
    eff_rights = rights or [(98, 0)]
    want = _oracle(eff_lefts, eff_rights)
    assert got == want
