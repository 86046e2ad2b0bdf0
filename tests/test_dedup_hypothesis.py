"""Property-based tests (hypothesis) for incremental dedup and k-means
assignment: randomized inputs checked against plain-Python recomputations.

incremental_dedup's contract is a three-way partition of the batch whose
correctness depends on join/null/window interplay — the part that can
silently go wrong under refactoring; kmeans_refine's contract is exact
argmax assignment + exact fixed-point means. Both properties run the whole
operator through Spark and compare against brute force.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from py_datalake_move_files_spark.operators.dedup import incremental_dedup
from py_datalake_move_files_spark.operators.similarity import kmeans_refine

key = st.text(alphabet="kx1", min_size=1, max_size=2)
index_keys = st.lists(key, min_size=0, max_size=6)
batch = st.lists(key, min_size=1, max_size=12)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(idx=index_keys, bat=batch)
def test_incremental_dedup_matches_bruteforce(spark, idx, bat):
    idx_df = spark.createDataFrame(
        [(k,) for k in idx] or [("__none__",)], "digest string"
    )
    if not idx:
        idx_df = idx_df.where("digest <> '__none__'")
    bat_rows = list(enumerate(bat))
    bat_df = spark.createDataFrame(bat_rows, "id long, digest string")

    got = {
        r["id"]: r["status"]
        for r in incremental_dedup(bat_df, idx_df, "id").collect()
    }

    idx_set = set(idx)
    seen_first: dict[str, int] = {}
    for i, k in bat_rows:
        seen_first.setdefault(k, i)
    want = {}
    for i, k in bat_rows:
        if k in idx_set:
            want[i] = "dup_of_index"
        elif seen_first[k] == i:
            want[i] = "unique"
        else:
            want[i] = "dup_in_batch"
    assert got == want


vec = st.lists(
    st.floats(
        min_value=-1.0, max_value=1.0, allow_nan=False, allow_infinity=False
    ),
    min_size=3,
    max_size=3,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(vecs=st.lists(vec, min_size=4, max_size=12))
def test_kmeans_refine_matches_bruteforce_one_round(spark, vecs):
    # degenerate all-zero vectors have undefined cosine; keep corpora sane
    vecs = [v if any(abs(x) > 1e-6 for x in v) else [1.0, 0.0, 0.0] for v in vecs]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    init = [(0, rows[0][1]), (1, rows[1][1])]

    got = kmeans_refine(df, init, iters=1)

    # brute force: argmax of 6-dp-rounded cosine (ties to lowest cid),
    # then exact fixed-point means — float32-widened inputs like Spark's
    import struct

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    def round6_spark(x):
        # Spark F.round = BigDecimal.valueOf(double) [shortest repr, like
        # Python repr] then setScale(6, HALF_UP); Python round() is
        # half-even over the exact binary value and can differ on 6-dp
        # boundaries, flipping the argmax
        from decimal import ROUND_HALF_UP, Decimal

        return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    def cos(a, b):
        d = 0.0
        for x, y in zip(a, b):
            d = d + f32(x) * y
        na = 0.0
        for x in a:
            na = na + f32(x) * f32(x)
        nb = 0.0
        for y in b:
            nb = nb + y * y
        return round6_spark(d / (math.sqrt(na) * math.sqrt(nb)))

    assign: dict[int, list[int]] = {}
    for i, v in rows:
        best = max(
            sorted(init), key=lambda c: (cos(v, c[1]), -c[0])
        )  # ties -> lowest cid
        assign.setdefault(best[0], []).append(i)
    want = []
    for cid, members in sorted(assign.items()):
        comps = []
        for d in range(3):
            s = sum(round(f32(vecs[m][d]) * 1_000_000) for m in members)
            comps.append(float(s) / float(1_000_000 * len(members)))
        want.append((cid, comps))
    assert got == sorted(want)


tok = st.sampled_from(["a", "b", "c", "d", "e", "f"])
tiny_docs = st.lists(
    st.lists(tok, min_size=3, max_size=7), min_size=2, max_size=6
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(texts=tiny_docs, cap=st.integers(min_value=1, max_value=4))
def test_containment_max_df_split_matches_bruteforce(spark, texts, cap):
    """The r6 capped-containment split (capped-pair groupBy + hot-set
    array_intersect) against a plain-Python recomputation of the SAME
    semantics: candidate pairs share >=1 shingle with 1 < df <= cap;
    their scores are EXACT over full shingle sets."""
    from py_datalake_move_files_spark.operators.dedup import containment_pairs

    rows = [(i, " ".join(toks)) for i, toks in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): (r["containment"], r["jaccard"])
        for r in containment_pairs(
            df, "doc_id", threshold=0.0, max_df=cap
        ).collect()
    }

    def shingles(toks):
        if len(toks) < 3:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    ss = {i: shingles(toks) for i, toks in enumerate(texts)}
    dfreq: dict[str, int] = {}
    for s in ss.values():
        for sh in s:
            dfreq[sh] = dfreq.get(sh, 0) + 1
    capped = {sh for sh, d in dfreq.items() if 1 < d <= cap}
    want = {}
    for a in range(len(rows)):
        for b in range(a + 1, len(rows)):
            if not (ss[a] & ss[b] & capped):
                continue  # hot-only / disjoint pairs are the recall trade
            inter = len(ss[a] & ss[b])
            cont = round(inter / min(len(ss[a]), len(ss[b])), 6)
            jac = round(inter / (len(ss[a]) + len(ss[b]) - inter), 6)
            want[(a, b)] = (cont, jac)
    assert got == want


def test_containment_max_df_split_adversarial_boilerplate(spark):
    """VERDICT r6 #8: hot shingle df >> cap. 30 docs all share one
    boilerplate sentence (every boilerplate shingle has df = 30 with
    cap = 2 — far past the cap), 10 of them additionally embed a common
    quote (df = 10, also hot), and 3 pairs are genuine near-dups through
    capped content. The split must (a) keep every pair that shares at
    least one capped shingle, with EXACT scores over the FULL sets
    (hot contribution included via the hot-set intersect), and (b) drop
    only pairs whose entire overlap is hot — the documented recall trade.
    """
    from py_datalake_move_files_spark.operators.dedup import containment_pairs

    boiler = "terms of service apply here"
    quote = "to be or not"
    docs = {}
    for i in range(30):
        parts = [boiler, f"unique{i}a unique{i}b unique{i}c unique{i}d"]
        if i < 10:
            parts.append(quote)
        docs[i] = " ".join(parts)
    # three near-dup pairs through capped (df=2) content
    docs[30] = docs[0] + " shared tail one alpha"
    docs[31] = docs[1] + " shared tail one alpha"
    docs[32] = docs[2] + " another common tail beta"
    docs[33] = docs[3] + " another common tail beta"

    rows = [(i, t) for i, t in sorted(docs.items())]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cap = 2
    got = {
        (r["id_a"], r["id_b"]): (r["containment"], r["jaccard"])
        for r in containment_pairs(
            df, "doc_id", threshold=0.0, max_df=cap
        ).collect()
    }

    def shingles(text):
        toks = text.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    ss = {i: shingles(t) for i, t in rows}
    dfreq: dict[str, int] = {}
    for s in ss.values():
        for sh in s:
            dfreq[sh] = dfreq.get(sh, 0) + 1
    capped = {sh for sh, d in dfreq.items() if 1 < d <= cap}
    want = {}
    for a in range(len(rows)):
        for b in range(a + 1, len(rows)):
            if not (ss[a] & ss[b] & capped):
                continue
            inter = len(ss[a] & ss[b])
            want[(a, b)] = (
                round(inter / min(len(ss[a]), len(ss[b])), 6),
                round(inter / (len(ss[a]) + len(ss[b]) - inter), 6),
            )
    assert got == want
    # the capped candidate set is the 2 constructed near-dup pairs...
    assert set(got) == {(0, 30), (1, 31), (2, 32), (3, 33), (30, 31), (32, 33)}
    # ...and their scores include the HOT (boilerplate) intersection:
    # doc 0 is fully contained in doc 30 (same text + tail), so C = 1.0
    assert got[(0, 30)][0] == 1.0
