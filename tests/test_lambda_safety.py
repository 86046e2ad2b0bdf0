"""Guard against the PySpark python-lambda higher-order-function corruption.

Observed on this stack (Spark 4.1.x): multiple python-lambda HOFs
(``F.transform``/``F.filter``/...) in one projection can silently produce
WRONG, NONDETERMINISTIC values on real multi-row data (colliding
``namedlambdavariable`` bindings) — e.g. 8 minhash transforms returned
different hashes on every run while a single transform was correct. SQL-text
HOFs (``F.expr``) with unique lambda variable names are stable.

Engine policy: operators NEVER use python-lambda HOFs; every HOF is SQL text
with a unique variable (dedup._UNIQ / text._UNIQ / similarity._u). These
tests pin the policy by recomputing operator output in plain Python over the
harness corpus — value-level, not just shape — and by checking run-to-run
determinism.
"""

from __future__ import annotations

import hashlib
import math

from py_datalake_move_files_spark.catalog import load_table
from py_datalake_move_files_spark.operators.dedup import (
    minhash_signatures,
    shingled,
    simhash,
)
from py_datalake_move_files_spark.operators.similarity import brute_force_topk
from py_datalake_move_files_spark.operators.text import (
    LANG_MARKERS,
    fingerprint,
    lang_scores,
)

SF = "/root/testdata/sf0.001"


def _py_shingles(text: str, k: int) -> list[str]:
    toks = text.split(" ")
    if len(toks) < k:
        return [text]
    return list(dict.fromkeys(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)))


def _texts(spark):
    return {
        r.doc_id: r.text
        for r in load_table(spark, SF, "documents").select("doc_id", "text").collect()
    }


def _py_minhash(shingles: list[str], i: int) -> int:
    # mirror of operators/dedup.minhash_signatures: 32-bit slice i of the
    # concatenated per-shingle digest (md5(s) + md5('x1:'+s)), minimized
    def slice_val(s: str) -> int:
        hh = hashlib.md5(s.encode()).hexdigest() + hashlib.md5(
            f"x1:{s}".encode()
        ).hexdigest()
        return int(hh[8 * i : 8 * i + 8], 16)

    return min(slice_val(s) for s in shingles)


def test_minhash_signatures_match_python_and_are_deterministic(spark):
    docs = load_table(spark, SF, "documents")
    texts = _texts(spark)
    runs = [
        {
            r.doc_id: tuple(r)[1:]
            for r in minhash_signatures(
                shingled(docs, "doc_id"), "doc_id", num_hashes=8
            ).collect()
        }
        for _ in range(2)
    ]
    assert runs[0] == runs[1], "minhash signatures nondeterministic"
    for doc_id, sig in runs[0].items():
        sh = _py_shingles(texts[doc_id], 3)
        for i, got in enumerate(sig):
            assert got == _py_minhash(sh, i), f"doc {doc_id} mh{i}"


def test_fingerprint_matches_python(spark):
    docs = load_table(spark, SF, "documents")
    texts = _texts(spark)
    got = {r.doc_id: r.fingerprint for r in fingerprint(docs, "doc_id", k=5).collect()}
    for doc_id, fp in got.items():
        want = min(hashlib.md5(s.encode()).hexdigest() for s in _py_shingles(texts[doc_id], 5))
        assert fp == want, f"doc {doc_id}"


def test_lang_scores_match_python(spark):
    docs = load_table(spark, SF, "documents")
    texts = _texts(spark)
    rows = {r.doc_id: r for r in lang_scores(docs).collect()}
    for doc_id, r in rows.items():
        toks = texts[doc_id].split(" ")
        for lang, words in LANG_MARKERS.items():
            want = round(sum(1 for t in toks if t in words) / len(toks), 6)
            got = getattr(r, f"score_{lang}")
            assert math.isclose(got, want, abs_tol=1e-9), (doc_id, lang, got, want)


def test_simhash_matches_python(spark):
    # 16 bits (simhash_fingerprints) and 32 bits (simhash_dup_pairs), where
    # bit 31 is the top bit of an 8-nibble decode
    docs = load_table(spark, SF, "documents").limit(50)
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    for bits in (16, 32):
        got = {r.doc_id: r.simhash for r in simhash(docs, "doc_id", bits=bits).collect()}
        for doc_id, sh in got.items():
            fp = 0
            sums = [0] * bits
            for t in texts[doc_id].split(" "):
                hv = int(hashlib.md5(t.encode()).hexdigest()[: bits // 4], 16)
                for j in range(bits):
                    sums[j] += 1 if (hv >> j) & 1 else -1
            for j in range(bits):
                if sums[j] > 0:
                    fp += 1 << j
            assert sh == fp, f"doc {doc_id} at {bits} bits"


def test_cosine_topk_matches_python(spark):
    emb = load_table(spark, SF, "embeddings")
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    queries = emb.where(emb.vec_id < 3).selectExpr("vec_id AS query_id", "embedding")
    got = brute_force_topk(emb, queries, k=5).collect()

    def cos(a, b):
        d = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) * float(x) for x in a))
        nb = math.sqrt(sum(float(y) * float(y) for y in b))
        return d / (na * nb)

    for qid in (0, 1, 2):
        want = sorted(
            ((round(cos(vecs[qid], v), 6), k) for k, v in vecs.items() if k != qid),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        mine = [
            (r.cosine_sim, r.neighbor_id)
            for r in sorted((g for g in got if g.query_id == qid), key=lambda r: r.rnk)
        ]
        assert mine == [(s, k) for s, k in want], f"query {qid}"
