"""Behavioral unit tests for dedup / similarity / as-of operators on crafted
inputs (the oracle-parity suite covers the harness tables; these pin the
semantics on controlled corners)."""

from __future__ import annotations

import datetime as dt
import hashlib

import duckdb
import pytest

from pyspark.sql import functions as F

from py_datalake_move_files_spark.operators.asof import asof_join, range_join
from py_datalake_move_files_spark.operators.dedup import (
    dedup_exact,
    hex_value,
    hex_value_sql,
    jaccard_pairs,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signatures,
    shingled,
    simhash,
)
from py_datalake_move_files_spark.operators.similarity import brute_force_topk


def test_dedup_exact_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (5, "same text"), (3, "other")], ["doc_id", "text"]
    )
    rows = {r.keep_id: r.n_copies for r in dedup_exact(df, "doc_id").collect()}
    assert rows == {1: 2, 3: 1}


def test_minhash_lsh_finds_exact_dup_pair(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "totally different words here now ok yes")],
        ["doc_id", "text"],
    )
    sh = shingled(df, "doc_id")
    sigs = minhash_signatures(sh, "doc_id")
    cands = lsh_candidate_pairs(sigs, "doc_id")
    pairs = {(r.id_a, r.id_b) for r in cands.collect()}
    assert (1, 2) in pairs
    verified = jaccard_verify(sh, "doc_id", cands, threshold=0.99).collect()
    assert [(v.id_a, v.id_b, v.jaccard) for v in verified] == [(1, 2, 1.0)]


def test_jaccard_inverted_index_no_candidates(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g"), (3, "z y x w v u")],
        ["doc_id", "text"],
    )
    got = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(df, "doc_id", threshold=0.1).collect()}
    # docs 1,2: shingles {abc,bcd,cde,def} vs {abc,bcd,cde,deg}: 3/5
    assert got == {(1, 2): 0.6}


def test_simhash_identical_tokens_collide(spark):
    df = spark.createDataFrame(
        [(1, "w1 w2 w3"), (2, "w3 w2 w1"), (3, "entirely different tokens")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r.simhash for r in simhash(df, "doc_id").collect()}
    assert rows[1] == rows[2]  # order-insensitive token multiset
    assert rows[1] != rows[3]


def test_hex_value_matches_oracle_form_and_python(spark):
    """Spark's ``conv`` decoder, the DuckDB oracle's nibble arithmetic and
    Python's ``int(s[:n], 16)`` give the same integer at every width the
    engine decodes (1..8 nibbles for hashes, 13 for the sampling keys);
    ``hex_value`` refuses widths whose value can overflow a BIGINT."""
    digests = [hashlib.md5(str(i).encode()).hexdigest() for i in range(300)]
    digests += ["0" * 32, "f" * 32, "0f" * 16]
    widths = [*range(1, 9), 13]
    want = {h: tuple(int(h[:n], 16) for n in widths) for h in digests}

    df = spark.createDataFrame([(h,) for h in digests], ["h"])
    spark_rows = df.select(
        "h", *[F.expr(hex_value("h", n)).alias(f"v{n}") for n in widths]
    ).collect()
    assert {r[0]: tuple(r[1:]) for r in spark_rows} == want

    con = duckdb.connect()
    con.execute("CREATE TABLE t (h VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(h,) for h in digests])
    cols = ", ".join(f"CAST({hex_value_sql('h', n)} AS BIGINT)" for n in widths)
    duck_rows = con.execute(f"SELECT h, {cols} FROM t").fetchall()
    assert {r[0]: tuple(r[1:]) for r in duck_rows} == want

    with pytest.raises(ValueError, match="1..15 nibbles"):
        hex_value("h", 16)  # 16^16 does not fit a BIGINT


def test_hash_kernels_decode_hex_with_conv(spark):
    """minhash_signatures and simhash decode their hex slices with one
    native ``conv`` per hash, not the oracle's per-nibble ``instr`` terms
    (those run interpreted inside the HOF lambdas, once per element)."""
    df = spark.createDataFrame([(1, "a b c d"), (2, "e f g h")], ["doc_id", "text"])
    for out in (
        minhash_signatures(shingled(df, "doc_id"), "doc_id"),
        simhash(df, "doc_id", bits=32),
    ):
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "conv(" in plan and "instr(" not in plan, plan


def test_brute_force_topk_orders_by_cosine(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal
        (3, [0.5, 0.5, 0.0]),
    ]
    corpus = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    queries = corpus.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = brute_force_topk(corpus, queries, k=2).orderBy("rnk").collect()
    assert [r.neighbor_id for r in got] == [1, 3]
    assert got[0].cosine_sim > got[1].cosine_sim > 0


def test_asof_join_backward_inclusive(spark):
    left = spark.createDataFrame(
        [
            ("u1", dt.datetime(2024, 1, 1, 10, 0), "p1"),
            ("u1", dt.datetime(2024, 1, 1, 12, 0), "p2"),
            ("u2", dt.datetime(2024, 1, 1, 9, 0), "p3"),  # no prior right row
        ],
        ["user", "ts", "pid"],
    )
    right = spark.createDataFrame(
        [
            ("u1", dt.datetime(2024, 1, 1, 9, 30), "v1"),
            ("u1", dt.datetime(2024, 1, 1, 10, 0), "v2"),   # ties left p1 exactly
            ("u1", dt.datetime(2024, 1, 1, 11, 0), "v3"),
            ("u2", dt.datetime(2024, 1, 1, 9, 30), "v4"),   # after p3
        ],
        ["user", "ts", "vid"],
    )
    out = {
        r.pid: r.asof_vid
        for r in asof_join(
            left, right, on="user", left_ts="ts", right_ts="ts", right_cols=["vid"]
        ).collect()
    }
    assert out == {"p1": "v2", "p2": "v3", "p3": None}  # inclusive <=, latest prior


def test_range_join_buckets(spark):
    facts = spark.createDataFrame([(5.0,), (15.0,), (150.0,)], ["v"])
    iv = spark.createDataFrame(
        [("lo", 0.0, 10.0), ("mid", 10.0, 100.0), ("hi", 100.0, 1e9)],
        ["label", "lo", "hi"],
    )
    got = {
        r.v: r.label
        for r in range_join(facts, iv, point_col="v", start_col="lo", end_col="hi").collect()
    }
    assert got == {5.0: "lo", 15.0: "mid", 150.0: "hi"}


def test_incremental_dedup_statuses_and_keeper(spark):
    from py_datalake_move_files_spark.operators.dedup import incremental_dedup

    index = spark.createDataFrame([("k1",), ("k2",)], "digest string")
    batch = spark.createDataFrame(
        [(10, "k1"), (11, "k3"), (12, "k3"), (13, "k4"), (14, "k3")],
        "id long, digest string",
    )
    out = {
        r["id"]: r["status"]
        for r in incremental_dedup(batch, index, "id").collect()
    }
    assert out == {
        10: "dup_of_index",  # key already in the standing index
        11: "unique",  # min-id keeper of the new k3 group
        12: "dup_in_batch",
        14: "dup_in_batch",
        13: "unique",
    }


def test_containment_pairs_finds_embedded_doc(spark):
    """A doc fully embedded in a longer one: containment 1.0 while Jaccard
    stays low — the asymmetric case the operator exists for. Hand-computed
    on 3-shingle sets."""
    from py_datalake_move_files_spark.operators.dedup import containment_pairs

    small = "a b c d e"                       # shingles: abc bcd cde (3)
    big = small + " f g h i j k l m n"        # 12 shingles, contains all 3
    other = "zz yy xx ww vv"                  # disjoint
    df = spark.createDataFrame(
        [(1, small), (2, big), (3, other)], "doc_id long, text string"
    )
    rows = {(r["id_a"], r["id_b"]): r for r in
            containment_pairs(df, "doc_id", threshold=0.8).collect()}
    assert set(rows) == {(1, 2)}
    r = rows[(1, 2)]
    assert r["containment"] == 1.0
    assert r["jaccard"] == 0.25  # 3 / (3 + 12 - 3)


def test_containment_pairs_threshold_excludes_partial(spark):
    from py_datalake_move_files_spark.operators.dedup import containment_pairs

    # doc1 shingles {abc, bcd}; doc2 {bcd, cde, def}: intersection {bcd}
    # -> containment 1/min(2,3) = 0.5 < 0.8
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "b c d e f")], "doc_id long, text string"
    )
    assert containment_pairs(df, "doc_id", threshold=0.8).count() == 0
    out = containment_pairs(df, "doc_id", threshold=0.4).collect()
    assert len(out) == 1 and out[0]["containment"] == 0.5
    assert out[0]["jaccard"] == 0.25  # 1 / (2 + 3 - 1)


def test_containment_pairs_max_df_bounds_hot_shingle_candidates(spark):
    """Skewed fixture (VERDICT r5 #2): ONE boilerplate shingle shared by
    every document. Uncapped, the posting self-join yields N·(N-1)/2
    candidate pairs from that shingle alone; with ``max_df`` the hot
    shingle is excluded from candidate generation, so hot-only pairs
    vanish while genuinely contained pairs keep EXACT full-set scores.
    No silent cap: the drop reports through the house cap metrics."""
    from py_datalake_move_files_spark.operators.dedup import containment_pairs

    n = 6
    # every doc ends in the boilerplate trigram "x y z" (df = n) but is
    # otherwise unique -> each boilerplate pair shares ONLY the hot shingle
    boiler = [(i, f"u{i} v{i} w{i} x y z") for i in range(n)]
    # plus a true containment pair sharing 3 RARE shingles (df = 2 <= cap)
    small = (100, "a b c d e")           # shingles abc bcd cde
    big = (101, "a b c d e f g h")       # + def efg fgh; contains all 3
    df = spark.createDataFrame(
        boiler + [small, big], "doc_id long, text string"
    )

    capped = containment_pairs(df, "doc_id", threshold=0.2, max_df=3)
    qe = capped._jdf.queryExecution()
    plan = qe.optimizedPlan().toString()
    assert "CollectMetrics" in plan and "bucket_cap:" in plan
    rows = {(r["id_a"], r["id_b"]): r for r in capped.collect()}
    # the n postings of "x y z" are dropped, one capped bucket of size n
    metrics = qe.observedMetrics()
    names = metrics.keys().mkString("\n").split("\n")
    (name,) = [k for k in names if k.startswith("bucket_cap:")]
    got = metrics.get(name).get()
    assert (got.getLong(0), got.getLong(1), got.getLong(2)) == (n, 1, n)
    # the hot-only boilerplate pairs are gone; the real pair survives with
    # the exact uncapped score (re-scored over FULL shingle sets)
    assert set(rows) == {(100, 101)}
    assert rows[(100, 101)]["containment"] == 1.0
    assert rows[(100, 101)]["jaccard"] == 0.5  # 3 / (3 + 6 - 3)

    # the uncapped path DOES emit the n*(n-1)/2 hot-only pairs at this
    # threshold (containment 1/4 >= 0.2) — the quadratic blowup the cap
    # removes from candidate generation
    uncapped = containment_pairs(df, "doc_id", threshold=0.2)
    assert uncapped.count() == n * (n - 1) // 2 + 1

    # candidate-count bound, computed from the same df-cap device the
    # operator uses: with the cap, only the 3 df=2 shingles generate
    # candidates -> exactly 1 distinct pair (vs 16 uncapped)
    from collections import Counter

    shingle_sets = {
        i: {" ".join(t.split()[j : j + 3]) for j in range(len(t.split()) - 2)}
        for i, t in boiler + [small, big]
    }
    dfreq = Counter(s for ss in shingle_sets.values() for s in ss)
    cand_capped = {
        (a, b)
        for a in shingle_sets
        for b in shingle_sets
        if a < b
        and shingle_sets[a]
        & shingle_sets[b]
        & {s for s, d in dfreq.items() if 1 < d <= 3}
    }
    assert cand_capped == {(100, 101)}


def test_bigram_lm_scores_oov_and_buckets(spark):
    """Hand-computed: model 'a b b c' has bigrams {a b:1, b b:1, b c:1};
    scoring doc 'a b x y' has bigrams [a b, b x, x y] -> one seen (count 1,
    log2 bucket 0), two OOV."""
    from py_datalake_move_files_spark.operators.text import bigram_lm_scores

    ref = spark.createDataFrame([(0, "a b b c")], "doc_id long, text string")
    inc = spark.createDataFrame(
        [(1, "a b x y"), (2, "z")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in bigram_lm_scores(inc, ref).collect()}
    assert set(rows) == {1}  # the 1-token doc emits no bigrams
    r = rows[1]
    assert r["n_bigrams"] == 3
    assert r["oov_frac"] == round(2 / 3, 6)
    assert r["mean_log2_bgfreq"] == 0.0  # seen bigram count=1 -> bucket 0


def test_bigram_lm_scores_bucket_growth(spark):
    """A bigram seen 4 times lands in log2 bucket 2 (length(bin(4))-1)."""
    from py_datalake_move_files_spark.operators.text import bigram_lm_scores

    ref = spark.createDataFrame(
        [(i, "a b") for i in range(4)], "doc_id long, text string"
    )
    inc = spark.createDataFrame([(9, "a b")], "doc_id long, text string")
    r = bigram_lm_scores(inc, ref).first()
    assert r["n_bigrams"] == 1 and r["oov_frac"] == 0.0
    assert r["mean_log2_bgfreq"] == 2.0


def test_bm25_matches_python_recomputation(spark):
    """The BM25 double chain recomputed in plain Python with the same
    associativity — guards the formula mirror (idf/tf/len normalization)
    the oracle relies on, on a corpus small enough to verify by hand."""
    import math

    from py_datalake_move_files_spark.operators.retrieval import (
        BM25_B,
        BM25_K1,
        bm25_score_sql,
    )
    from py_datalake_move_files_spark.queries_retrieval import BM25_TERMS
    from pyspark.sql import functions as F

    texts = {
        1: "spark merge vector spark",
        2: "merge merge merge other words here",
        3: "nothing relevant at all",
        4: "vector",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    toks = df.withColumn("__toks", F.expr("split(text, ' ')"))
    stats = toks.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (
            F.sum(F.size("__toks").cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
        *[
            F.sum(F.when(F.array_contains("__toks", t), 1).otherwise(0))
            .cast("long")
            .alias(f"df{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    perdoc = toks.select(
        "doc_id",
        F.size("__toks").cast("long").alias("dl"),
        *[
            F.expr(
                f"CAST(size(filter(__toks, bmx{i} -> bmx{i} = '{t}')) AS BIGINT)"
            ).alias(f"tf{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    got = {
        r["doc_id"]: r["score"]
        for r in perdoc.crossJoin(F.broadcast(stats))
        .select("doc_id", F.expr(bm25_score_sql(len(BM25_TERMS))).alias("score"))
        .collect()
    }

    docs_toks = {i: t.split(" ") for i, t in texts.items()}
    n_docs = len(docs_toks)
    avgdl = sum(len(t) for t in docs_toks.values()) / float(n_docs)
    dfs = [sum(1 for t in docs_toks.values() if term in t) for term in BM25_TERMS]
    for i, tks in docs_toks.items():
        dl = len(tks)
        score = None
        for j, term in enumerate(BM25_TERMS):
            tf = tks.count(term)
            idf = math.log((float(n_docs) - dfs[j] + 0.5) / (dfs[j] + 0.5) + 1.0)
            piece = (idf) * (float(tf) * (BM25_K1 + 1.0)) / (
                float(tf) + BM25_K1 * (1.0 - BM25_B + BM25_B * (float(dl) / avgdl))
            )
            score = piece if score is None else score + piece
        assert got[i] == round(score, 6), (i, got[i], score)


def test_multiprobe_recall_dominates_single_probe(spark):
    """Multi-probe's candidate pool is a strict superset of the home
    bucket's (probes include it), so recall@10 vs the exact baseline must
    be >= single-probe recall for every query — the property that makes
    it a recall dial and not just a different index."""
    from py_datalake_move_files_spark.catalog import load_table
    from py_datalake_move_files_spark.operators.similarity import (
        brute_force_topk,
        lsh_bucketed_topk,
        lsh_multiprobe_topk,
        recall_vs_exact,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=10)
    # 4 planes = 16 buckets over 500 vectors: recall is non-trivial for
    # both arms (8 planes shatters this corpus to ~2 vectors/bucket and
    # both recalls degenerate to 0, proving nothing)
    single = lsh_bucketed_topk(emb, queries, k=10, n_planes=4, dim=64)
    multi = lsh_multiprobe_topk(
        emb, queries, k=10, n_planes=4, dim=64, m_probes=2
    )
    r_single = {r["query_id"]: r["n_hits"]
                for r in recall_vs_exact(single, exact, queries, k=10).collect()}
    r_multi = {r["query_id"]: r["n_hits"]
               for r in recall_vs_exact(multi, exact, queries, k=10).collect()}
    assert set(r_single) == set(r_multi)
    for qid in r_single:
        assert r_multi[qid] >= r_single[qid], qid
    # and somewhere it actually buys recall on this corpus
    assert sum(r_multi.values()) > sum(r_single.values())


def test_sizes_broadcast_is_conditional_on_corpus_size(spark, monkeypatch):
    """VERDICT r5 #8: the per-document sizes side is broadcast only while
    provably small; above the threshold the SAME results come back through
    a plain co-partitioned join (per-doc sides grow with the corpus —
    ~12 GB at 1B docs — and must never be forced broadcast)."""
    from py_datalake_move_files_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d e f g h"),
            (3, "a b c d x"),
            (4, "zz yy xx ww vv"),
        ],
        "doc_id long, text string",
    )

    def run():
        return sorted(
            tuple(r)
            for r in DD.jaccard_pairs(
                docs, "doc_id", threshold=0.2
            ).collect()
        )

    # unit contract: _maybe_broadcast hints only under the threshold
    small = spark.createDataFrame([(1, 2)], "doc long, n_sh int")
    hinted = DD._maybe_broadcast(small, 10)._jdf.queryExecution()
    unhinted = DD._maybe_broadcast(small, 10**9)._jdf.queryExecution()
    assert "ResolvedHint" in hinted.analyzed().toString()
    assert "ResolvedHint" not in unhinted.analyzed().toString()

    # whole-operator: identical pairs through both branches
    via_broadcast = run()
    monkeypatch.setattr(DD, "BROADCAST_SIZES_MAX_DOCS", 0)
    via_plain_join = run()
    assert via_broadcast == via_plain_join and via_broadcast


def test_ql_retrieval_rejects_empty_terms(spark):
    """ADVICE r8: zero query terms must fail fast with a clear ValueError,
    not emit 'round(None, 6)' and die with an opaque parse error at
    execution time."""
    import pytest

    from py_datalake_move_files_spark.operators.retrieval import (
        ql_dirichlet_topk,
        ql_score_sql,
    )

    with pytest.raises(ValueError, match="at least one term"):
        ql_score_sql(0)
    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="at least one term"):
        ql_dirichlet_topk(docs, ())
    with pytest.raises(ValueError, match="at least one term"):
        ql_dirichlet_topk(docs, [])
