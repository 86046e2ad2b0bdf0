"""Unit tests for the corpus-curation tier: repetition measures, the
admission gate, and PII detect/redact — crafted inputs with hand-computed
expectations (the registry queries cover the synthetic-corpus oracles)."""

from __future__ import annotations

import pytest

from py_datalake_move_files_spark.operators.text import (
    corpus_gate,
    pii_scan,
    repetition_stats,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "hello"),                          # single word: all fracs 0
        (2, "spam spam spam spam"),            # total repetition
        (3, "the quick brown fox jumps over lazy dogs again today now ok"),
        (4, "go go go go stop stop"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_stats_hand_computed(docs):
    r = {x["doc_id"]: x for x in repetition_stats(docs).collect()}
    assert r[1]["n_words"] == 1
    assert r[1]["dup_word_frac"] == 0.0
    assert r[1]["top_bigram_frac"] == 0.0 and r[1]["dup_trigram_frac"] == 0.0
    # "spam spam spam spam": 4 words 1 distinct; 3 bigrams all equal;
    # 2 trigrams both equal
    assert r[2]["dup_word_frac"] == 0.75
    assert r[2]["top_bigram_frac"] == 1.0
    assert r[2]["dup_trigram_frac"] == 1.0
    # all-distinct doc has zero repetition
    assert r[3]["dup_word_frac"] == 0.0
    assert r[3]["top_bigram_frac"] == pytest.approx(1 / 11, abs=1e-6)
    assert r[3]["dup_trigram_frac"] == 0.0
    # "go go go go stop stop": bigrams [go go]*3, [go stop], [stop stop]
    assert r[4]["top_bigram_frac"] == 0.6
    # trigrams: [go go go]*2 dup, [go go stop], [go stop stop] -> 2/4
    assert r[4]["dup_trigram_frac"] == 0.5


def test_corpus_gate_first_failure_wins(spark):
    rows = [
        (1, "short doc"),                      # too_short fires first
        (2, " ".join(["dup"] * 20)),           # long enough, repetitive_words
        (3, " ".join(f"w{i}" for i in range(20))),  # clean -> ok
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    g = {x["doc_id"]: x for x in corpus_gate(df).collect()}
    assert g[1]["gate_reason"] == "too_short" and not g[1]["keep"]
    assert g[2]["gate_reason"] == "repetitive_words"
    assert g[3]["gate_reason"] == "ok" and g[3]["keep"]


def test_pii_scan_detects_and_redacts(spark):
    df = spark.createDataFrame(
        [
            (1, "write to jane.doe+x@mail.example.org please"),
            (2, "call 555-123-4567 or 555-999-0000"),
            (3, "server at 192.168.1.100 is up"),
            (4, "no pii here at all"),
        ],
        "doc_id long, text string",
    )
    r = {x["doc_id"]: x for x in pii_scan(df).collect()}
    assert (r[1]["n_email"], r[1]["n_phone"], r[1]["n_ipv4"]) == (1, 0, 0)
    assert r[1]["text_redacted"] == "write to <EMAIL> please"
    assert r[2]["n_phone"] == 2
    assert r[2]["text_redacted"] == "call <PHONE> or <PHONE>"
    assert r[3]["n_ipv4"] == 1 and "<IPV4>" in r[3]["text_redacted"]
    assert r[4]["text_redacted"] == "no pii here at all"


def test_repetition_is_shuffle_free(spark, sf_oracle):
    from py_datalake_move_files_spark.catalog import load_table

    df = repetition_stats(load_table(spark, sf_oracle, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time python


def test_source_mixture_sample_deterministic_and_rated(spark):
    import hashlib

    from py_datalake_move_files_spark.operators.text import source_mixture_sample

    rows = [(i, f"w{i}", "a" if i % 2 == 0 else "b") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r["sampled"] for r in
           source_mixture_sample(df, rates={"a": 0.25}).collect()}
    for i in range(200):
        if i % 2 == 1:
            assert out[i] is True  # source 'b' not in rates -> kept
        else:
            hv = int(hashlib.md5(str(i).encode()).hexdigest()[:2], 16)
            assert out[i] == (hv < 64), i
    # deterministic: second run identical
    out2 = {r["doc_id"]: r["sampled"] for r in
            source_mixture_sample(df, rates={"a": 0.25}).collect()}
    assert out == out2


def test_sequence_packing_budget_respected(spark):
    from py_datalake_move_files_spark.operators.text import sequence_packing

    # 10 docs of 30 tokens each, one source, budget 100:
    # packs hold docs starting at cumsum-30 // 100 -> 0,0,0,0(=90..120),1,...
    rows = [(i, " ".join(["t"] * 30), "s") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = sorted(
        (r["doc_id"], r["pack_id"], r["running_toks"])
        for r in sequence_packing(df, budget=100).collect()
    )
    cum = 0
    for i, (doc, pack, run) in enumerate(got):
        cum += 30
        assert run == cum
        assert pack == (cum - 30) // 100
    # pack ids contiguous from 0
    packs = {p for _, p, _ in got}
    assert packs == set(range(max(packs) + 1))


def test_repetition_stats_property_vs_python(spark):
    """Property test: repetition_stats equals a plain-Python recomputation
    on generated word lists (hypothesis) — guards the HOF arithmetic and
    the small-doc guards across arbitrary shapes."""
    from hypothesis import given, settings, strategies as st

    from py_datalake_move_files_spark.operators.text import repetition_stats

    def py_stats(words):
        n = len(words)
        dup = round(1.0 - len(set(words)) / n, 6)
        bg = [" ".join(words[i : i + 2]) for i in range(n - 1)]
        tg = [" ".join(words[i : i + 3]) for i in range(n - 2)]
        top_bg = (
            0.0 if n < 2 else round(max(bg.count(b) for b in set(bg)) / len(bg), 6)
        )
        dup_tg = (
            0.0
            if n < 3
            else round(
                sum(c for t in set(tg) if (c := tg.count(t)) > 1) / len(tg), 6
            )
        )
        return n, dup, top_bg, dup_tg

    words_st = st.lists(
        st.sampled_from(["a", "b", "cc", "dd", "e1"]), min_size=1, max_size=12
    )

    @settings(max_examples=15, deadline=None)
    @given(st.lists(words_st, min_size=1, max_size=4))
    def check(docs):
        rows = [(i, " ".join(w)) for i, w in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
        for i, w in enumerate(docs):
            n, dup, top_bg, dup_tg = py_stats(w)
            r = got[i]
            assert r["n_words"] == n
            assert r["dup_word_frac"] == dup
            assert r["top_bigram_frac"] == top_bg
            assert r["dup_trigram_frac"] == dup_tg

    check()


def test_quality_classifier_matches_python_recomputation(spark):
    """HOF chain (2 nested md5/conv per token) recomputed in plain Python —
    guards the silent-HOF-corruption class (tests/test_lambda_safety.py)."""
    import hashlib

    from py_datalake_move_files_spark.operators.text import quality_classifier

    texts = [
        ("a", "the quick brown fox jumps over the lazy dog"),
        ("b", "spark spark spark spark"),
        ("c", "x"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in quality_classifier(df).collect()}

    def w_int(tok: str) -> int:
        b = int(hashlib.md5(tok.encode()).hexdigest()[:5], 16) % 1024
        return int(hashlib.md5(str(b).encode()).hexdigest()[:6], 16) - 8388608

    for doc_id, text in texts:
        toks = text.split(" ")
        s = sum(w_int(t) for t in toks)
        r = got[doc_id]
        assert r["n_tokens"] == len(toks)
        assert r["keep"] == (s > 0)
        assert r["quality_logit"] == round(s / (len(toks) * 16777216.0), 6)


def test_quality_classifier_bucket_collisions_share_weight(spark):
    """Tokens landing in the same bucket MUST contribute the same weight —
    the hashing trick's defining property. Construct a collision by brute
    force over short tokens."""
    import hashlib

    from py_datalake_move_files_spark.operators.text import quality_classifier

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:5], 16) % 1024

    seen: dict[int, str] = {}
    pair = None
    i = 0
    while pair is None:
        tok = f"t{i}"
        b = bucket(tok)
        if b in seen:
            pair = (seen[b], tok)
        seen[b] = tok
        i += 1

    a, b = pair
    df = spark.createDataFrame([("x", a), ("y", b)], ["doc_id", "text"])
    rows = {r["doc_id"]: r["quality_logit"] for r in quality_classifier(df).collect()}
    assert rows["x"] == rows["y"]


def test_canonical_url_normalizations(spark):
    """Each canonicalization rule exercised on a crafted URL set."""
    from py_datalake_move_files_spark.operators.text import canonical_url

    cases = [
        # case + www + default port + fragment
        ("HTTPS://WWW.Ex.COM:443/a#frag", "https://ex.com/a"),
        # default ports stripped, NON-default ports kept (distinct origin)
        ("http://ex.com:80/a", "https://ex.com/a"),
        ("http://ex.com:8080/a", "https://ex.com:8080/a"),
        ("https://ex.com:8443/a?b=2&a=1", "https://ex.com:8443/a?a=1&b=2"),
        # trailing slashes collapse; empty path becomes /
        ("https://ex.com/a///", "https://ex.com/a"),
        ("https://ex.com", "https://ex.com/"),
        # utm params stripped wherever they sit; survivors sorted
        ("https://ex.com/p?utm_source=x&b=2&a=1", "https://ex.com/p?a=1&b=2"),
        ("https://ex.com/p?b=2&utm_campaign=y&a=1", "https://ex.com/p?a=1&b=2"),
        # param order alone never splits a group
        ("https://ex.com/p?a=1&b=2", "https://ex.com/p?a=1&b=2"),
        ("https://ex.com/p?b=2&a=1", "https://ex.com/p?a=1&b=2"),
        # all params were tracking -> no query at all
        ("https://ex.com/p?utm_source=x", "https://ex.com/p"),
        # empty segments (trailing '&', bare '&&') never mint a distinct
        # '?&a=1' key or a dangling '?' (review finding: the empty split
        # segment sorted FIRST before it was filtered out)
        ("https://ex.com/p?a=1&", "https://ex.com/p?a=1"),
        ("https://ex.com/p?&&", "https://ex.com/p"),
        ("https://ex.com/p?utm_source=x&", "https://ex.com/p"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["url"])
    got = [r[0] for r in df.select(canonical_url(df.url)).collect()]
    for (raw, want), g in zip(cases, got):
        assert g == want, (raw, g, want)


def test_canonical_url_idempotent_hypothesis(spark):
    """Canonicalization must be a projection: canonical(canonical(u)) ==
    canonical(u) for arbitrary messy URLs — otherwise dedup keys drift
    when a pipeline re-canonicalizes already-clean data."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from py_datalake_move_files_spark.operators.text import canonical_url

    seg = st.text(alphabet="abcXYZ09-_", min_size=1, max_size=6)
    # include EMPTY params ('' -> a trailing/double '&'): the segment-filter
    # regression class the crafted-case test pins
    param = st.one_of(
        st.just(""),
        st.tuples(
            st.sampled_from(["a", "b", "utm_source", "utm_campaign", "ref"]),
            seg,
        ).map(lambda kv: f"{kv[0]}={kv[1]}"),
    )

    urls = st.builds(
        lambda scheme, www, host, port, path, params, frag: (
            f"{scheme}://{www}{host}.example.com{port}"
            + ("/" + "/".join(path) if path else "")
            + ("?" + "&".join(params) if params else "")
            + (f"#{frag}" if frag else "")
        ),
        st.sampled_from(["http", "https", "HTTPS"]),
        st.sampled_from(["", "www.", "WWW."]),
        seg,
        st.sampled_from(["", ":443", ":8080"]),
        st.lists(seg, max_size=3),
        st.lists(param, max_size=3),
        st.sampled_from(["", "frag"]),
    )

    @settings(
        max_examples=20,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(st.lists(urls, min_size=1, max_size=10, unique=True))
    def check(batch):
        from pyspark.sql import functions as F

        df = spark.createDataFrame([(u,) for u in batch], ["url"])
        once = df.select(canonical_url(df.url).alias("c1"))
        twice = once.select(
            F.col("c1"), canonical_url(F.col("c1")).alias("c2")
        )
        for r in twice.collect():
            assert r["c1"] == r["c2"], r

    check()


def test_chunk_documents_coverage_and_overlap(spark):
    """Every token appears in at least one chunk; consecutive chunks share
    exactly `overlap` tokens (except the possibly-short tail); stripping
    each chunk's overlap prefix after the first reconstructs the doc."""
    from py_datalake_move_files_spark.operators.text import chunk_documents

    text = " ".join(f"t{i}" for i in range(75))
    df = spark.createDataFrame([("d", text)], ["doc_id", "text"])
    rows = sorted(
        chunk_documents(df, chunk_tokens=32, overlap=8).collect(),
        key=lambda r: r["chunk_id"],
    )
    stride = 32 - 8
    toks = text.split(" ")
    assert [r["chunk_id"] for r in rows] == list(range(len(rows)))
    recon = []
    for i, r in enumerate(rows):
        chunk = r["chunk_text"].split(" ")
        assert r["n_chunk_tokens"] == len(chunk) <= 32
        assert chunk == toks[i * stride : i * stride + 32]
        recon.extend(chunk if i == 0 else chunk[8:])
    assert recon == toks  # lossless coverage

    import pytest

    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=8, overlap=8)


def test_cluster_safe_split_has_zero_leakage(spark):
    """The fix's defining invariant: under cluster-keyed splitting, NO
    verified near-dup pair straddles a split boundary (split is a function
    of the cluster id), while the doc-keyed split demonstrably leaks on
    the same corpus (split_leakage_audit's n_leaking > 0)."""
    from pyspark.sql import functions as F

    from py_datalake_move_files_spark.operators.text import dataset_split
    from py_datalake_move_files_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    pairs = QUERIES["dedup_minhash_lsh"](spark, sf).select("id_a", "id_b")
    from py_datalake_move_files_spark.catalog import load_table

    docs = load_table(spark, sf, "documents").select("doc_id")
    assign = QUERIES["dedup_cluster_assignment"](spark, sf)
    g = docs.join(assign, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("group_id"),
    )
    sp = dataset_split(g, "group_id")
    marked = pairs.join(
        sp.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")),
        "id_a",
    ).join(
        sp.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")),
        "id_b",
    )
    assert marked.where(F.col("split_a") != F.col("split_b")).count() == 0
    # control: the naive doc-keyed split leaks on this corpus
    leak = QUERIES["split_leakage_audit"](spark, sf).first()
    assert leak["n_leaking"] > 0
