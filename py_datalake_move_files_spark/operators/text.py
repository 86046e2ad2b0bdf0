"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All pure Column expressions (JVM-side, codegen). Each has an exact DuckDB
oracle (queries.py) — the heuristics are deliberately deterministic:
marker-token scoring for language, arithmetic ratios for quality, md5-min
shingle fingerprints (a simplified winnowing) for near-dup sketching.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from py_datalake_move_files_spark.functions.worker import make_worker_preamble

#: Marker tokens per language for the n-gram/stopword language-ID heuristic.
#: Real pipelines use character n-gram profiles (e.g. CLD-style); the harness
#: corpus is synthetic-English so markers demonstrate the mechanism.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "y", "es"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is", "on")

#: BPE-ish pre-tokenizer: letter runs, digit runs, single other non-space —
#: a regex sketch of GPT-2-style pretokenization.
BPE_ISH_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


_UNIQ = iter(range(10**9))


def marker_hits(text_sql: str, words: tuple[str, ...]) -> Column:
    """Count of whitespace tokens that are in ``words``.

    Built as SQL text with a unique lambda variable — multiple python-lambda
    HOFs in one projection corrupt silently (tests/test_lambda_safety.py).
    """
    u = next(_UNIQ)
    inlist = ", ".join(f"'{w}'" for w in words)
    return F.expr(
        f"size(filter(split({text_sql}, ' '), t{u} -> t{u} IN ({inlist})))"
    )


def lang_scores(df: DataFrame) -> DataFrame:
    """Per-language marker-hit ratios, plus the argmax prediction
    (ties broken by language code order, 'unknown' when all scores are 0)."""
    n = F.size(F.split(F.col("text"), " "))
    out = df
    langs = sorted(LANG_MARKERS)
    for lang in langs:
        out = out.withColumn(
            f"score_{lang}", F.round(marker_hits("text", LANG_MARKERS[lang]) / n, 6)
        )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.when(best.isNull() | (best == 0), F.lit("unknown"))
    for lang in langs:  # alphabetical priority breaks score ties
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    return out.withColumn("pred_lang", pred)


def token_stats(df: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens and BPE-ish regex tokens."""
    t = F.col("text")
    return df.withColumn("n_ws_tokens", F.size(F.split(t, " "))).withColumn(
        "n_bpe_tokens", F.size(F.regexp_extract_all(t, F.lit(BPE_ISH_PATTERN), 0))
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality heuristics: length, mean token length, stopword ratio,
    punctuation ratio, and a composite [0,1] score.

    Composite = 0.4·min(n_tokens/100, 1) + 0.3·stopword_ratio·4 (capped at
    0.3) + 0.3·(1 − punct_ratio) — a toy version of Gopher/C4-style filters,
    fully deterministic and oracle-checkable.
    """
    t = F.col(text_col)
    toks = F.split(t, " ")
    n = F.size(toks)
    stop_ratio = marker_hits(text_col, STOPWORDS) / n
    punct_ratio = F.size(F.regexp_extract_all(t, F.lit("[^a-zA-Z0-9 ]"), 0)) / F.length(t)
    return (
        df.withColumn("n_tokens", n)
        .withColumn("mean_tok_len", F.round((F.length(t) - (n - 1)) / n, 6))
        .withColumn("stopword_ratio", F.round(stop_ratio, 6))
        .withColumn("punct_ratio", F.round(punct_ratio, 6))
        .withColumn(
            "quality",
            F.round(
                0.4 * F.least(n / F.lit(100.0), F.lit(1.0))
                + F.least(0.3 * stop_ratio * 4, F.lit(0.3))
                + 0.3 * (1 - punct_ratio),
                6,
            ),
        )
    )


def fingerprint(df: DataFrame, id_col: str, *, k: int = 5) -> DataFrame:
    """Document fingerprint: lexicographic min of md5 over the doc's k-word
    shingles — a one-permutation MinHash / simplified winnowing selection of
    a representative rolling window. Equal fingerprints ⇒ candidate dups."""
    from py_datalake_move_files_spark.functions.scaling import ensure_parallelism
    from py_datalake_move_files_spark.operators.dedup import with_shingles

    sh = with_shingles(ensure_parallelism(df), "text", k)
    u = next(_UNIQ)
    return sh.select(
        F.col(id_col),
        F.expr(f"array_min(transform(shingle_set, f{u} -> md5(f{u})))").alias(
            "fingerprint"
        ),
    )


def normalize(df: DataFrame) -> DataFrame:
    """Training-corpus text normalization into ``text_norm``: lowercase,
    strip non-alphanumeric (keeping spaces), collapse whitespace runs, trim.
    Pure column exprs."""
    t = F.lower(F.col("text"))
    t = F.regexp_replace(t, "[^a-z0-9 ]", " ")
    t = F.trim(F.regexp_replace(t, " +", " "))
    return df.withColumn("text_norm", t)


#: PII patterns, written to the common subset of Java regex (Spark) and RE2
#: (DuckDB): character classes + bounded repetition only — no backrefs, no
#: lookaround — so detection and redaction are bit-identical cross-engine.
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "phone": r"[0-9]{3}-[0-9]{3}-[0-9]{4}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def pii_scan(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII detection + redaction (C4/RefinedWeb-style scrub stage): per-kind
    match counts and a redacted ``text_redacted`` with each match replaced by
    ``<KIND>``.

    Pure regexp column exprs — zero shuffles, codegen'd, linear per row; at
    100 TB this runs entirely map-side. Redaction order is fixed
    (email→phone→ipv4) so overlapping matches resolve deterministically.
    """
    t = F.col(text_col)
    out = df
    red = t
    for kind in ("email", "phone", "ipv4"):
        pat = PII_PATTERNS[kind]
        out = out.withColumn(
            f"n_{kind}", F.size(F.regexp_extract_all(t, F.lit(pat), 0))
        )
        red = F.regexp_replace(red, pat, f"<{kind.upper()}>")
    return out.withColumn("text_redacted", red)


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition measures over whitespace words:

    - ``dup_word_frac``     fraction of word occurrences that are repeats
                            (1 − distinct/total)
    - ``top_bigram_frac``   occurrences of the most frequent bigram / bigrams
    - ``dup_trigram_frac``  fraction of trigram occurrences whose trigram
                            appears more than once

    All pure array-HOF exprs, zero shuffles, no UDFs — map-side-only at
    100 TB. The token and n-gram arrays are materialized as intermediate
    COLUMNS before the counting HOFs reference them: inlining the SQL text
    instead re-evaluates the split/transform per lambda element (Catalyst
    does not CSE inside lambda bodies), which turned O(distinct·n) into
    O(distinct·n·|doc|) — measured 349 s vs 2 s on 5k docs at sf0.1.
    Per-row cost is O(distinct·n) string compares with n ≈ doc words.
    Lambda variables are uniquely named per call (tests/test_lambda_safety.py
    policy).
    """
    u = next(_UNIQ)
    toks = f"split({text_col}, ' ')"
    # 0-based [] indexing in Spark SQL; sequence is inclusive on both ends.
    # Guard small docs inside the column: sequence(0, -1) generates a
    # DESCENDING sequence and element_at(_, 0) throws under ANSI mode.
    bg = (
        f"CASE WHEN size(__rep_toks) < 2 THEN array() "
        f"ELSE transform(sequence(0, size(__rep_toks) - 2), "
        f"i{u} -> concat(element_at(__rep_toks, i{u} + 1), ' ', "
        f"element_at(__rep_toks, i{u} + 2))) END"
    )
    tg = (
        f"CASE WHEN size(__rep_toks) < 3 THEN array() "
        f"ELSE transform(sequence(0, size(__rep_toks) - 3), "
        f"j{u} -> concat(element_at(__rep_toks, j{u} + 1), ' ', "
        f"element_at(__rep_toks, j{u} + 2), ' ', element_at(__rep_toks, j{u} + 3))) END"
    )
    bg_counts = (
        f"transform(array_distinct(__rep_bg), b{u} -> "
        f"size(filter(__rep_bg, x{u} -> x{u} = b{u})))"
    )
    tg_counts = (
        f"transform(array_distinct(__rep_tg), t{u} -> "
        f"size(filter(__rep_tg, y{u} -> y{u} = t{u})))"
    )
    return (
        df.withColumn("__rep_toks", F.expr(toks))
        .withColumn("__rep_bg", F.expr(bg))
        .withColumn("__rep_tg", F.expr(tg))
        .withColumn("n_words", F.expr("size(__rep_toks)"))
        .withColumn(
            "dup_word_frac",
            F.round(
                F.expr("1.0 - size(array_distinct(__rep_toks)) / size(__rep_toks)"), 6
            ),
        )
        .withColumn(
            "top_bigram_frac",
            F.when(F.expr("size(__rep_toks)") < 2, F.lit(0.0)).otherwise(
                F.round(
                    F.expr(f"array_max({bg_counts})") / F.expr("size(__rep_bg)"), 6
                )
            ),
        )
        .withColumn(
            "dup_trigram_frac",
            F.when(F.expr("size(__rep_toks)") < 3, F.lit(0.0)).otherwise(
                F.round(
                    F.expr(
                        f"aggregate(transform({tg_counts}, "
                        f"c{u} -> CASE WHEN c{u} > 1 THEN c{u} ELSE 0 END), "
                        f"0, (a{u}, e{u}) -> a{u} + e{u})"
                    )
                    / F.expr("size(__rep_tg)"),
                    6,
                )
            ),
        )
        .drop("__rep_toks", "__rep_bg", "__rep_tg")
    )


#: Gopher-style corpus gate rules as (name, fail-predicate-builder) pairs —
#: ordered cheap-to-expensive; the FIRST failing rule names the drop reason
#: (same first-failure-wins cascade as the reference's should_process_file,
#: app/main.py:109-146, generalized to corpus filtering).
def corpus_gate(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Training-corpus admission gate: combine repetition + quality measures
    into keep/drop with a first-failure reason column. A document needs at
    least 10 words, at most 60% repeated words and at most 18% of its
    bigrams on the most frequent one."""
    scored = repetition_stats(quality_score(df, text_col), text_col)
    reason = (
        # NULL text first: every numeric gate condition is NULL on a NULL
        # document and would fall through to otherwise('ok') — admitting
        # exactly the rows with no content (degenerate-lake rule)
        F.when(F.col(text_col).isNull(), F.lit("no_text"))
        .when(F.col("n_words") < 10, F.lit("too_short"))
        .when(F.col("dup_word_frac") > 0.6, F.lit("repetitive_words"))
        .when(F.col("top_bigram_frac") > 0.18, F.lit("repetitive_bigram"))
        .otherwise(F.lit("ok"))
    )
    out = scored.withColumn("gate_reason", reason)
    return out.withColumn("keep", F.col("gate_reason") == "ok")


def dataset_split(
    df: DataFrame,
    id_col: str,
) -> DataFrame:
    """Deterministic, reproducible train/val/test assignment: the first two
    md5 hex digits of the id (0..255) are bucketed 90/5/5 into ``split``.
    Stable across runs, engines, and partitionings — the property random
    ``sample()`` can't give a training pipeline."""
    from py_datalake_move_files_spark.operators.dedup import hex_value

    w = {"train": 90, "val": 5, "test": 5}
    total = sum(w.values())
    hv = hex_value(f"md5(CAST({id_col} AS STRING))", 2)
    expr = None
    acc = 0
    for name, weight in w.items():
        acc += weight
        bound = 256 * acc // total
        cond = F.expr(f"({hv}) < {bound}")
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn("split", expr)


def source_mixture_sample(
    df: DataFrame,
    *,
    rates: dict[str, float],
) -> DataFrame:
    """Deterministic mixture sampling: keep each document with its source's
    target rate, decided by the document id's md5 bucket (0..255 < 256*rate).

    The training-data mixing primitive (down-weight crawl, up-weight books):
    reproducible across runs/engines/partitionings — unlike ``sample()`` —
    and a pure map-side column expression, so re-materializing the mixture
    at 100 TB is a scan, not a shuffle. Sources absent from ``rates`` keep
    rate 1.0."""
    from py_datalake_move_files_spark.operators.dedup import hex_value

    hv = hex_value("md5(CAST(doc_id AS STRING))", 2)
    expr = None
    for src, rate in sorted(rates.items()):
        bound = int(256 * rate)
        branch = F.expr(f"({hv}) < {bound}")
        expr = (
            F.when(F.col("source") == src, branch)
            if expr is None
            else expr.when(F.col("source") == src, branch)
        )
    if expr is None:
        return df.withColumn("sampled", F.lit(True))
    return df.withColumn("sampled", expr.otherwise(F.lit(True)))


def sequence_packing(
    df: DataFrame,
    *,
    budget: int,
) -> DataFrame:
    """Greedy contiguous sequence packing: within each source, documents in
    id order are packed into fixed token budgets; ``pack_id`` = which packed
    training sequence the document starts in
    (``floor((running_tokens - n_toks) / budget)``).

    This is the deterministic, distributed version of example-packing for
    LLM training: one window (running sum per source) = one shuffle keyed on
    the source, and pack boundaries are a pure projection of the cumsum. At
    100 TB, partition skew follows source sizes — pack within finer shards
    (source, dataset_split bucket) if one source dominates."""
    from pyspark.sql import Window

    n_toks = F.size(F.split(F.col("text"), " "))
    w = Window.partitionBy("source").orderBy(F.col("doc_id").asc())
    return (
        df.withColumn("n_toks", n_toks)
        .withColumn("running_toks", F.sum("n_toks").over(w))
        .withColumn(
            "pack_id",
            F.floor((F.col("running_toks") - F.col("n_toks")) / F.lit(budget)).cast(
                "int"
            ),
        )
    )


def char_entropy(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Shannon entropy over character bigrams — the
    information-density quality signal (machine-generated / repetitive text
    scores low, natural prose high; written to ``bigram_entropy``;
    complements ``repetition_stats``'s word-level measures at the character
    level).

    Zero shuffles: everything is per-row SQL-text higher-order functions in
    whole-stage codegen. The shared bigram/count arrays are materialized as
    real columns BEFORE the HOFs that reference them — Catalyst does not
    CSE inside lambda bodies, so inlining ``__grams`` into both
    ``array_distinct`` and the nested ``filter`` would re-split per element
    (the round-1 349s-vs-1s lesson). Entropy uses the fold-free identity
    ``H = log2(n) - (Σ c·log2 c)/n`` so engines that sum lists in any
    sequential order agree to well under the 6-dp rounding.

    Small inputs are guarded INSIDE the array expressions (``length < 2 →
    empty array``); ``sequence()`` with an inverted range would otherwise
    produce a descending index list.

    Counting is SORT + RUN-LENGTH, not count-per-distinct: the original
    ``transform(array_distinct(g), x -> size(filter(g, ...)))`` does
    O(D·G) string comparisons per document and built grams with
    ``substring(t, i, 2)``, whose per-call UTF-8 re-seek makes gram
    construction O(L²) (the round-4 substr lesson) — measured 9.8 s for
    the sf0.1 corpus. Chars split once, bigrams via ``zip_with`` of two
    slices, grams sorted, run boundaries found by one linear ``filter``
    over indices, run lengths by one ``transform`` — O(G log G) per row;
    same 6-dp results (the Σ c·log2 c identity is fold-order-insensitive
    at the rounding), measured 2.0 s on the same corpus (4.9x).
    """
    t = f"`{text_col}`" if not text_col.startswith("`") else text_col
    chars = f"split({t}, '')"
    grams = (
        f"CASE WHEN length({t}) < 2 THEN array() "
        f"ELSE zip_with(slice(__chars, 1, size(__chars) - 1), "
        f"slice(__chars, 2, size(__chars) - 1), "
        f"(ca, cb) -> concat(ca, cb)) END"
    )
    # run boundaries of the SORTED gram array: index 0 plus every index
    # whose gram differs from its predecessor — one O(G) pass
    bounds = (
        "CASE WHEN size(__srt) = 0 THEN array() "
        "ELSE filter(sequence(0, size(__srt) - 1), "
        "bi -> bi = 0 OR __srt[bi] != __srt[bi - 1]) END"
    )
    # run lengths: next boundary (or G) minus this boundary
    runs = (
        "transform(sequence(0, size(__bnd) - 1), "
        "rj -> (CASE WHEN rj = size(__bnd) - 1 THEN size(__srt) "
        "ELSE __bnd[rj + 1] END) - __bnd[rj])"
    )
    s = "aggregate(__runs, 0D, (acc, c) -> acc + c * log2(c))"
    n = F.size(F.col("__srt"))
    entropy = F.when(n <= 1, F.lit(0.0)).otherwise(
        F.round(F.log2(n.cast("double")) - F.expr(s) / n, 6)
    )
    return (
        df.withColumn("__chars", F.expr(chars))
        .withColumn("__srt", F.expr(f"array_sort({grams})"))
        .withColumn("__bnd", F.expr(bounds))
        .withColumn(
            "__runs",
            F.expr(
                f"CASE WHEN size(__bnd) = 0 THEN array() ELSE {runs} END"
            ),
        )
        .withColumn("n_bigrams", n)
        .withColumn("n_distinct_bigrams", F.size(F.col("__bnd")))
        .withColumn("bigram_entropy", entropy)
        .drop("__chars", "__srt", "__bnd", "__runs")
    )


def heavy_hitters(
    df: DataFrame,
    item_col: str,
    *,
    min_frac: float = 0.005,
    candidates_per_partition: int = 256,
) -> DataFrame:
    """Frequent-item detection without shuffling the full item stream:
    the two-phase distributed heavy-hitters algorithm.

    Phase 1 (``mapInPandas``): each partition keeps a Misra-Gries summary of
    at most ``candidates_per_partition`` counters and emits only its
    surviving candidate items. MG guarantees any item with partition
    frequency > 1/k survives that partition's summary, so every GLOBAL
    item with frequency > min_frac survives in at least one partition —
    the union of candidates is a guaranteed superset (choose
    ``candidates_per_partition ≥ 1/min_frac``; asserted).

    Phase 2: exact counts for candidates only — a broadcast semi join
    against the tiny candidate set, then one aggregation over the filtered
    stream. The full item column is scanned twice but SHUFFLED never (phase
    1 moves ≤ candidates×partitions rows; phase 2 aggregates a
    candidate-bounded stream). Result is exact and deterministic regardless
    of partitioning: ``(item, n, frac)`` for items with n > min_frac·N.

    The item column is canonicalized to STRING up front (the output field
    is StringType and phase 1's pandas summary indexes by string): for a
    non-string ``item_col`` the counts are over the column's Spark string
    rendering, and the phase-2 semi join compares string-to-string — never
    an implicit cross-type cast (which would silently lose precision on
    e.g. large longs).
    """
    if candidates_per_partition < 1.0 / min_frac:
        raise ValueError(
            f"candidates_per_partition={candidates_per_partition} must be ≥ "
            f"1/min_frac={1.0 / min_frac:.0f} for the superset guarantee"
        )
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    k = candidates_per_partition
    worker_preamble = make_worker_preamble()

    def mg_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Vectorized Misra-Gries via the mergeable-summaries reduction
        # (Agarwal/Cormode et al.): each Arrow batch's EXACT value_counts()
        # merges into the running summary; when more than k counters
        # survive, subtract the (k+1)-th largest count from all and drop
        # non-positives — ≤ k counters remain and total decrement stays
        # ≤ n_partition/(k+1), so any item with partition count
        # > n_partition/(k+1) retains a counter (≥ the 1/k guarantee).
        worker_preamble()
        import pandas as _pd

        counters = _pd.Series(dtype="int64")
        for batch in batches:
            counters = counters.add(
                batch["__item"].value_counts(), fill_value=0
            )
            if len(counters) > k:
                d = counters.nlargest(k + 1).iloc[-1]
                counters = counters[counters > d] - d
        yield _pd.DataFrame({"__item": counters.index.astype(str)})

    items = df.select(F.col(item_col).cast("string").alias("__item")).where(
        F.col("__item").isNotNull()
    )
    cand = items.mapInPandas(
        mg_partition, T.StructType([T.StructField("__item", T.StringType())])
    ).distinct()

    total = items.agg(F.count(F.lit(1)).alias("__total"))
    return (
        items.join(F.broadcast(cand), "__item", "left_semi")
        .groupBy("__item")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .where(F.col("n") > F.col("__total") * min_frac)
        .select(
            F.col("__item").alias(item_col),
            "n",
            F.round(F.col("n") / F.col("__total"), 6).alias("frac"),
        )
    )


def qc_weight_sum_sql(toks_sql: str) -> str:
    """Spark-SQL text for the classifier's integer weight sum over a token
    array expression — shared by :func:`quality_classifier` and composed
    pipelines that inline the gate (``web_corpus_pipeline``)."""
    bucket = (
        "CAST(conv(substring(md5(qc_t), 1, 5), 16, 10) AS BIGINT) % 1024"
    )
    w_int = (
        f"CAST(conv(substring(md5(CAST({bucket} AS STRING)), 1, 6), 16, 10) AS BIGINT)"
        " - 8388608"
    )
    return (
        f"aggregate(transform({toks_sql}, qc_t -> {w_int}), 0L, "
        "(qc_a, qc_v) -> qc_a + qc_v)"
    )


def quality_classifier(df: DataFrame) -> DataFrame:
    """Hashing-trick linear quality classifier — the fastText/DCLM-style
    model-based filter a curation pipeline runs after the heuristic gates:
    each token hashes into one of 1024 weight slots, the document
    logit is the mean slot weight, and ``keep`` thresholds it at zero.

    The weight table is FROZEN and derived from the bucket id's md5 (a
    stand-in for trained weights — swapping in a real table is a literal
    ``array`` or a broadcast join on ``bucket``); tokens that collide in a
    bucket share a weight, which is the hashing trick's defining property.

    Exactness: weights are centered 24-bit INTEGERS summed with an
    associativity-free integer fold, so the logit is bit-identical across
    engines and partition layouts; the single float op is the final
    mean + round. Per-row HOF expressions only — ZERO shuffles, a pure map
    stage at 100 TB (2 md5 per token: one for the bucket, one for the
    slot weight)."""
    from py_datalake_move_files_spark.functions.scaling import ensure_parallelism

    e = ensure_parallelism(df).withColumn(
        "__qc_toks", F.expr("split(text, ' ')")
    )
    e = e.withColumn(
        "__qc_s", F.expr(qc_weight_sum_sql("__qc_toks"))
    )
    n = F.size("__qc_toks")
    return e.select(
        F.col("doc_id"),
        n.cast("int").alias("n_tokens"),
        F.round(
            F.col("__qc_s").cast("double") / (n.cast("double") * 16777216.0), 6
        ).alias("quality_logit"),
        (F.col("__qc_s") > 0).alias("keep"),
    )


def unigram_logfreq_scores(
    df: DataFrame,
) -> DataFrame:
    """CCNet-style language-model frequency scoring, integer-exact: build a
    unigram model over the corpus (token -> count), then score each document
    by the mean log2-bucketed frequency of its tokens plus the fraction of
    rare tokens (corpus count ≤ 2). Low-scoring docs are tail/noise (the
    docs CCNet's KenLM perplexity filter drops); the log2 bucket
    ``length(bin(count)) - 1`` is an exact-integer surrogate for
    log-probability, which keeps the whole two-pass pipeline bit-identical
    across engines (libm ``log`` is not).

    Plan shape: ONE exchange builds the model (map-side combined token
    counts), the model broadcasts back onto the exploded token stream, and
    ONE exchange re-aggregates per document — the token stream itself is
    never shuffled. At 100 TB the model is built once on a corpus sample
    (or via :func:`heavy_hitters`) and reused across scoring runs."""
    from py_datalake_move_files_spark.functions.scaling import ensure_parallelism

    tok = ensure_parallelism(df).select(
        F.col("doc_id"), F.explode(F.split(F.col("text"), " ")).alias("__t")
    )
    model = tok.groupBy("__t").agg(F.count(F.lit(1)).alias("__c"))
    flog2 = (F.length(F.bin(F.col("__c"))) - 1).cast("long")
    scored = tok.join(F.broadcast(model), "__t").select(
        F.col("doc_id"),
        flog2.alias("__f"),
        F.when(F.col("__c") <= 2, 1).otherwise(0).alias("__r"),
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            F.sum("__f").alias("__fs"),
            F.sum("__r").alias("__rs"),
        )
        .select(
            F.col("doc_id"),
            "n_tokens",
            F.round(
                F.col("__fs").cast("double") / F.col("n_tokens").cast("double"), 6
            ).alias("mean_log2_freq"),
            F.round(
                F.col("__rs").cast("double") / F.col("n_tokens").cast("double"), 6
            ).alias("rare_frac"),
        )
    )


def bigram_lm_scores(
    df: DataFrame,
    ref: DataFrame,
) -> DataFrame:
    """Bigram language-model scoring against a HELD-OUT reference corpus —
    the context-aware upgrade of :func:`unigram_logfreq_scores` and the
    closest integer-exact surrogate for CCNet's KenLM perplexity filter:
    score each incoming document by the mean log2-bucketed frequency of
    its bigrams under a model built from ``ref``, plus the fraction of
    bigrams the reference never saw (OOV — the strongest single noise
    signal a frequency filter has; unigram scoring can't produce OOV when
    the model is built from the same corpus).

    Plan shape — deliberately DIFFERENT from the unigram operator's: a
    bigram vocabulary grows ~quadratically in token vocabulary, far past
    broadcast size at corpus scale, so the model stays a TABLE with NO
    broadcast hint — Catalyst broadcasts only while the model's stats fit
    the threshold (true at test scale) and degrades gracefully to a
    bigram-key-partitioned join once it doesn't, co-partitioned with the
    model build's own exchange. Documents shorter than 2 tokens emit no
    bigrams and drop from the output, identically on both engines."""
    from py_datalake_move_files_spark.functions.scaling import ensure_parallelism

    def bigrams(frame: DataFrame) -> DataFrame:
        t = ensure_parallelism(frame).withColumn(
            "__bgt", F.expr("split(text, ' ')")
        )
        return t.select(
            F.col("doc_id"),
            F.explode(
                F.expr(
                    "CASE WHEN size(__bgt) < 2 THEN array() "
                    "ELSE transform(sequence(0, size(__bgt) - 2), "
                    "bgi -> concat(element_at(__bgt, bgi + 1), ' ', "
                    "element_at(__bgt, bgi + 2))) END"
                )
            ).alias("__bg"),
        )

    model = bigrams(ref).groupBy("__bg").agg(F.count(F.lit(1)).alias("__c"))
    joined = bigrams(df).join(model, "__bg", "left")
    bucket = F.when(
        F.col("__c").isNull(), F.lit(0).cast("long")
    ).otherwise((F.length(F.bin(F.col("__c"))) - 1).cast("long"))
    scored = joined.select(
        F.col("doc_id"),
        bucket.alias("__f"),
        F.when(F.col("__c").isNull(), 1).otherwise(0).alias("__o"),
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_bigrams"),
            F.sum("__f").alias("__fs"),
            F.sum("__o").alias("__os"),
        )
        .select(
            F.col("doc_id"),
            "n_bigrams",
            F.round(
                F.col("__fs").cast("double") / F.col("n_bigrams").cast("double"),
                6,
            ).alias("mean_log2_bgfreq"),
            F.round(
                F.col("__os").cast("double") / F.col("n_bigrams").cast("double"),
                6,
            ).alias("oov_frac"),
        )
    )


def canonical_url(url) -> Column:
    """Canonicalize a URL for dedup keying, the CommonCrawl-pipeline way:
    strip the fragment, lowercase the host and drop a leading ``www.``,
    strip DEFAULT ports only (``:80``/``:443`` — an explicit ``:8080``
    names a genuinely distinct origin and stays in the key, ADVICE r4),
    strip trailing slashes (empty path -> ``/``), remove ``utm_*``
    tracking parameters, and SORT the surviving query parameters so param
    order never splits a dup group. Deliberate scope limit: the scheme
    folds to ``https`` (http://h/x and https://h/x share a key) — the
    standard crawl-dedup assumption that a host serves one corpus across
    schemes; callers needing scheme-distinct keys should prepend the raw
    scheme. Pure regex/array expressions — map-only, exactly mirrored by
    the DuckDB oracle (Java-regex/RE2-common subset, like the PII tier)."""
    u = F.regexp_replace(url, "#.*$", "")
    host = F.regexp_replace(
        F.lower(F.regexp_extract(u, "^[a-zA-Z]+://([^/:?#]+)", 1)), "^www\\.", ""
    )
    port = F.regexp_extract(u, "^[a-zA-Z]+://[^/:?#]+:([0-9]+)", 1)
    port_part = F.when(
        port.isin("", "80", "443"), F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_replace(
        F.regexp_extract(u, "^[a-zA-Z]+://[^/?#]+(/[^?#]*)?", 1), "/+$", ""
    )
    path = F.when(path == "", F.lit("/")).otherwise(path)
    qs = F.regexp_extract(u, "\\?([^#]*)", 1)
    qs = F.regexp_replace(qs, "(^|&)utm_[a-zA-Z_]+=[^&]*", "")
    # drop EMPTY segments (trailing '&', '&&') before sorting: an empty
    # segment sorts first and would mint a distinct malformed '?&a=1' key
    # for the same resource AND break idempotence; the emptiness test must
    # then run on the filtered join, not the raw query string
    qsorted = F.array_join(
        F.array_sort(F.array_remove(F.split(qs, "&"), "")), "&"
    )
    return F.concat(
        F.lit("https://"),
        host,
        port_part,
        path,
        F.when(qsorted == "", F.lit("")).otherwise(F.concat(F.lit("?"), qsorted)),
    )


def chunk_documents(
    df: DataFrame,
    *,
    chunk_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Split documents into overlapping token windows — the chunking pass a
    RAG / embedding pipeline runs before vectorizing, and a pretraining
    pipeline runs to fit documents into a context budget. Stride is
    ``chunk_tokens - overlap``; every token lands in at least one chunk
    (starts are ``0, stride, 2*stride, ... < n``), the final chunk may be
    short, and ``chunk_id = start / stride`` is derived (no window, no
    shuffle — the op is pure projection + explode, map-side at 100 TB;
    the ~chunk/stride duplication factor is the only data growth)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    from py_datalake_move_files_spark.functions.scaling import ensure_parallelism

    e = ensure_parallelism(df).withColumn(
        "__ck_toks", F.expr("split(text, ' ')")
    )
    e = e.select(
        F.col("doc_id"),
        "__ck_toks",
        F.explode(
            F.expr(f"sequence(0, size(__ck_toks) - 1, {stride})")
        ).alias("__ck_s"),
    )
    chunk = F.expr(f"slice(__ck_toks, __ck_s + 1, {chunk_tokens})")
    return e.select(
        F.col("doc_id"),
        (F.col("__ck_s") / stride).cast("int").alias("chunk_id"),
        F.size(chunk).cast("int").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def stratified_split(
    df: DataFrame,
    id_col: str,
    strata_col: str,
) -> DataFrame:
    """EXACT stratified 8/1/1 train/val/test ``split``: within each stratum,
    rows are ranked by ``md5(id)`` (a reproducible shuffle) and cumulative
    integer-weight boundaries ``ceil(n·cum_w/total)`` slice the ranking —
    every stratum lands within one row of its target proportion, the
    guarantee :func:`dataset_split`'s hash-bucketing only approaches in
    expectation (and the one an imbalanced-label eval set actually needs).

    Cost: ONE exchange on the stratum key (the ranking window); boundaries
    are integer arithmetic on the window count — exact in any engine.
    Deterministic across runs, engines, partitionings."""
    from pyspark.sql import Window

    w = {"train": 8, "val": 1, "test": 1}
    total = sum(w.values())
    win = Window.partitionBy(strata_col)
    rk = F.row_number().over(
        win.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
    )
    n = F.count(F.lit(1)).over(win)
    e = df.withColumn("__st_rk", rk).withColumn("__st_n", n)
    expr = None
    acc = 0
    for name, weight in w.items():
        acc += weight
        # ceil(n * acc / total) in the INTEGER domain (`div`, not `/`):
        # double division would round once n*acc exceeds 2^53 and land one
        # off the exact ceil, silently diverging from the oracle's `//`
        bound = F.expr(f"(__st_n * {acc} + {total - 1}) div {total}")
        cond = F.col("__st_rk") <= bound
        expr = (
            F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
        )
    return e.withColumn("split", expr).drop("__st_rk", "__st_n")
