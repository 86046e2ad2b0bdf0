#!/usr/bin/env python
"""Benchmark harness: run EVERY registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"build_s_total": sec, "queries": {name: sec}, "sf": ...}. The historical
HEADLINE subset is timed first and its subtotal reported as
"headline_total" so the round-over-round series stays comparable; the
remaining registry runs as the fast tier — no registered query is
silently untimed (VERDICT r7 #3).

Each query is fully materialized through the built-in ``noop`` sink, which
consumes EVERY output column — unlike ``count()``, which lets Catalyst prune
the very projections being benchmarked down to a near-metadata row count for
map-only queries (ADVICE r01). A JVM/session warm-up runs first so measured
times are query time, not session start.

$SPARK_GRAFT_SF_DIR may list several dirs, comma-separated: they run in
order in one session, the first fills the printed line and the sidecar's
top level, and later dirs land under the sidecar's ``later_sfs`` with time
ratios and ``plan_flips`` against the dir before (README.md, "Running").
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from py_datalake_move_files_spark.queries import QUERIES  # noqa: E402
from py_datalake_move_files_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "manifest_archive_plan",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "window_running_revenue",
    "sessionize_events",
    "hourly_event_stats",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_cluster_assignment",
    "asof_purchase_prior_view",
    "ann_brute_force",
    "simhash_fingerprints",
    "quality_scores",
    # r2 additions: subquery tier, corpus-curation tier, IVF ANN
    "q18_big_orders",
    "q21_late_exclusive_suppliers",
    "repetition_stats",
    "pii_redaction",
    "ann_ivf_topk",
    "corpus_curation_pipeline",
    # r3: event-time batch queries
    "interval_attribution_bucketed",
    # r4: the scale-pattern tier joins the headline set (VERDICT r3 #6)
    "fuzzy_customer_pairs",
    "skew_salted_event_join",
    "pagerank_nation_flow",
    "event_dedup_tumbling",
    "heavy_hitter_tokens",
    # r4: deliberately hot-keyed as-of join, salted (VERDICT r3 #8)
    "asof_salted_hot_keys",
    # r4: similarity-tier eval + skew pre-flight diagnostics
    "ann_recall_ivf",
    "key_skew_profile",
    # r4: CDC tier — SCD2 history build (one full-outer join + explode)
    "scd2_order_history",
    # r4: LLM-pipeline additions — decontamination, vocab coverage,
    # k-means refinement, and the four-table data-quality audit
    "decontamination_overlap",
    "vocab_oov_rate",
    "kmeans_cluster_profile",
    "data_quality_audit",
    "lang_temperature_resample",
    "incremental_dedup_batch",
    "ewma_user_values",
    "cluster_canonical_docs",
    "embedding_quantization",
    "ann_recall_ivf_refined",
    "lsh_quality_eval",
    "boilerplate_char_windows",
    "split_leakage_audit",
    # r4: PQ ANN tier, model-based quality filter, SemDeDup
    "ann_pq_topk",
    "pq_code_histogram",
    "ann_recall_pq",
    "quality_classifier_scores",
    "semantic_dedup_summary",
    "unigram_logfreq_scores",
    "url_canonical_dedup",
    "ann_ivfpq_topk",
    "cdc_upsert_apply",
    "ann_recall_ivfpq",
    "web_corpus_pipeline",
    "document_chunks",
    "hard_negative_mining",
    "stratified_split_counts",
    "length_bucket_padding",
    # r5: the last never-benched mapInPandas operator (VERDICT r4 #4)
    "multimodal_frame_sample",
    # r5: retrieval + containment tier
    "bm25_doc_retrieval",
    "containment_dup_pairs",
    "repeated_ngram_spans",
    "cluster_safe_split",
    "bigram_lm_scores",
    "ivf_assignment_drift",
    "ann_lsh_multiprobe",
    # r5: Bloom-prefiltered decontamination, kNN graph + label audit,
    # deterministic weighted sampling
    "bloom_decontamination",
    "knn_graph_edges",
    "knn_label_agreement",
    "weighted_sample_docs",
    "source_overlap_matrix",
    "image_phash_dedup",
    "lang_confusion_matrix",
    "knn_density_scores",
    "duplicated_span_coverage",
    "label_centroid_similarity",
    "lang_balanced_sample",
    "ann_sq_topk",
    "ann_recall_sq",
    "lang_relative_quality_gate",
    "cms_token_frequencies",
    "mixture_epoch_plan",
    "rp_distance_preservation",
    # r5: behavioral analytics + robust stats + training-shard planning,
    # PMI phrase mining, and the degree-ordered kNN triangle census
    "event_transition_matrix",
    "pareto_quality_frontier",
    "mad_outlier_events",
    "training_shard_plan",
    "pmi_collocations",
    "knn_triangle_count",
    # r5: hybrid lexical+dense fusion and histogram percentile ranks
    "hybrid_rrf_retrieval",
    "quality_percentile_ranks",
    # r5: sketch-based planning estimates and the PSI drift monitor
    "cms_join_size_estimate",
    "hll_overlap_estimate",
    "value_drift_psi",
    "doc_novelty_scores",
    # r5: MATCH_RECOGNIZE-lite session automaton + chance-corrected kappa
    "session_pattern_match",
    "lang_kappa_score",
    "hourly_autocorrelation",
    "range_partition_plan",
    "embedding_norm_outliers",
    "conversion_latency_quartiles",
    "basket_pair_lift",
    # r6: warehouse/product analytics + corpus-health audits
    "retention_cohorts",
    "yoy_monthly_growth",
    "zipf_slope",
    "tfidf_doc_pairs",
    "embedding_dim_correlations",
    "doc_length_by_lang",
    "kcenter_coreset",
    "length_ks_matrix",
    "source_lang_chi2",
    "token_packing_plan",
    "dau_wau_stickiness",
    "quality_dup_calibration",
    "knn_components",
    "lsh_threshold_curve",
    "trimmed_mean_prices",
    "revenue_gini",
    "event_hour_mix_chi2",
    "revenue_top_decile_share",
    "interarrival_burstiness",
    "dup_cluster_size_histogram",
    "lead_time_quartiles",
    "heaps_law_fit",
    # r6 stats tier: probabilistic linkage, robust/forensic statistics,
    # distributed PCA
    "record_linkage_scores",
    "seasonal_daily_decomposition",
    "theil_sen_revenue_trend",
    "dim_label_mutual_info",
    "benford_order_values",
    "pca_top_component",
    "kaplan_meier_retention",
    "daily_count_cusum",
    # r6: graph-census extensions over the shared kNN frames
    "knn_degree_assortativity",
    "knn_local_clustering",
    # r6: RFM quintile segmentation + EVT tail-index audit
    "rfm_customer_segments",
    "hill_tail_index",
    # r7: A/B + cohort-LTV (the two late-r6 registrations, now tested)
    "ab_conversion_ztest",
    "cohort_ltv_matrix",
    # r7 mining tier: banded simhash pairs, exact AUC, trend/changepoint/
    # ANOVA statistics, closed-form OLS, kNN link prediction, JS drift
    "simhash_dup_pairs",
    "value_purchase_auc",
    "mann_kendall_trend",
    "changepoint_daily_events",
    "ols_revenue_model",
    "knn_link_prediction",
    "js_source_divergence",
    "weekday_anova_events",
    # r7 tier 2: privacy audit, truncation recall, rich club, ESS,
    # weighted median
    "k_anonymity_audit",
    "truncated_dim_recall",
    "rich_club_coefficient",
    "effective_sample_size",
    "weighted_median_price",
    # r7 tier 3: vocabulary growth, behavioral entropy, BH drift screen,
    # revenue concentration
    "token_novelty_curve",
    "user_event_entropy",
    "ks_source_screen_bh",
    "revenue_hhi_concentration",
    # r7 tier 4: DKW median band + seasonal-adjusted robust anomalies
    "median_dkw_band",
    "seasonal_adjusted_anomalies",
    "purchase_decile_lift",
    # r7 tier 5: BFS reachability census + SQ clip calibration
    "knn_hop_histogram",
    "embedding_dim_quantile_clip",
    # r7 tier 6: rolling robust smoother + grouped mode
    "rolling_median_daily",
    "modal_event_type_by_user",
]


def materialize(df) -> None:
    """Evaluate every output column: write to the no-op sink (executes the
    full plan, discards rows). count() would let Catalyst prune all
    projections not needed for counting."""
    df.write.format("noop").mode("overwrite").save()


#: Join-shape markers counted in each query's executed plan, in the order
#: ``plan_counts`` reports them.
PLAN_SHAPE = (
    "Exchange hashpartitioning",
    "BroadcastExchange",
    "SortMergeJoin",
    "CartesianProduct",
)


def plan_counts(df) -> list[int]:
    """Occurrences of each ``PLAN_SHAPE`` marker in ``df``'s executed plan.
    A SortMergeJoin or CartesianProduct count that changes between two
    scales is a plan flip: a broadcast side outgrew its threshold, or a
    join lost its keys."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [plan.count(marker) for marker in PLAN_SHAPE]


def shuffle_totals(spark) -> tuple[int, int] | None:
    """Cumulative (shuffle_read_bytes, shuffle_write_bytes) across all
    executors from the AppStatusStore — the same store the /api/v1 REST
    endpoint serves, so it works with spark.ui.enabled=false. Per-query
    exchange volume is the delta around the timed runs (VERDICT r10 #4):
    the scale arguments rest on asserted shuffle-volume deltas (novelty
    sampling = 4x fewer exchange rows, IVF = shuffle-free assign), and
    wall time alone cannot diff exchange-volume regressions on a noisy
    host. Returns None if the internal API moves (bench still times).

    The totals are read only after the listener bus has delivered every
    pending event: right after an action the last task-end events may still
    be queued, and a delta read then would miss them (and the next delta
    would count them instead)."""
    try:
        sc = spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        ex = sc.statusStore().executorList(True)
        r = w = 0
        for i in range(ex.size()):
            e = ex.apply(i)
            r += e.totalShuffleRead()
            w += e.totalShuffleWrite()
        return r, w
    except Exception:  # noqa: BLE001 — metrics are best-effort, timing isn't
        return None


def build_artifacts(spark, sf_dir: str) -> dict[str, float]:
    """Explicit, TIMED pre-build of every session-cached derived artifact
    (VERDICT r9 #2): these caches (trained centroids, PQ codebook, kNN
    edge frame, dedup cluster map) are built once per session and shared
    by whole query families, so whichever family member ran FIRST in a
    sweep used to absorb the build cost — registry growth reordered the
    sweep between rounds and produced phantom +400% per-query "regressions"
    in cross-round diffs. Building them here, as named line items, makes
    per-query timings pure query time in every sweep order and records
    what the one-off index builds cost (excluded from query totals — in
    production these are ingest-time index builds, not per-query work).
    PLANS.md lists which queries share which artifact. A failed build
    records -1.0; the query pass re-reports the failure."""
    import py_datalake_move_files_spark.queries as Q
    import py_datalake_move_files_spark.queries_ivf as QIVF
    import py_datalake_move_files_spark.queries_knn as QKNN
    import py_datalake_move_files_spark.queries_pq as QPQ

    artifact_builders = {
        "ivf_centroids_serving": lambda: QIVF._centroids(spark, sf_dir),
        "ivf_centroids_graph": lambda: QKNN._knn_centroids(spark, sf_dir),
        "kmeans_centroids": lambda: QIVF._kmeans_centroids(spark, sf_dir),
        "pq_codebook": lambda: QPQ._codebook(spark, sf_dir),
        "dedup_cluster_map": lambda: Q.dedup_cluster_cc(spark, sf_dir),
        "knn_edges": lambda: QKNN._knn_edges(spark, sf_dir),
        "knn_und_deg_ded": lambda: QKNN._und_deg_ded(spark, sf_dir),
    }
    artifacts: dict[str, float] = {}
    for aname, build in artifact_builders.items():
        try:
            t0 = time.perf_counter()
            build()
            artifacts[aname] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001 — the query pass will re-report
            artifacts[aname] = -1.0
            print(f"artifact {aname} failed: {exc}", file=sys.stderr)
    return artifacts


def run_scale(spark, sf_dir: str, names: list[str]) -> dict:
    """The bench protocol at one scale: artifacts pre-built, one untimed
    warm-up pass per query (which also records the query's plan shape),
    then min-of-2 timed runs with the per-run shuffle delta. Per-query
    crash isolation: one broken query must not cost the timings of the
    healthy ones (r2: a warm-up crash recorded zero timings)."""
    artifacts = build_artifacts(spark, sf_dir)

    # the single warm-up pass compiles whole-stage codegen AND pays the
    # one-off shuffle-path JIT / buffer allocation (measured ~2× on
    # shuffle-heavy queries), so the timed runs below report steady-state
    # throughput — what a long-lived cluster session delivers
    errors: dict[str, str] = {}
    plans: dict[str, list[int]] = {}
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            materialize(df)
            plans[name] = plan_counts(df)
        except Exception as exc:  # noqa: BLE001 — record and keep benching
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]

    # min of two timed runs per query: this host shares CPU with other
    # tenants and single-shot timings showed 2-10× interference spikes; the
    # minimum is the standard steady-state estimator under external noise.
    # A run is the build (the QUERIES call: analysis and Py4J calls on the
    # driver, no action) plus the noop action; the build is also reported
    # on its own, min of the same two runs.
    times: dict[str, float] = {}
    build_s: dict[str, float] = {}
    shuffle_read_mb: dict[str, float] = {}
    shuffle_write_mb: dict[str, float] = {}
    for name in names:
        if name in errors:
            continue
        best = best_build = float("inf")
        try:
            before = shuffle_totals(spark)
            for _ in range(2):
                t0 = time.perf_counter()
                df = QUERIES[name](spark, sf_dir)
                built = time.perf_counter()
                materialize(df)
                best = min(best, time.perf_counter() - t0)
                best_build = min(best_build, built - t0)
            times[name] = round(best, 3)
            build_s[name] = round(best_build, 3)
            after = shuffle_totals(spark)
            if before is not None and after is not None:
                # two identical runs -> halve the delta for per-run volume
                shuffle_read_mb[name] = round((after[0] - before[0]) / 2e6, 3)
                shuffle_write_mb[name] = round((after[1] - before[1]) / 2e6, 3)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return {
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "value": round(sum(times.values()), 3),
        # one-off index-build costs (ingest-time in production), timed
        # separately so per-query numbers never absorb them (VERDICT r9 #2)
        "artifacts": artifacts,
        "queries": times,
        # per-query build time (included in "queries")
        "build_s": build_s,
        # per-query exchange volume (delta of executor shuffle totals
        # around the timed runs, MB per run) — the diffable scale metric
        "shuffle_read_mb": shuffle_read_mb,
        "shuffle_write_mb": shuffle_write_mb,
        # join-shape counts per query, in PLAN_SHAPE order
        "plan_counts": plans,
        "errors": errors,
    }


def main() -> None:
    # one dir, or a comma-separated list run in order in ONE session, so
    # scale ratios between consecutive dirs carry no cross-session noise
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_dirs = [d for d in sf_dir.split(",") if d]
    # comma-separated query subset (the output contract — one compact JSON
    # line + the BENCH_full.json sidecar — is pinned by
    # tests/test_bench_contract.py without paying the full headline set)
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    # NO silent caps (VERDICT r7 #3): the bench times EVERY registered
    # query — the historical HEADLINE set first (its subtotal is reported
    # separately so round-over-round totals stay comparable), then the
    # remaining registry in name order as the fast tier.
    fast_tier = sorted(n for n in QUERIES if n not in set(HEADLINE))
    headline = (
        [n for n in subset.split(",") if n]
        if subset
        else HEADLINE + fast_tier
    )
    spark = get_spark("pdmfs-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # touch every table of every dir first (FS cache), so no dir's timings
    # pay another dir's first read
    from py_datalake_move_files_spark.catalog import TABLES, load_table

    for sf_dir in sf_dirs:
        for t in TABLES:
            load_table(spark, sf_dir, t).count()

    first, *later = [run_scale(spark, d, headline) for d in sf_dirs]
    times = first["queries"]
    errors = first["errors"]
    total = first["value"]
    # the historical 163-query headline subtotal keeps the per-round series
    # comparable now that the timed set is the whole registry
    headline_total = round(
        sum(v for n, v in times.items() if n in set(HEADLINE)), 3
    )
    # full per-query map goes to a committed sidecar file; the printed JSON
    # line stays COMPACT (totals + slowest 10) so the driver's output-tail
    # capture can never truncate it mid-line again (VERDICT r5 #4 bench:
    # the 102-entry line outgrew the tail and BENCH_r05.json parsed null)
    full = {
        "metric": "registry_queries_total",
        "value": total,
        "unit": "sec",
        "headline_total": headline_total,
        "queries_timed": len(times),
        "queries_headline": len(headline),
        "artifacts": first["artifacts"],
        "queries": times,
        "build_s_total": round(sum(first["build_s"].values()), 3),
        "build_s": first["build_s"],
        "shuffle_read_mb": first["shuffle_read_mb"],
        "shuffle_write_mb": first["shuffle_write_mb"],
        "plan_counts": first["plan_counts"],
        "sf": first["sf"],
    }
    if errors:
        full["errors"] = errors
    # the printed line reports every dir's errors, later dirs' keyed by sf
    all_errors = dict(errors)
    if later:
        # each later dir against the one before it: time ratio per query,
        # and a plan flip wherever the SortMergeJoin or CartesianProduct
        # count changed with scale
        flips: list[str] = []
        for prev, run in zip([first, *later], later):
            run["time_ratio_vs_prev"] = {
                n: round(t / prev["queries"][n], 3)
                for n, t in run["queries"].items()
                if prev["queries"].get(n)
            }
            for n, b in run["plan_counts"].items():
                a = prev["plan_counts"].get(n)
                if a is not None and a[2:] != b[2:]:
                    flips.append(
                        f"{n}: sf{prev['sf']} {tuple(a)} -> sf{run['sf']} {tuple(b)}"
                    )
            all_errors.update(
                {f"sf{run['sf']}:{n}": e for n, e in run["errors"].items()}
            )
        full["later_sfs"] = later
        full["plan_flips"] = flips
    full_path = Path(
        os.environ.get(
            "SPARK_GRAFT_BENCH_OUT",
            Path(__file__).resolve().parent / "BENCH_full.json",
        )
    )
    full_path.write_text(json.dumps(full, indent=2) + "\n")

    slowest = dict(
        sorted(times.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    out = {
        "metric": "registry_queries_total",
        "value": total,
        "unit": "sec",
        # the part of value spent building the DataFrames on the driver
        "build_s_total": full["build_s_total"],
        # the r1-r7 series totalled the HEADLINE subset only; this keeps
        # that series alive now that value covers the full registry
        "headline_total": headline_total,
        # a crashed query shrinks the sum silently; the count makes
        # round-over-round totals comparable (ADVICE r03)
        "queries_timed": len(times),
        "queries_headline": len(headline),
        "artifacts_total": round(
            sum(v for v in first["artifacts"].values() if v > 0), 3
        ),
        "shuffle_read_mb_total": round(sum(first["shuffle_read_mb"].values()), 3),
        "shuffle_write_mb_total": round(sum(first["shuffle_write_mb"].values()), 3),
        "queries": slowest,
        "queries_note": f"slowest 10 of {len(times)}; full map in {full_path.name}",
        "sf": first["sf"],
    }
    if all_errors:
        out["errors"] = {k: v[:80] for k, v in list(all_errors.items())[:5]}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
