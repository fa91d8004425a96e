"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE compact JSON line:

    {"metric": "...", "value": N, "unit": "sec", "n_queries": M,
     "queries": {<top-5 slowest>}, "detail": "BENCH_DETAIL.json", "sf": ...}

The full per-query map (with per-query sample counts, the timed order
and the calibration anchors) goes to ``BENCH_DETAIL.json`` next to
this file; the stdout line stays small so a tail capture cannot
truncate it (ROUND4_NOTES.md).

Each query is timed with the ``tools/timing.py`` protocol (clean
cache, build, ``noop`` write) after its session warmup, as the best of
three back-to-back runs, four under 0.8 s: the min drops the first
run's one-time codegen and transient host noise (ROUND11_NOTES.md).
Records before r03 predate the clean-cache pin and are not comparable
on cache-sensitive queries (ROUND3_NOTES.md); diff rounds with
``tools/bench_diff.py``.
"""

from __future__ import annotations

import json
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the flagship pipeline + the heaviest representative query
# from each operator family (join-heavy, window-heavy, shuffle-heavy,
# LSH self-join, Pandas-UDF path).
BENCH_QUERIES = [
    "payments_balances",
    "payments_rails_foo",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "top_orders_per_customer",
    "events_hourly",
    "events_hopping",
    "sessionize_events",
    "distinct_users_by_type",
    "doc_stats",
    "fingerprint",
    "dedup_exact",
    "dedup_token_jaccard",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "knn_vec0",
    "emb_near_dup_exact",
    "media_image_features",
    "q4_order_priority",
    "q6_forecast_revenue",
    "q10_returned_revenue",
    "q14_promo_revenue",
    "q18_large_orders",
    "top_tokens",
    "rollup_orders",
    "price_quantiles",
    "orders_enriched",
    "asof_purchase_click",
    "pivot_events",
    "winnowing_fingerprints",
    "repetition_stats",
    "emb_label_centroids",
    "curate_corpus",
    "pack_token_shards",
    "tf_idf_top_terms",
    "daily_revenue_window",
    "q7_volume_shipping",
    "q9_profit_by_nation_year",
    "q13_customer_distribution",
    "q21_waiting_suppliers",
    "decontaminate",
    "emb_quantize_sym",
    "funnel_conversions",
    "cohort_retention",
    "emb_near_dup_lsh",
    "dedup_clusters_lsh",
    "dedup_keep_best",
    "events_attribution",
    "chunk_dup_stats",
    "profile_documents",
    "temperature_mix_docs",
    "chunk_documents",
    "ngram_counts",
    "shuffle_shards_docs",
    "upsample_epochs_docs",
    "knn_batch",
    "dedup_incremental",
    "pii_redact",
    "decontaminate_emb",
    "corpus_stats",
    "lm_unigram_score",
    "dedup_lines",
    "knn_lsh_vec0",
    "dedup_incremental_fuzzy",
    "reservoir_sample_docs",
    "corpus_drift",
    "length_outliers",
    "assign_splits_docs",
    "quality_calibrated",
    "emb_truncate",
    "curate_increment",
    "substring_overlap_pairs",
    "pack_sequences",
    "normalize_text",
    "decontaminate_exact",
    "dedup_incremental_bloom",
    "dsir_logratio",
    "bm25_search",
    "knn_ivf_label_vec0",
    "containment_pairs",
    "lm_bigram_score",
    "gopher_quality",
    "c4_clean",
    "cms_sketch",
    "cms_estimates",
    "semdedup",
    "minhash_jaccard_est",
    "hashed_bow",
    "zipf_fit",
    "token_budget_mix",
    "split_sentences",
    "ccnet_buckets",
    "weighted_jaccard",
    "posting_pair_stats",
    "weighted_jaccard_capped",
    "knn_text_vec0",
    "ngram_novelty",
    "corpus_overlap",
    "contamination_report",
    "dedup_cluster_sizes",
    "gate_agreement",
    "dedup_spans",
    "event_transitions",
    "rfm_scores",
    "language_confusion",
    "shard_skew_report",
    "lsh_bucket_stats",
    "media_dedup",
    "emb_kcenter",
    "dedup_spans_incremental",
    "events_props_profile",
    "knn_pq_label_vec0",
    "knn_pq_rerank_vec0",
    # round-6 additions
    "events_session_native",
    "oov_rate",
    "dedup_normalized",
    "emb_gram",
    "emb_whiten",
    "emb_norm_outliers",
    "emb_drift",
    "knn_recall_vec0",
    "knn_lsh_mt_vec0",
    "knn_recall_mt_vec0",
    "knn_ivfpq_vec0",
    "pq_error_vec0",
    "badword_filter",
    "emb_profile",
    "events_rate_anomaly",
    "corpus_diff",
    "corpus_scorecard",
    "events_dead_hours",
    "knn_recall_ivfpq_vec0",
    # round-6 second wave
    "price_histogram",
    "price_quantiles_hist",
    "media_near_dup",
    "remove_boilerplate",
    "bpe_pair_counts",
    "bpe_token_stats",
    "bpe_piece_counts",
    "emb_binarize",
    "knn_hamming_vec0",
    "knn_recall_hamming_vec0",
    "emb_near_dup_hamming",
    "hamming_bucket_stats",
    "knn_recall_hamming_multi",
    "knn_hamming_batch",
    "ivf_centroids_int",
    "knn_ivfpq_res_vec0",
    "knn_recall_ivfpq_res_vec0",
    "collocations",
    "readability",
    "length_histogram_by_source",
    "compression_ratio",
    "length_quantiles_by_source",
    # round-7 additions
    "knn_auto_vec0",
    "price_rank_sketch",
    "price_rank_quantiles",
    "users_kmv_by_type",
    "vocab_overlap_kmv",
    "orders_lineitem_join_audit",
    "orders_customer_auto_join",
    "length_rank_sketch_by_source",
    "length_rank_quantiles_by_source",
    # round-9 additions
    "emb_kcenter_scalable",
    "cap_per_source",
    "leakage_safe_splits_docs",
    "leakage_safe_splits_incr",
    "max_df_for_budget",
    # round-10 additions
    "stop_band_cap",
    "dsl_count",
    "dsl_reduce",
    "dsl_windowed_count",
    # round-12 additions
    "dedup_incremental_fuzzy_indexed",
]


def bench_round_files() -> list[tuple[int, str]]:
    """Sorted ``(round, filename)`` of the BENCH_r{N}.json records in
    the repo; the filename keeps its zero padding (BENCH_r09.json)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    return sorted(
        (int(m.group(1)), os.path.basename(p))
        for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    )


def next_round_from_artifacts() -> int:
    """Next round number: one past the highest BENCH_r{N}.json. Shared
    with tools/scale_check.py's panel record naming, so the two round
    counters cannot diverge."""
    rounds = bench_round_files()
    return rounds[-1][0] + 1 if rounds else 0


def _order_seed() -> int:
    """Seed for the per-round order rotation: SPARK_GRAFT_BENCH_SEED if
    set (A/B pairs pin it), else the next round number."""
    env = os.environ.get("SPARK_GRAFT_BENCH_SEED")
    if env is not None:
        try:
            return int(env)
        except ValueError:
            raise SystemExit(
                f"SPARK_GRAFT_BENCH_SEED must be an integer (the "
                f"order_seed recorded in the run being reproduced), "
                f"got {env!r}"
            )
    return next_round_from_artifacts()


def _calibration_query(spark):
    """Fixed pure-JVM host-speed anchor (r8 verdict item 1): a pinned
    synthetic aggregate — 600M-row range, xxhash64, one 97-key exchange
    — with NO parquet scan, NO Python worker, and no dependence on any
    engine code path. Its wall time moves ONLY with host conditions
    (thermal throttle, co-tenant load), so the ratio of two rounds'
    ``calibration_sec`` separates environment drift from code
    regressions: r7→r8's uniform 1.32× on untouched queries had to be
    re-litigated by hand; now ``tools/bench_diff.py`` divides it out.
    Shape pinned forever — changing it breaks round-over-round
    normalization (the clearCache methodology pin, same contract)."""
    from pyspark.sql import functions as F

    return (
        spark.range(0, 600_000_000, 1, 32)
        .select(
            (F.col("id") % 97).alias("k"),
            # modulus bounds the running sum (ANSI mode: summing raw
            # xxhash64 longs overflows)
            (F.xxhash64("id") % 1_000_003).alias("h"),
        )
        .groupBy("k")
        .agg(F.sum("h").alias("s"), F.count("*").alias("c"))
    )


def main() -> None:
    import __spark_entry__ as e
    from kafka_streams_spark import get_spark
    from tools.timing import best_of, timed, warm

    spark = get_spark(app_name="kafka_streams_spark-bench")
    qs = e.queries()
    # Fail fast on an unregistered name: found at its shuffled position
    # it would discard the whole run (ROUND10_NOTES.md).
    missing = [q for q in BENCH_QUERIES if q not in qs]
    if missing:
        raise SystemExit(
            f"BENCH_QUERIES names not registered in __spark_entry__."
            f"queries(): {missing}"
        )

    def build(name: str):
        return lambda: qs[name](spark, SF_DIR)

    def calibrate() -> float:
        # the pinned host-speed anchor, min-of-3 like every query
        return round(best_of(spark, lambda: _calibration_query(spark), 3), 3)

    warm(spark, qs, SF_DIR)
    calibration = calibrate()

    # Seeded rotation of the timed order: every query visits every
    # position across rounds, so in-run drift averages out in
    # round-over-round diffs (ROUND10_NOTES.md, VERDICT.md).
    order_seed = _order_seed()
    rotated = list(BENCH_QUERIES)
    random.Random(order_seed).shuffle(rotated)
    # Discarded burn-in on a FIXED query: absorbs the ramp-up that kept
    # the first timed positions slow, without favouring whichever query
    # the rotation puts first (ROUND13_NOTES.md).
    timed(spark, build("repetition_stats"))

    times: dict[str, float] = {}
    samples: dict[str, int] = {}
    # Anchor probes every PROBE_EVERY positions, plus one in the start
    # band and one near the end, give bench_diff a piecewise drift
    # profile to normalize each query against (ROUND11-13_NOTES.md).
    PROBE_EVERY = 25
    EARLY_PROBE = 10
    late_probe = max(len(rotated) - 12, 0)
    cal_probes: list[list[float]] = []
    for pos, name in enumerate(rotated):
        if pos == EARLY_PROBE or pos == late_probe or (
            pos and pos % PROBE_EVERY == 0
        ):
            cal_probes.append([pos, calibrate()])
        # min-of-3 for every query; the sub-0.8 s band, worst relative
        # jitter, gets a fourth sample (ROUND4_NOTES.md, ROUND11_NOTES.md)
        t = best_of(spark, build(name), 3)
        samples[name] = 3
        if t < 0.8:
            t = min(t, timed(spark, build(name)))
            samples[name] = 4
        times[name] = round(t, 3)

    # start and end anchors bracket the run: throttle builds up during
    # it (ROUND9_NOTES.md)
    calibration_end = calibrate()

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    detail = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "calibration_sec": calibration,
        "calibration_end_sec": calibration_end,
        # [position, sec]; bench_diff interpolates over start+probes+end
        "calibration_probes": cal_probes,
        # the timed order (sort_keys drops dict order): bench_diff's
        # per-position anchor interpolation needs each query's position
        "order": list(times),
        "order_seed": order_seed,
        "queries": times,
        "samples": samples,
        "sf": sf_val,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    # The fixed name is overwritten by every run; the seed-stamped copy
    # keeps each round's full map for cross-round diffs (ROUND10_NOTES.md).
    for name in ("BENCH_DETAIL.json", f"BENCH_DETAIL_r{order_seed}.json"):
        with open(os.path.join(here, name), "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    slowest = dict(
        sorted(times.items(), key=lambda kv: kv[1], reverse=True)[:5]
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "n_queries": len(times),
                "calibration_sec": calibration,
                "calibration_end_sec": calibration_end,
                "queries": slowest,
                "detail": "BENCH_DETAIL.json",
                "sf": sf_val,
            }
        )
    )


if __name__ == "__main__":
    main()
