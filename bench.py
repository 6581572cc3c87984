#!/usr/bin/env python
"""Benchmark harness: times the engine's headline queries.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}``.

Two tiers (VERDICT r4 #5):

- HEADLINE — the scale paths: every operator shape a 100 TB deployment
  would actually run. ``value``/``queries`` cover exactly this tier, at
  $SPARK_GRAFT_SF_DIR.
- CERTIFICATION — md5 oracle twins and planted-fixture variants that
  exist so DuckDB can value-check the xxhash64/LSH production paths.
  Their cost is inherent to the certification workload (md5 everywhere,
  exact within-block verify) and was drowning the scale signal (~60% of
  bench wall-time). Timed separately at $SPARK_GRAFT_CERT_SF_DIR
  (default sf0.01, the driver's correctness SF) and reported under
  ``certification_*`` keys in the same JSON line.

Measurement protocol (VERDICT r5 #2 — the harness must attribute its
own variance, not leave >1.5× round-over-round deltas ambiguous between
regression and sandbox load):

- a global warm pass first (JIT/codegen/file listing excluded,
  position-independent);
- n=3 timed passes per query; ``queries`` reports the MEDIAN and
  ``spread`` reports [min, max] — a wide spread marks a noisy
  measurement, a tight spread makes a delta attributable to code;
- a fixed SENTINEL query is re-timed every ``SENTINEL_EVERY`` queries;
  its series is reported under ``sentinel`` — monotone drift there is
  environment load, not regression;
- the full report (never truncated by log-tail capture) is also written
  to ``BENCH_full.json`` next to this script;
- ``codegen``/``certification_codegen`` give each tier's Janino
  compilations (count and seconds) in its warm pass and in its timed
  passes: a timed phase that compiles again has outgrown the codegen
  cache (``session.py``).

Timing wraps a ``count()``-free action: ``write.format("noop")``
exercises the full plan including result materialization without driver
collection.
"""

from __future__ import annotations

import json
import os
import statistics
import time

HEADLINE = [
    # reference-derived analytical spine
    "events_csv_roundtrip",  # S1 ingestion path (CSV materialized once, then scanned)
    "orders_lake_partitioned_scan",  # S3 sink path (partitioned write once, pruned scan)
    "events_count_by_type",
    "hourly_max_event_count",
    "orders_quarter_pivot",
    "orders_monthly_window_surface",
    "events_filter_topk_surface",  # r17 merge: purchase_top_users + events_not_in_filter
    "events_type_stats_census",  # + null-census columns (former events_null_census, r17)
    "orders_temporal_bucket_surface",  # r12 merge: year_range + season legs
    # joins / TPC-H shapes
    "revenue_by_nation",
    "pricing_summary",
    "orders_q3_topk_surface",  # r15 merge: top_revenue_orders + shipping_priority_top10
    "best_order_per_customer",
    "exists_join_surface",  # r15 merge: late_shipment_orders + segment_customers_with_orders
    "returned_item_top_customers",
    "supplier_nation_revenue",
    "events_by_segment_salted_join",  # skew-mitigation path
    # window functions
    "orders_running_total",
    "customer_balance_rank_in_nation",
    "nation_balance_window_surface",  # merged quartiles+extremes window pass (r9)
    # time windows (streaming batch twins)
    "events_hourly_tumbling",
    "events_sliding_1h_30m",
    "user_session_counts",
    "events_interval_join_batch",  # stream-stream interval join, batch degradation (r8)
    # text suite
    "docs_token_surface",  # r16 merge: token_stats + bpe_token_stats
    "docs_lang_id",
    "docs_fingerprint_census",
    "docs_rolling_hash",
    # text suite (quality/fingerprint extensions)
    "docs_quality_surface",  # r16 merge: quality_scores + quality_by_source
    "docs_repetition_stats",
    "docs_pii_scrub_surface",  # r14 merge: organic + seeded legs
    "docs_sequence_packing",
    "docs_chunk_pack",  # chunk -> pack-the-chunks composition (r8)
    # dedup / similarity (xxhash64 / LSH / blocked scale paths)
    "docs_exact_dedup",
    "docs_incremental_dedup",  # new-batch-vs-corpus fingerprint anti-join (r8)
    "docs_stream_static_dedup_batch",  # stream-static anti-join dedup, batch degradation (r9)
    "docs_shared_span_pairs",  # exact-substring span dedup, strided k-gram sampling (r9)
    "docs_exact_substring_spans",  # maximal spans + removal census, suffix-array output (r15)
    "docs_span_removal_cut",  # ExactSubstr APPLIED: detect -> merge intervals -> cut, md5-pinned (r16)
    "docs_line_dedup",  # C4-style line-level boilerplate removal (r9)
    "docs_intra_dedup",  # intra-document line dedup, zero-shuffle scan path (r12)
    "docs_sketch_candidates_surface",  # r12 merge: minhash_lsh + simhash legs
    "docs_jaccard_pairs",
    "docs_fuzzy_match_pairs",  # length-banded Levenshtein pairs (r8)
    "embedding_near_dups_lsh",  # data-sized LSH blocking (scale path)
    "embedding_topk_surface",  # exact + LSH legs in one result (r8 merge)
    "embedding_ann_lsh_topk_lake",   # materialized-index probe (scale path)
    "embedding_ivf_topk_lake",       # materialized-index probe (scale path)
    "embedding_lsh_bucket_histogram",
    "embedding_batch_topk",  # multi-query broadcast bucket join (r8)
    "embedding_pq_adc_topk",  # PQ-compressed ADC probe, single + batch legs (r14)
    "embedding_ivf_pq_topk",  # partition-pruned IVF-PQ probe vs materialized index (r15)
    "events_json_profile",  # merged JSON surface (r7 continuation)
    # sampling / splits
    "docs_sampling_census",
    "docs_train_val_test_split",
    "docs_domain_quota",  # histogram-bounded per-domain quota cap
    "docs_stratified_sample",  # exact per-stratum fractional draw (r13)
    "docs_weighted_sample",  # derandomized A-Res weighted draw, global + grouped legs (r16)
    "docs_heavy_hitters_cms",  # count-min sketch vs exact top-15 (r13)
    "docs_domain_distinct_hll",  # mergeable HLL distinct census vs exact (r14)
    "events_join_size_cms",  # CMS inner-product join-size estimation vs exact twin (r17)
    "docs_bpe_merges",  # distributed BPE tokenizer training, vocab-sized iterations (r16; added per the recorded r17 plan)
    "docs_bigram_perplexity",  # interpolated-bigram LM scoring (r13)
    "docs_temperature_mix",  # sqrt-rate mixture flattening
    "docs_chunk_windows",  # sliding token-window fan-out
    "docs_curriculum_order",  # histogram-offset global ordering
    "docs_pipeline_end_to_end",  # dedup -> quota -> mix -> pack, one plan
    "docs_hybrid_search",  # lexical recall -> dense rerank funnel
    # OLAP widening
    "lineitem_rollup",  # + corr columns (former lineitem_correlations, r9)
    "orders_grouping_surface",  # merged cube+grouping-sets+pctl surface (r7/r9)
    "users_distinct_exact_vs_approx",  # merged exact+HLL surface (r7 continuation)
    "orders_price_quantiles_approx",
    "revenue_metric_surface",  # r13 merge: promo_revenue_pct + forecast_revenue_change
    "part_catalog_surface",  # r13 merge: parts_never_ordered + top10_part_types
    "all_account_balances",
    "asof_join_surface",  # merged as-of surface (r7 continuation)
    "orders_by_price_band",
]

# Certification-only twins: md5 formulations (and planted-duplicate
# fixtures) that exist so DuckDB can value-check the production paths
# above. Never deployed at scale; timed at the correctness SF.
CERTIFICATION = [
    "docs_rolling_hash_md5_oracled",
    "docs_sketch_md5_surface",  # r14 merge: minhash_md5 + simhash fingerprint/band legs
    "docs_char_ngram_jaccard",  # exact in-block verify; scale path = LSH+verify
    # label-blocked quadratic baseline: demoted from HEADLINE in r7
    # (VERDICT r6 #3) — it exists as the correctness baseline for the LSH
    # pair path, and its constant-cardinality blocking key is exactly the
    # shape that hides at sf0.1 and explodes at scale (56× at 10× data)
    "embedding_near_dup_certification",  # organic census + planted twins
    "embedding_semantic_dedup_vec",  # SemDeDup planted-twin membership (cell-quadratic at fixed k: cert tier)
    "embedding_near_dups_lsh_seeded",
    "docs_sketch_seeded_recall",
    "embedding_ivf_topk_lake_seeded",
    "events_etl_clean_seeded",
]


# Drift sentinel: cheap, stable, shuffle-light; timed between every
# SENTINEL_EVERY headline queries. If the environment slows mid-run, the
# sentinel series shows it — deltas on real queries then stop being
# attributed to code. Cadence tightened 10 → 5 in r11: a multi-minute
# burst landed entirely between two samples and inflated one adjacent
# query block 5-7× while the series looked clean
# (BENCH_ATTRIBUTION_r11.md run 1); at every-5 a burst long enough to
# distort a 3-pass median can no longer hide. Costs ~1 s per run.
SENTINEL = "events_count_by_type"
SENTINEL_EVERY = 5
PASSES = 3


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cert_sf_dir = os.environ.get("SPARK_GRAFT_CERT_SF_DIR", "/root/testdata/sf0.01")
    from big_data_chicago_crimes_spark.plans.registry import all_queries
    from big_data_chicago_crimes_spark.session import get_spark

    spark = get_spark(app_name="bench")
    queries = all_queries()

    from big_data_chicago_crimes_spark.session import codegen_counters, release_scratch_caches

    def run(name: str, d: str) -> None:
        df = queries[name].build(spark, d)
        df.write.format("noop").mode("overwrite").save()
        # release per-build scratch caches (quota cutoffs, pipeline
        # capped set) so repeated builds don't accumulate cache entries;
        # inside the timed region, so every pass pays its own fill —
        # the honest per-run cost (ADVICE r7)
        release_scratch_caches()

    def timed(name: str, d: str) -> float:
        t0 = time.perf_counter()
        run(name, d)
        return time.perf_counter() - t0

    def codegen_since(start: tuple[int, float]) -> dict[str, float]:
        # Janino compilations (codegen cache misses) since ``start``: a
        # timed phase that compiles again means the cache is too small
        # for the tier's working set
        compiles, secs = codegen_counters(spark)
        return {"compiles": compiles - start[0], "compile_s": round(secs - start[1], 3)}

    def tier(
        names: list[str], d: str, sentinel: list[float] | None = None
    ) -> tuple[dict[str, float], dict[str, list[float]], dict[str, dict[str, float]]]:
        # Global warm pass FIRST: running every query once before any
        # timing means the earliest-timed queries don't absorb JVM-wide
        # JIT/C2 compilation that later queries get for free. Same total
        # executions as per-query warmup, but position-independent.
        start = codegen_counters(spark)
        for name in names:
            run(name, d)
        codegen = {"warm": codegen_since(start)}
        start = codegen_counters(spark)
        medians: dict[str, float] = {}
        spread: dict[str, list[float]] = {}
        for i, name in enumerate(names):
            if sentinel is not None and i % SENTINEL_EVERY == 0:
                sentinel.append(round(timed(SENTINEL, d), 3))
            samples = sorted(timed(name, d) for _ in range(PASSES))
            medians[name] = round(statistics.median(samples), 3)
            spread[name] = [round(samples[0], 3), round(samples[-1], 3)]
        if sentinel is not None:
            sentinel.append(round(timed(SENTINEL, d), 3))
        codegen["timed"] = codegen_since(start)
        return medians, spread, codegen

    sentinel_series: list[float] = []
    timings, spread, codegen = tier(HEADLINE, sf_dir, sentinel_series)
    cert_timings, cert_spread, cert_codegen = tier(CERTIFICATION, cert_sf_dir)

    def sf_of(d: str):
        sf = d.rstrip("/").rsplit("sf", 1)[-1]
        return float(sf) if sf.replace(".", "").isdigit() else sf

    report = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "sentinel": {"name": SENTINEL, "series_sec": sentinel_series},
        "codegen": codegen,
        "passes": PASSES,
        "stat": "median",
        "sf": sf_of(sf_dir),
        "certification_total_sec": round(sum(cert_timings.values()), 3),
        "certification_queries": cert_timings,
        "certification_spread": cert_spread,
        "certification_codegen": cert_codegen,
        "certification_sf": sf_of(cert_sf_dir),
    }
    # Full report to a file too: the driver's log-tail capture truncates,
    # which is how r5 lost the TPC join timings reviewers needed.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_full.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
