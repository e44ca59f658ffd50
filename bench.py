"""Headline benchmark: runs the engine's flagship queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion with a noop write (falls back to
count) so the timing covers the full scan → shuffle → aggregate plan
without driver-side collection overhead. The record lists under
``count_fallback`` the queries that fell back, and the detail artifacts
(``bench_detail.json``, ``bench_runs/``) hold each rep's Janino compiles
under ``codegen_compiles``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

# headline set: one per operator family; cheap enough to run per-round
HEADLINE = (
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "q18_large_volume_customers",
    "q_filter_predicates",
    "q_agg_distinct",
    "q_agg_rollup",
    "q_agg_percentiles",
    "q_sort_limit",
    "q_join_shipping_priority",
    "q_join_orders_per_nation",
    "q_join_range_bucketed",
    "q_window_topk_per_group",
    "q_window_running_total",
    "q_window_range_frame",
    "q_asof_join_events",
    "q_sessionize_events",
    "q_stream_tumbling_window",
    "q_etl_incremental_gate",
    "q_etl_upsert_merge",
    "q_json_funcs",
    "q_dedup_exact",
    "q_dedup_minhash_lsh",
    "q_dedup_cosine_blocked",
    "q_ann_bruteforce_topk",
    "q_ann_ivf_topk",
    "q_text_quality_score",
    "q_text_fingerprint",
    "q_tfidf_top_terms",
    "q_multimodal_features",
    "q_multimodal_decode",
    "q_dedup_clusters",
    "q_sql_pricing_summary",
    # round-3 additions
    "q_agg_percentiles_binned",
    "q_ann_ivf_nprobe",
    "q_dedup_clusters_star",
    "q_source_orc_scan",
    "q5_local_supplier_volume",
    "q13_customer_distribution",
    "q_chunk_documents",
    "q_sample_uniform_hash",
    "q_dedup_incremental",
    "q_semdedup",
    # round-3 third wave
    "q8_national_market_share",
    "q21_waiting_suppliers",
    "q_multimodal_decode_jpeg",
    "q_multimodal_audio_features",
    # round-4 additions
    "q_ann_ivf_trained",
    "q_text_perplexity",
    "q_curation_gopher_rules",
    "q_pipeline_curation_v2",
    # round-5 additions
    "q_ann_pq_topk",
    "q_ann_ivfpq_topk",
    "q_agg_hll_distinct",
    "q_multimodal_resize",
    "q_dedup_repeated_ngrams",
    "q_dedup_simhash",
    # round-5 second wave
    "q_funnel_conversion",
    "q_timeseries_gapfill",
    "q_sample_stratified",
    "q_curation_source_cap",
    "q_agg_salted_skew",
    "q_embed_quantize",
    "q_contamination_semantic",
    "q_contamination_ngram",
    "q_etl_snapshot_diff",
    "q_agg_countmin",
    "q_graph_pagerank",
    "q_window_ewma",
    "q_dedup_canonical",
    "q_text_vocab_oov",
    # round-5 third wave
    "q_ann_rhp_lsh",
    "q_udaf_grouped_median",
    "q_text_bpe_merges",
    "q_agg_regression",
    "q_etl_profile",
    # round-5 fifth wave
    "q_cdc_point_in_time",
    "q_etl_mv_incremental",
    "q_text_classifier",
    "q_events_anomaly",
    "q_curation_dsir",
    "q_stream_static_join",
    "q_source_xml_scan",
    "q_sql_recursive_cte",
    "q_join_null_aware_anti",
    "q_text_kl_divergence",
    "q_multimodal_decode_gif",
    "q_etl_expectations",
    "q_agg_hll_merge",
    "q_agg_kll_quantiles",
    "q_agg_heavy_hitters_merge",
    "q_scalar_variant",
    "q_sql_lateral_topk",
    "q_join_fuzzy_editdist",
    "q_agg_winsorized",
    "q_multimodal_audio_resample",
    "q_text_bpe_encode",
    "q_source_csv_malformed",
    "q_source_parquet_merge_schema",
    "q_events_transition_matrix",
    "q_agg_corr_matrix",
    "q_join_salted_skew",
    "q_embed_dim_stats",
    "q_text_source_overlap",
    "q_events_burst",
    "q_pipeline_curation_v3",
    "q_stream_python_datasource",
    "q_text_langid_confusion",
    "q_etl_timestamp_parse",
    "q_curation_temperature_mix",
    "q_agg_mode",
    "q_agg_higher_moments",
    "q_cdc_scd2_compact",
    "q_agg_kmv_distinct",
    "q_text_zipf",
    "q_scalar_null_semantics",
    "q_agg_bitmap_distinct",
    "q_graph_degree_dist",
    "q_multimodal_img_histogram",
    "q_sample_exact_k",
    "q_sample_group_split",
    "q_scalar_url_funcs",
    # round-6 additions
    "q_dedup_incremental_bloom_sharded",
    "q_agg_kmv_setops",
    "q_window_twap",
    "q_dedup_containment",
    "q_window_ohlc",
    "q_dedup_lines",
    "q_text_char_entropy",
    "q_agg_ab_ttest",
    "q_agg_chi2_independence",
    "q_multimodal_video_scenes",
    "q_graph_triangles",
    "q_stream_ohlc",
    "q_dedup_minhash_incremental",
    "q_agg_mutual_info",
    "q_sample_exact_k_grouped",
    "q_asof_tolerance",
    "q_window_drawdown",
    "q_join_spatial_grid",
    "q_attribution_linear",
    "q_interval_concurrency",
    "q_basket_affinity",
    "q_etl_benford",
    "q_window_pareto_skyline",
    "q_graph_khop",
    "q_text_collocations",
    "q_window_rolling_distinct",
    "q_window_global_decile",
    "q_agg_rfm_segments",
    "q_agg_robust_stats",
    "q_agg_weighted_median",
    "q_etl_psi_drift",
    "q_timeseries_changepoint",
    "q_etl_skew_profile",
    "q_sample_weighted_pps",
    "q_embed_hard_negatives",
    "q_funnel_latency",
    "q_events_top_paths",
    "q_window_rolling_hll",
    "q_stream_dedup_watermarked",
    "q_etl_zorder_stats",
    "q_etl_merkle_diff",
    "q_agg_auc_rank",
    "q_text_bm25_search",
    "q_timeseries_stl_dow",
    "q_etl_compaction_plan",
    "q_embed_pca_power",
    "q_etl_ks_drift",
    "q_agg_decile_lift",
    "q_etl_fd_discovery",
    "q_agg_bootstrap_ci",
    "q_graph_kcore",
    "q_graph_triangles_doulion",
    "q_search_hybrid_rrf",
    "q_etl_gdpr_erasure",
    "q_etl_referential_integrity",
    "q_text_rake_keywords",
    "q_text_textrank",
    # round-7 additions
    "q_dedup_longest_run",
    "q_text_unigram_train",
    "q_text_unigram_encode",
    "q_dedup_run_removal",
    "q_dedup_winnowing",
    "q_graph_lpa_communities",
    "q_timeseries_acf",
    "q_stream_stream_left_join",
    "q_etl_k_anonymity",
    "q_embed_cluster_quality",
    "q_multimodal_audio_vad",
    "q_events_retention_cohorts",
    "q_text_yule_k",
    "q_multimodal_patches",
    "q_events_markov_stationary",
    "q_agg_histogram",
    "q_window_streaks",
    "q_agg_conversion_ztest",
    # round-9 additions
    "q_stream_sketch_merge",
    "q_events_pattern_match",
    "q_graph_link_prediction",
    "q_stream_heavy_hitters",
    "q_etl_mv_join_delta",
    "q_timeseries_holt",
    # round-10 additions. The applyInPandasWithState pattern stream
    # (q_stream_pattern_match) is registered + gate-verified but NOT
    # benched — its cost is linear in key count (per-key Python calls;
    # 18.2 s sf0.1, 142 s sf1), the same reason
    # q_stream_stateful_user_aggs sits outside the basket; the JVM-RLE
    # scale path below is the benched form (decade-flat).
    "q_timeseries_holt_bykey",
    "q_stream_pattern_match_rle",
    "q_attribution_markov",
    "q_dedup_line_weighting",
    "q_timeseries_holt_winters",
    "q_timeseries_holt_winters_bykey",
    # round-11 additions
    "q_graph_hyperanf",
    "q_events_pattern_quantified",
    "q_stream_pattern_quantified",
    "q_stream_ann_index",
    "q_graph_harmonic_centrality",
    "q_graph_pagerank_personalized",
    # round-12 additions
    "q_graph_hits",
    "q_ann_ivf_twolevel",
    "q_events_pattern_alternation",
    "q_stream_pattern_alternation",
    "q_stream_ann_index_twolevel",
    "q_timeseries_ccf",
    "q_graph_random_walks",
    "q_graph_scc",
    "q_graph_mis",
    "q_embed_kcenter_seed",
)


def _execute(df) -> str:
    """Run ``df`` to completion and return the path that ran: ``"noop"``,
    or ``"count"`` when the noop write raised. A count can prune columns,
    so it times a different plan."""
    try:
        df.write.format("noop").mode("overwrite").save()
        return "noop"
    except Exception:
        df.count()
        return "count"


def _loadavg() -> list[float] | None:
    """1/5/15-minute load averages, for stamping into the artifact.

    This VM shows minutes-long hot windows where identical code reads
    8-16% slow with zero engine processes running (SCALING.md, round-9
    variance convention); recording load before/after each run makes a
    hot run adjudicable from the artifact itself instead of from
    archaeology.  A 1-minute load well above SPARK_GRAFT_CPUS at start,
    or a large start→end rise, flags the run as suspect.
    """
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except (OSError, ValueError):
        return None


def _psi() -> dict[str, dict[str, float]] | None:
    """Kernel pressure-stall stamps (/proc/pressure/{cpu,memory}).

    Loadavg alone can't distinguish hypervisor steal from memory stall
    or real CPU contention on this VM's phantom-load regime (idle 1-min
    load ~4.4 with zero engine processes).  PSI gives kernel evidence:
    cpu-some high with memory-full ~0 means contention/steal; memory
    pressure flags heap/page-cache stalls.  Recorded as
    {"cpu": {"some_avg10": ..., "some_avg60": ...},
     "memory": {"some_avg10": ..., "full_avg10": ..., ...}}.
    """
    out: dict[str, dict[str, float]] = {}
    for res in ("cpu", "memory"):
        try:
            with open(f"/proc/pressure/{res}") as fh:
                lines = fh.read().splitlines()
        except OSError:
            return None
        vals: dict[str, float] = {}
        for line in lines:
            parts = line.split()
            kind = parts[0]  # "some" | "full"
            for kv in parts[1:]:
                k, _, v = kv.partition("=")
                if k in ("avg10", "avg60"):
                    try:
                        vals[f"{kind}_{k}"] = float(v)
                    except ValueError:
                        pass
        out[res] = vals
    return out or None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.isdir(sf_dir):
        print(
            json.dumps({"error": f"SPARK_GRAFT_SF_DIR not a directory: {sf_dir}"}),
            file=sys.stderr,
        )
        raise SystemExit(2)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    # In local mode ONE JVM stands in for the whole cluster, so its heap
    # must scale with the data the way a real cluster's total memory
    # does (a 1000-executor fleet doesn't read 100 TB on 8 GB total).
    # Unless the caller pinned SPARK_GRAFT_DRIVER_MEM, size the heap at
    # ~16x the on-disk fixture bytes (compressed parquet decompresses
    # 3-5x, and shuffle/hash structures multiply again), clamped to
    # [8g, 64g].  sf0.1 (17 MB) stays at the 8 GB floor; sf10 (2.4 GB)
    # gets 38 GB instead of thrashing TaskMemoryManager at 8.
    if not os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        fixture_bytes = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(sf_dir)
            for f in files
        )
        heap_gb = min(64, max(8, (16 * fixture_bytes) >> 30))
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"

    from end_to_end_aws_data_pipeline_spark.cache import release_all
    from end_to_end_aws_data_pipeline_spark.session import codegen_compiles, get_spark
    import __spark_entry__ as ent

    spark = get_spark("bench")
    qs = ent.queries()

    # one untimed warmup query absorbs JVM/codegen/catalog cold start so
    # per-query numbers reflect steady-state execution
    first = qs.get(HEADLINE[0])
    if first is not None:
        _execute(first(spark, sf_dir))
        release_all()

    # SPARK_GRAFT_BENCH_REPS: run each query N times and report the MIN
    # (steady-state) — separates plan cost from JIT/GC noise. Default 3
    # so published deltas mean something; sub-second "regressions" under
    # reps=1 were indistinguishable from cold-run noise.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    load_start = _loadavg()
    psi_start = _psi()
    # SPARK_GRAFT_BENCH_ONLY=q_a,q_b: time a subset with the identical
    # methodology (warmup, reps, cache release) — for pairing newly
    # added queries into SCALING.md without a full-suite rerun
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    names = tuple(only.split(",")) if only else HEADLINE
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    # per-query wall-clock offset from run start: start stamps cannot
    # see a MID-RUN stall window (run 0009 started at load 0.76 / PSI
    # 0.0 and still read queries #147-158 at 3-6x their record values —
    # a 12-query contiguous cluster, i.e. a transient window, which the
    # offsets make attributable instead of inferential)
    t_offsets: dict[str, float] = {}
    # generated-code cache misses per query and rep: a warm rep that
    # compiles again means the cache is too small for the suite, or the
    # query's generated source changes from run to run
    compiles: dict[str, list[int]] = {}
    count_fallback: list[str] = []
    t_run0 = time.perf_counter()
    for name in names:
        fn = qs.get(name)
        if fn is None:
            continue
        best = None
        t_offsets[name] = round(time.perf_counter() - t_run0, 1)
        print(f"bench: {name} ...", file=sys.stderr, flush=True)
        try:
            for _ in range(reps):
                c0 = codegen_compiles(spark)
                t0 = time.perf_counter()
                path = _execute(fn(spark, sf_dir))
                dt = time.perf_counter() - t0
                compiles.setdefault(name, []).append(codegen_compiles(spark) - c0)
                if path == "count" and name not in count_fallback:
                    count_fallback.append(name)
                best = dt if best is None or dt < best else best
                # cache hygiene: drop whatever this query persisted so the
                # next query (or rep) is measured cold, not against a warm
                # CacheManager entry or inherited memory pressure
                release_all()
        except Exception as exc:  # noqa: BLE001 — one bad query must not
            # zero out the whole artifact; record the failure per-query
            # (json-visible) and keep measuring the rest
            release_all()
            errors[name] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
            print(f"bench: {name} FAILED: {errors[name]}", file=sys.stderr)
            continue
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    load_end = _loadavg()
    record = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # host load context (1/5/15-min averages at run start/end): a
        # 1-min load far above the 32-thread budget, or a big rise,
        # marks a hot-window run — compare totals only across runs with
        # comparable load stamps (variance convention, SCALING.md)
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        # pressure-stall stamps (cpu/memory some+full avg10/avg60):
        # separates real CPU contention and memory stall from hypervisor
        # steal, which loadavg conflates — the window classification in
        # SCALING.md cites these, not loadavg inference
        "psi_start": psi_start,
        "psi_end": _psi(),
        "reps": reps,
        "count_fallback": count_fallback,
    }
    # like-for-like subtotals over FIXED query baskets (tools/
    # r*_subset.json): the suite keeps growing, so the grand total
    # alone conflates engine speed with coverage growth. Two baskets
    # are kept: r5 (112 queries, the untouched control the north star
    # divides by; record 124.268 s at sf0.1 min-of-3) and r11 (214,
    # the newest). The r6-r10 baskets were deleted; their subtotals
    # stay in the runs archived under bench_runs/. A basket's subtotal
    # only appears when every basket query ran (full-suite runs, not
    # SPARK_GRAFT_BENCH_ONLY subsets).
    import glob as _glob

    for path in sorted(
        _glob.glob(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "tools",
                "r*_subset.json",
            )
        )
    ):
        try:
            with open(path) as fh:
                basket = json.load(fh)["queries"]
        except (OSError, KeyError, ValueError):
            continue
        if all(n in timings for n in basket):
            tag = os.path.basename(path).split("_")[0]
            record[f"subtotal_{tag}_basket"] = round(
                sum(timings[n] for n in basket), 3
            )
    if errors:
        record["errors"] = errors
    # per-query start offsets and compiles go to the DETAIL artifacts
    # only (the stdout line has a 1500-char budget); popped again before
    # printing
    record["query_t_offsets"] = t_offsets
    record["codegen_compiles"] = compiles
    # full per-query detail always lands in a file next to bench.py ...
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.path.join(repo_dir, "bench_detail.json")
    with open(detail_path, "w") as fh:
        json.dump(record, fh, indent=1)
    # ... AND every full-suite run archives its own immutable copy under
    # bench_runs/ (run-numbered, never overwritten).  The round-10 record
    # run lost its per-query detail because the next run clobbered
    # bench_detail.json before anyone copied it aside; a process rule was
    # written and promptly proved insufficient — rules decay, code
    # doesn't.  Subset runs (SPARK_GRAFT_BENCH_ONLY) are exploratory and
    # skip the archive to keep it a registry of citable full runs.
    if not only:
        runs_dir = os.path.join(repo_dir, "bench_runs")
        os.makedirs(runs_dir, exist_ok=True)
        seq = 1 + max(
            (
                int(m.group(1))
                for f in os.listdir(runs_dir)
                if (m := re.match(r"detail_run(\d+)_", f))
            ),
            default=0,
        )
        sf_tag = str(sf).replace(".", "p") if sf is not None else "unknown"
        # exclusive create + retry: two concurrent bench invocations can
        # compute the same seq from the same listdir snapshot; mode "x"
        # makes the second lose the name race instead of silently
        # overwriting an archive the design calls immutable.  The seq is
        # unbounded (no %04d wrap concern — zero-pad is cosmetic, the
        # regex parses any width).
        while True:
            run_path = os.path.join(
                runs_dir, f"detail_run{seq:04d}_sf{sf_tag}.json"
            )
            try:
                with open(run_path, "x") as fh:
                    json.dump(record, fh, indent=1)
                break
            except FileExistsError:
                seq += 1
        print(f"bench: archived {run_path}", file=sys.stderr)
    # ... while the one stdout line must fit the driver's 2000-char tail
    # capture window (BENCH_r05 clipped a 112-query line mid-JSON and lost
    # the headline).  If the full map overflows the budget, keep only the
    # slowest queries that fit and say how many were elided and where the
    # rest live.
    record.pop("query_t_offsets", None)
    record.pop("codegen_compiles", None)
    line = json.dumps(record)
    if len(line) > 1500:
        slowest = sorted(timings.items(), key=lambda kv: -kv[1])
        kept: dict[str, float] = {}
        for k, v in slowest:
            kept[k] = v
            trial = dict(record, queries=kept, n_queries=len(timings),
                         detail="bench_detail.json")
            if len(json.dumps(trial)) > 1500:
                del kept[k]
                break
        record = dict(record, queries=kept, n_queries=len(timings),
                      detail="bench_detail.json")
        line = json.dumps(record)
    print(line)


if __name__ == "__main__":
    main()
