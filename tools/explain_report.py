"""Generate PLANS.md: formatted physical plans of representative
queries with the scale-relevant observations called out. Run after plan
changes: python tools/explain_report.py
"""

from __future__ import annotations

import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF = "/root/testdata/sf0.001"

# query name → what the plan should show (rendered as a checklist)
SHOWCASE = {
    "q1_pricing_summary": [
        "PushedFilters on l_shipdate reach the parquet scan",
        "partial_sum before the exchange (map-side combine)",
        "single hash-partition exchange for the groupBy",
    ],
    "q_join_orders_per_nation": [
        "customer/supplier/nation/region all BroadcastHashJoin (no fact shuffle for dims)",
        "one shuffle: lineitem ⋈ orders on the order key",
    ],
    "q_sort_limit": [
        "TakeOrderedAndProject — per-partition top-N, no global sort",
    ],
    "q_window_running_total": [
        "single exchange on the window partition key; sums run in DECIMAL (exact)",
    ],
    "q_dedup_minhash_lsh": [
        "signature = hash-aggregated MINs (codegen), band join on (band,bucket) ids only",
        "shingle arrays joined back only for surviving candidates",
    ],
    "q_ann_bruteforce_topk": [
        "query side broadcast — fact side scanned once, never shuffled",
    ],
    "q_ann_ivf_nprobe": [
        "TWO Window nodes: per-(query,bucket) pre-top-k BEFORE the global "
        "per-query rank — global sort sees nprobe·k rows, never full buckets",
        "bounded probe set rides a BroadcastHashJoin",
    ],
    "q_ann_pq_topk": [
        "ONE executing MapInArrow (vecbatch.vector_map ADC scoring; "
        "training collects are bounded M·K·ds partial-sum rows per round)",
        "InMemoryTableScan: the quantized corpus is persisted once and "
        "reused by training, query collect and scoring",
    ],
    "q_ann_ivfpq_topk": [
        "scoring MapInArrow reads the persisted residual+assignment frame",
        "final rank is a per-query window over batch-local top-k emissions",
    ],
    "q_agg_hll_distinct": [
        "pure JVM expressions (md5/conv/bin) — a sketch at scan speed, "
        "no Python anywhere in the plan",
        "registers = map-side-combinable MAX: two small hash aggregates, "
        "then a 3-row broadcast join against the exact twin",
    ],
    "q_multimodal_resize": [
        "decode→resize runs in one MapInArrow (multimodal.per_doc) over "
        "a round-robin-spread 8-byte id column: Arrow batches in and out, "
        "no pandas frame, bytes never cross to the driver",
    ],
    "q_sample_stratified": [
        "scan + Filter + Project ONLY — zero exchanges, zero Python: "
        "the scale-correct stratified-sampling shape",
    ],
    "q_agg_salted_skew": [
        "exactly two exchanges: phase-1 hash agg on (key, salt), "
        "phase-2 merge on the key — hot keys spread over 16 reducers",
    ],
    "q_contamination_semantic": [
        "eval side BroadcastHashJoin against the bucketed corpus "
        "assignment — never a shuffled or cartesian cross-set join",
    ],
    "q_agg_countmin": [
        "sketch build is scan→explode→hash agg with map-side partials "
        "(256-cell state); estimates join the BROADCAST sketch",
    ],
    "q_graph_pagerank": [
        "three unrolled join+aggregate rounds over the persisted edge "
        "list (InMemoryTableScan reuse), rank vector co-shuffled on src",
        "pure int64 rank arithmetic — no floats anywhere in the plan",
    ],
    "q_graph_hits": [
        "final top-k plan reads ExistingRDD leaves ONLY — the "
        "alternating contribution joins executed eagerly inside the "
        "per-half-step localCheckpoints (lineage truncated; six "
        "nested half-step plans made ANALYSIS cost 20 s warm on 600 "
        "rows before truncation); the renormalization scalar is "
        "observed by each checkpoint's action and applied as a literal",
        "no corpus re-scan, no cartesian; the vector broadcast / "
        "dual-partitioned regimes live inside the checkpointed "
        "half-steps (size-aware, the HyperANF pick)",
    ],
    "q_ann_ivf_twolevel": [
        "assignment is ONE MapInArrow pass (vecbatch.vector_map) — "
        "two small matmuls per batch, no per-pair expression fold",
        "probe join BROADCASTS the 64-query set on cent_id; corpus "
        "side never re-shuffles",
        "top-k per query via window rank over bucket-sized input, "
        "no global sort",
    ],
    "q_events_pattern_alternation": [
        "ONE hash exchange on user_id serves all three window passes "
        "(row_number, run windows, lag/lead) and the final aggregate",
        "alternation is a plain IN predicate over the run table — "
        "no extra shuffle vs the unquantified pattern",
    ],
    "q_timeseries_ccf": [
        "ONE corpus-sized combinable aggregate builds the daily "
        "table (partial_sum before the exchange); everything after "
        "runs on the calendar-bounded (type × day) table",
        "lag table broadcast (BroadcastNestedLoop over 7 rows is "
        "fine); deviations and denominators reuse the persisted "
        "daily scan, no second corpus pass",
    ],
    "q_graph_random_walks": [
        "NO adjacency index: the raw directed edge cache serves "
        "every step (one direction per step via bipartite parity; "
        "no window sort, no deg join)",
        "each step is a BroadcastHashJoin of the seed-bounded "
        "frontier + partial_min before the walk-sized exchange "
        "(hash-argmin routing); frontiers are ExistingRDD leaves "
        "(localCheckpoint, the HITS depth lesson)",
    ],
    "q_graph_scc": [
        "final aggregate reads ExistingRDD leaves only — trim/"
        "color/backward rounds executed eagerly inside per-round "
        "localCheckpoints (flat plans at any depth)",
        "every round is an equi-join/aggregate on node- or "
        "edge-sized tables; AQE broadcasts the shrinking "
        "frontier/label sides (known sizes from checkpointed "
        "leaves)",
    ],
    "q_graph_mis": [
        "per round: ONE edge-sized join against the undecided-"
        "priority table + a node-sized partial_min aggregate + one "
        "edge-sized semi-join for the winners' neighbors; priorities "
        "are md5 expressions, no UDF",
        "the (node, status, round) state is an ExistingRDD leaf (one "
        "localCheckpoint per round, flat plans); the per-(status, "
        "round) counts are one aggregate over it",
    ],
    "q_embed_kcenter_seed": [
        "each round is a NARROW map (64-multiply zip_with fold on "
        "the int64 vectors) + TakeOrderedAndProject(1) — no "
        "shuffle, no UDF, no corpus re-quantization (state "
        "localCheckpointed once per round)",
    ],
    "q_timeseries_gapfill": [
        "both bracketing lookups are RUNNING window frames "
        "([unboundedPreceding, currentRow]; the 'next' side over "
        "DESCENDING hour) — no [currentRow, unboundedFollowing] "
        "frame, which Spark evaluates O(span^2) per series",
        "one hash exchange on user_id serves the hourly aggregate, "
        "spine join, and both windows",
    ],
    "q_join_fuzzy_editdist": [
        "substitution candidates equi-join on POSITION-TAGGED "
        "deletion keys — each true pair emitted exactly once, no "
        "global DISTINCT",
        "no Cartesian/NestedLoop anywhere",
    ],
    "q_agg_winsorized": [
        "no per-group rank window (a 3-partition sort at any scale); "
        "bounds from the binned-refinement machinery, then ONE "
        "conditional aggregate with the bounds broadcast",
    ],
    "q_curation_dsir": [
        "token histogram is a map-side-combinable aggregate; the "
        "64-bucket weight table broadcasts back; TakeOrderedAndProject "
        "keeps top-k without a global sort",
    ],
    "q_join_salted_skew": [
        "join runs on (key, salt): the hot key spreads over n_salts "
        "reducers; the small side replicates per salt (explode), "
        "never the fact side",
    ],
    "q_window_ewma": [
        "ONE exchange on user_id; all 8 lag taps ride the same Window "
        "node; weighted sum is codegen'd integer arithmetic",
    ],
    "q_graph_triangles": [
        "wedge join runs on the ORIENTED edge set (low-degree to high): "
        "per-apex fan-out capped by orientation, never raw hub degree",
        "closure check is an equi-join against the canonical edge set — "
        "counts aggregate map-side; no per-node neighborhood lists",
    ],
    "q_dedup_minhash_incremental": [
        "probe side filtered to the batch BEFORE the band join; corpus "
        "side projects (doc_id, band, bucket) only — the index shape",
        "shingle arrays join back only for screened candidates",
    ],
    "q_window_ohlc": [
        "both row_number windows share ONE exchange on (event_type, "
        "hour); open/close/extremes/mean in a single hash aggregate",
    ],
    "q_interval_concurrency": [
        "segmented prefix sum: the corpus-sized window partitions by "
        "day; the only unpartitioned Window's input is the day-totals "
        "aggregate (rows = calendar span)",
        "carry joins back via BroadcastHashJoin — no second big shuffle",
    ],
    "q_window_global_decile": [
        "global rank with NO single-partition sort: row_number windows "
        "partition by value band; offsets/n are broadcast joins",
        "final decile aggregate is hash-partitioned and combinable",
    ],
    "q_agg_bootstrap_ci": [
        "the WHOLE 40-resample bootstrap is ONE HashAggregate pair "
        "(partial+final) over the scan: 82 combinable accumulators",
        "no Generate (explode), no Window, no join — resample draws "
        "are per-row expressions from one md5 split into two halves",
        "CI = array_sort over the 40 in-row means (a scalar expression "
        "in the final 1-row projection)",
    ],
    "q_search_hybrid_rrf": [
        "both component rankings cut by TakeOrderedAndProject "
        "(per-partition heaps) BEFORE their <=50-row ranking windows",
        "semantic side: one broadcast probe vector, expression-only "
        "zip_with dot products (no UDF)",
        "fusion join touches at most 2x50 rows regardless of corpus "
        "size; final top-10 is TakeOrdered again",
    ],
    "q_etl_gdpr_erasure": [
        "the cascade is two LeftSemi joins down the FK chain; AQE "
        "broadcasts the request set at runtime",
        "delete/survive counts + key checksums are combinable "
        "aggregates (no distinct, no window)",
    ],
}


def main() -> None:
    from end_to_end_aws_data_pipeline_spark.plans.explain import formatted_plan
    from end_to_end_aws_data_pipeline_spark.session import get_spark
    import __spark_entry__ as ent

    spark = get_spark("explain-report")
    qs = ent.queries()
    out = [
        "# PLANS — physical plans of representative queries",
        "",
        "Generated by `python tools/explain_report.py` at sf0.001 (plan",
        "shape is scale-invariant; AQE re-optimizes sizes at runtime).",
        "Plan-quality regressions fail `tests/test_plans.py`.",
        "",
    ]
    for name, notes in SHOWCASE.items():
        fn = qs.get(name)
        if fn is None:
            continue
        plan = formatted_plan(fn(spark, SF))
        out.append(f"## {name}")
        out.append("")
        for n in notes:
            out.append(f"- {n}")
        out.append("")
        out.append("```")
        # keep the operator tree + scan details, drop codegen ids noise
        out.append(plan.strip())
        out.append("```")
        out.append("")
    Path(_REPO, "PLANS.md").write_text("\n".join(out))
    print(f"wrote PLANS.md ({len(out)} lines)")


if __name__ == "__main__":
    main()
