"""Plan-quality gates: pushdown, pruning, broadcast, codegen, top-N —
asserted on the headline queries so scale posture can't silently rot."""

from __future__ import annotations

from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.catalog import table
from end_to_end_aws_data_pipeline_spark.operators.joins import (
    q_join_orders_per_nation,
    q_join_shipping_priority,
)
from end_to_end_aws_data_pipeline_spark.operators.relational import (
    q1_pricing_summary,
    q_filter_predicates,
    q_sort_limit,
)
from end_to_end_aws_data_pipeline_spark.plans.explain import physical_plan
from end_to_end_aws_data_pipeline_spark.plans.scale import salted_agg
from tests.conftest import SF_SMOKE
from tests.plan_checks import (
    count_broadcast_joins,
    count_shuffles,
    forced_broadcast_count,
    has_pushed_filters,
    has_wholestage_codegen,
    scan_read_schema,
    uses_take_ordered,
)


def test_q1_pushdown_and_codegen(spark):
    df = q1_pricing_summary(spark, SF_SMOKE)
    assert has_pushed_filters(df, "l_shipdate")
    assert has_wholestage_codegen(df)
    # one shuffle for the groupBy; sort of 6 rows may add a range exchange
    assert count_shuffles(df) <= 2


def test_filter_reaches_scan(spark):
    df = q_filter_predicates(spark, SF_SMOKE)
    assert has_pushed_filters(df, "o_totalprice")
    assert count_shuffles(df) == 0  # pure scan+filter: no exchange at all


def test_projection_prunes_columns(spark):
    df = table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    rs = scan_read_schema(df, "lineitem")
    assert "l_orderkey" in rs and "l_quantity" in rs
    assert "l_extendedprice" not in rs  # 11-col table, 2-col scan


def test_dim_joins_broadcast(spark):
    # no forced hints on sf-scaling tables, but at smoke SF the planner
    # still auto-broadcasts from size stats — the safe behavior we want
    assert count_broadcast_joins(q_join_shipping_priority(spark, SF_SMOKE)) >= 1
    assert count_broadcast_joins(q_join_orders_per_nation(spark, SF_SMOKE)) >= 4


def test_no_forced_broadcast_on_scaling_tables(spark):
    """Forced `F.broadcast` hints are allowed only on fixed-cardinality
    inputs (region/nation/band/lexicon tables). customer/supplier/part/
    orders/lineitem grow with SF — a forced hint on them bypasses AQE's
    size check and OOMs executors at scale."""
    from end_to_end_aws_data_pipeline_spark.operators.tpch import (
        q14_promo_share,
        q18_large_volume_customers,
    )

    # Q3: joins customer/orders/lineitem only → zero forced hints
    assert forced_broadcast_count(q_join_shipping_priority(spark, SF_SMOKE)) == 0
    # Q5: exactly the two fixed dims (nation=25, region=5) are hinted
    assert forced_broadcast_count(q_join_orders_per_nation(spark, SF_SMOKE)) == 2
    # Q14: part scales with SF → no forced hint
    assert forced_broadcast_count(q14_promo_share(spark, SF_SMOKE)) == 0
    # Q18: customer scales with SF → no forced hint
    assert forced_broadcast_count(q18_large_volume_customers(spark, SF_SMOKE)) == 0


def test_topn_plans_take_ordered(spark):
    assert uses_take_ordered(q_sort_limit(spark, SF_SMOKE))


def test_salted_agg_matches_plain(spark):
    li = table(spark, SF_SMOKE, "lineitem")
    plain = {
        (r.l_returnflag, r.n, r.s)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("s"),
        )
        .collect()
    }
    salted = {
        (r.l_returnflag, r.n, r.s)
        for r in salted_agg(
            li,
            ["l_returnflag"],
            aggs=lambda: [
                F.count(F.lit(1)).alias("pn"),
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("ps"),
            ],
            merge_aggs=lambda: [
                F.sum("pn").alias("n"),
                F.sum("ps").cast("decimal(18,2)").alias("s"),
            ],
        ).collect()
    }
    assert plain == salted


def test_aqe_skew_join_split(spark):
    """AQE skew-join handling, evidenced in the FINAL adaptive plan: a
    deliberately skewed sort-merge join (one key owns ~90% of rows) must
    be marked skew=true after execution when
    spark.sql.adaptive.skewJoin.enabled is on with thresholds scaled
    down to smoke-test data volume. At 100 TB this is the conf set that
    keeps one hot key from pinning a straggler task."""
    skew_confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # scale the skew detector to ~MB test data (defaults are 256MB)
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        # forbid broadcast so the join stays sort-merge (skew split
        # only applies to shuffle joins)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
    }
    old = {k: spark.conf.get(k, None) for k in skew_confs}
    try:
        for k, v in skew_confs.items():
            spark.conf.set(k, v)
        # ~90% of left rows share key 0, with a wide payload so the hot
        # partition trips the (lowered) byte threshold
        left = spark.range(0, 120_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.concat(F.lit("x" * 120), F.col("id").cast("string")).alias(
                "pad"
            ),
        )
        right = spark.range(0, 2_000).select(
            F.col("id").alias("k"), F.lit("r").alias("tag")
        )
        joined = left.join(right, "k")
        assert joined.count() > 0
        # AQE finalizes the plan only after an action on THIS DataFrame
        joined.collect()
        from end_to_end_aws_data_pipeline_spark.plans.explain import (
            physical_plan,
        )

        plan = physical_plan(joined)
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cdc_and_nprobe_plans(spark):
    """New round-3 operators keep the plan shapes that scale: no
    cartesian products; the nprobe probe-set join is a broadcast (the
    query side is bounded); CDC is window + joins with a bounded
    shuffle count."""
    from end_to_end_aws_data_pipeline_spark.operators.cdc import (
        q_etl_cdc_apply,
    )
    from end_to_end_aws_data_pipeline_spark.operators.similarity import (
        q_ann_ivf_nprobe,
    )
    from end_to_end_aws_data_pipeline_spark.plans.explain import formatted_plan

    cdc = q_etl_cdc_apply(spark, SF_SMOKE)
    assert "Cartesian" not in formatted_plan(cdc)
    assert count_shuffles(cdc) <= 4  # feed window + full-outer + agg
    npb = q_ann_ivf_nprobe(spark, SF_SMOKE)
    assert "Cartesian" not in formatted_plan(npb)
    assert count_broadcast_joins(npb) >= 1  # bounded probe set rides broadcast
    assert count_shuffles(npb) <= 2  # assignment scan + rank window


def test_tpch_deep_plan_posture(spark):
    """Round-3 deep-cut TPC-H queries: pushdown, hint discipline, and
    top-N shapes hold at any SF."""
    from end_to_end_aws_data_pipeline_spark.operators.tpch_deep import (
        q5_local_supplier_volume,
        q10_returned_items,
        q19_discounted_revenue,
        q22_global_sales_opportunity,
    )

    # Q5: forced hints only on nation(25) + region(5)
    assert forced_broadcast_count(q5_local_supplier_volume(spark, SF_SMOKE)) == 2
    # Q10: returnflag filter reaches the lineitem scan; top-20 is a
    # TakeOrdered, never a global sort
    q10 = q10_returned_items(spark, SF_SMOKE)
    assert has_pushed_filters(q10, "l_returnflag")
    assert uses_take_ordered(q10)
    assert forced_broadcast_count(q10) == 1  # nation only
    # Q19: Catalyst factors the single-side conjuncts out of the
    # OR-of-ANDs — brand and quantity bounds appear as pushed filters
    q19 = q19_discounted_revenue(spark, SF_SMOKE)
    assert has_pushed_filters(q19, "p_brand")
    assert has_pushed_filters(q19, "l_quantity")
    # Q22: the no-recent-orders NOT EXISTS stays an anti join (no
    # cartesian anywhere); the 1-row average is the only forced hint
    q22 = q22_global_sales_opportunity(spark, SF_SMOKE)
    plan = physical_plan(q22)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q8_q9_plan_posture(spark):
    from end_to_end_aws_data_pipeline_spark.operators.tpch_deep import (
        q8_national_market_share,
        q9_product_type_profit,
    )

    # Q8: forced hints only on the two nation roles + region
    q8 = q8_national_market_share(spark, SF_SMOKE)
    assert forced_broadcast_count(q8) == 3
    assert has_pushed_filters(q8, "p_type")
    assert "CartesianProduct" not in physical_plan(q8)
    # Q9: the substring filter can't prune row groups (leading
    # wildcard) but must still sit in the part scan's data filters,
    # before the first join; nation is the only forced hint
    q9 = q9_product_type_profit(spark, SF_SMOKE)
    assert forced_broadcast_count(q9) == 1
    assert "CartesianProduct" not in physical_plan(q9)


def test_q21_q11_q20_plan_posture(spark):
    from end_to_end_aws_data_pipeline_spark.operators.tpch_deep import (
        q11_important_parts,
        q20_excess_stock_suppliers,
        q21_waiting_suppliers,
    )

    # Q21: the EXISTS/NOT EXISTS pair must compile to semi + anti joins
    # (never a subquery re-execution per row); nation is the only hint
    q21 = q21_waiting_suppliers(spark, SF_SMOKE)
    plan21 = physical_plan(q21)
    assert "LeftSemi" in plan21 and "LeftAnti" in plan21
    assert forced_broadcast_count(q21) == 1
    assert "CartesianProduct" not in plan21
    # Q11: the scalar-subquery gate is a 1-row broadcast (nested-loop
    # join against one row is free at any scale), not a cartesian
    q11 = q11_important_parts(spark, SF_SMOKE)
    plan11 = physical_plan(q11)
    assert forced_broadcast_count(q11) == 1
    assert "CartesianProduct" not in plan11
    # Q20: prefix LIKE prunes at the part scan; supplier gate is a
    # semi join (IN-subquery decorrelation), no duplicate-producing inner
    q20 = q20_excess_stock_suppliers(spark, SF_SMOKE)
    plan20 = physical_plan(q20)
    assert has_pushed_filters(q20, "p_name")
    assert "LeftSemi" in plan20
    assert "CartesianProduct" not in plan20


def test_chunking_and_sampling_plan_posture(spark):
    """Chunking is shuffle-free (scan + generate only); hash sampling
    compiles to TakeOrdered (per-partition top-k, no full sort)."""
    from end_to_end_aws_data_pipeline_spark.operators.chunking import (
        q_chunk_documents,
        q_sample_uniform_hash,
    )

    assert count_shuffles(q_chunk_documents(spark, SF_SMOKE)) == 0
    assert uses_take_ordered(q_sample_uniform_hash(spark, SF_SMOKE))


def test_incremental_dedup_plan_posture(spark):
    """The batch-vs-corpus probe is an anti join on digests, and the
    corpus side's scan is pruned to the text column it hashes."""
    from end_to_end_aws_data_pipeline_spark.operators.dedup import (
        q_dedup_incremental,
    )

    plan = physical_plan(q_dedup_incremental(spark, SF_SMOKE))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_injection(spark):
    """Catalyst's InjectRuntimeFilter: a selective dimension side of a
    shuffle join grows a bloom filter that pre-prunes the fact scan
    BEFORE the shuffle (semi-join reduction) — at 100 TB this is the
    difference between shuffling the whole fact table and shuffling
    only rows that can match. Assert the rewrite actually fires under
    the documented confs: the fact side gains a might_contain filter
    fed by a bloom_filter_agg subquery on the dim side."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold", "1KB",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        orders = table(spark, SF_SMOKE, "orders").filter(
            F.col("o_totalprice") > 400000
        )
        li = table(spark, SF_SMOKE, "lineitem")
        j = (
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        plan = physical_plan(j)
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_jaccard_adaptive_plan_posture(spark):
    """Round-4 adaptive exact-Jaccard: the direct route's plan must be
    join + hash-aggregate only (no window, no row_number ranking), the
    PPJoin route must contain exactly one window (the prefix ranking)
    and neither may fall back to a cartesian product; both verify via
    count aggregation — the plan must not contain array_intersect."""
    from end_to_end_aws_data_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    direct = physical_plan(ngram_jaccard_pairs(docs, direct_sumdf2_max=1 << 60))
    assert "CartesianProduct" not in direct
    assert "row_number" not in direct
    assert "array_intersect" not in direct

    ppjoin = physical_plan(ngram_jaccard_pairs(docs, direct_sumdf2_max=0))
    assert "CartesianProduct" not in ppjoin
    assert "row_number" in ppjoin  # the rarest-first prefix ranking
    assert "array_intersect" not in ppjoin
    # the prefix projection is cached, not recomputed per join side
    assert "InMemoryTableScan" in ppjoin

    from end_to_end_aws_data_pipeline_spark.cache import release_all

    release_all()


def test_ivf_trained_assignment_is_bounded_python(spark):
    """Trained-IVF plan: Python shows up ONLY as the Arrow-batched
    assignment stage (mapInArrow); the probe join must broadcast the
    bounded query set, and ranking must be a window over the candidate
    rows, never a cartesian expansion."""
    from end_to_end_aws_data_pipeline_spark.operators.similarity import (
        q_ann_ivf_trained,
    )

    plan = physical_plan(q_ann_ivf_trained(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert plan.count("MapInArrow") == 1
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan

    from end_to_end_aws_data_pipeline_spark.cache import release_all

    release_all()


def test_round5_plan_posture(spark):
    """Round-5 operators keep scale-safe plan shapes:

    - nprobe pre-top-k: TWO Window nodes (per-bucket rank before the
      global per-query rank) — the bounded-candidate-emission fix that
      took the 10x scale step from 8.3x to 1.5x; regression here means
      the global sort sees full buckets again.
    - PQ / IVF-PQ: exactly ONE Python stage (the Arrow-batched scoring
      pass) in the returned plan, reading the persisted corpus from
      InMemoryTableScan; no cartesian products anywhere.
    - replayable HLL: pure JVM expressions (no Python in the plan) with
      whole-stage codegen — a sketch at scan speed.
    """
    from end_to_end_aws_data_pipeline_spark.operators.pq import (
        q_ann_ivfpq_topk,
        q_ann_pq_topk,
    )
    from end_to_end_aws_data_pipeline_spark.operators.percentiles import (
        q_agg_hll_distinct,
    )
    from end_to_end_aws_data_pipeline_spark.operators.similarity import (
        q_ann_ivf_nprobe,
    )
    from end_to_end_aws_data_pipeline_spark.plans.explain import (
        formatted_plan,
    )

    npb = formatted_plan(q_ann_ivf_nprobe(spark, SF_SMOKE))
    assert npb.count("Window") >= 2  # bucket pre-top-k + global rank

    for q in (q_ann_pq_topk, q_ann_ivfpq_topk):
        df = q(spark, SF_SMOKE)
        plan = formatted_plan(df)
        assert "Cartesian" not in plan
        # exactly one Python stage (the scoring pass) EXECUTES: nodes
        # below InMemoryTableScan are the cached relation's printed
        # lineage, not re-executed work
        simple = physical_plan(df)
        assert "InMemoryTableScan" in simple  # persisted corpus reuse
        assert simple.split("InMemoryTableScan")[0].count("MapInArrow") == 1

    hll_df = q_agg_hll_distinct(spark, SF_SMOKE)
    hll = formatted_plan(hll_df)
    assert "Python" not in hll and "MapInPandas" not in hll
    assert has_wholestage_codegen(hll_df)
    assert "Cartesian" not in hll


def test_q2_q16_plan_posture(spark):
    """Round-5 TPC-H completions keep the deep-suite plan discipline:
    Q2's ORDER BY+LIMIT is a TakeOrderedAndProject (no global sort) and
    its region restriction broadcasts; Q16's blocklist anti-join
    broadcasts a bounded set; neither plan contains a cartesian
    product."""
    from end_to_end_aws_data_pipeline_spark.operators.tpch_deep import (
        q16_supplier_relationship,
        q2_min_cost_supplier,
    )
    from end_to_end_aws_data_pipeline_spark.plans.explain import (
        formatted_plan,
    )

    q2 = q2_min_cost_supplier(spark, SF_SMOKE)
    p2 = formatted_plan(q2)
    assert "Cartesian" not in p2
    assert uses_take_ordered(q2)
    assert count_broadcast_joins(q2) >= 2  # nation+region (and blocked dims)

    q16 = q16_supplier_relationship(spark, SF_SMOKE)
    p16 = formatted_plan(q16)
    assert "Cartesian" not in p16
    assert "BroadcastHashJoin LeftAnti" in p16 or "LeftAnti BuildRight" in p16


def test_round5_second_wave_plan_posture(spark):
    """Plan gates for the corpus-shaping / embedding-compression wave:

    - stratified sample: scan+filter ONLY — zero exchanges, zero
      Python, codegen; the whole point of rate-based stratification
      (a per-stratum fixed-k window would shuffle into few reducers).
    - source cap: exactly one exchange (the per-source window).
    - salted agg: exactly two exchanges (phase-1 (key,salt) + phase-2
      key merge) and no more — a third would mean the decomposition
      re-shuffled the raw stream.
    - int8 quantize: zero exchanges, zero Python (expression-only
      transform/fold over the embedding array).
    - semantic contamination: eval side broadcast (never a shuffled
      join against the corpus), no cartesian anywhere.
    - vocab/OOV: vocabulary via TakeOrderedAndProject (V rows off each
      executor, not a full sort) and a broadcast token join.
    """
    from end_to_end_aws_data_pipeline_spark.operators.chunking import (
        q_sample_stratified,
    )
    from end_to_end_aws_data_pipeline_spark.operators.curation import (
        q_curation_source_cap,
    )
    from end_to_end_aws_data_pipeline_spark.operators.pq import q_embed_quantize
    from end_to_end_aws_data_pipeline_spark.operators.relational import (
        q_agg_salted_skew,
    )
    from end_to_end_aws_data_pipeline_spark.operators.similarity import (
        q_contamination_semantic,
    )
    from end_to_end_aws_data_pipeline_spark.operators.text import q_text_vocab_oov

    strat = q_sample_stratified(spark, SF_SMOKE)
    assert count_shuffles(strat) == 0
    assert "Python" not in physical_plan(strat)
    assert has_wholestage_codegen(strat)

    cap = q_curation_source_cap(spark, SF_SMOKE)
    assert count_shuffles(cap) == 1
    assert "Python" not in physical_plan(cap)

    salted = q_agg_salted_skew(spark, SF_SMOKE)
    assert count_shuffles(salted) == 2
    assert "Python" not in physical_plan(salted)

    q8 = q_embed_quantize(spark, SF_SMOKE)
    assert count_shuffles(q8) == 0
    assert "Python" not in physical_plan(q8)

    sem = q_contamination_semantic(spark, SF_SMOKE)
    psem = physical_plan(sem)
    assert "Cartesian" not in psem
    assert count_broadcast_joins(sem) >= 1

    voc = q_text_vocab_oov(spark, SF_SMOKE)
    pvoc = physical_plan(voc)
    assert "Cartesian" not in pvoc
    assert count_broadcast_joins(voc) >= 1
    assert "TakeOrdered" in pvoc


def test_round5_fourth_wave_plan_posture(spark):
    """Plan gates for the fourth wave:

    - exact-moment OLS: a single two-phase aggregate — at most one
      exchange of per-group moment partials, no Python, codegen on.
    - table profile: ONE aggregation pass (the multi-DISTINCT plans as
      Expand + aggregate, not one scan per column) — the scan appears
      once, no Python.
    - RHP-LSH: candidate generation is an equi-join on (band, bucket)
      — never a cartesian; Python appears only as the one Arrow
      signature stage (MapInArrow), not per-pair.
    """
    from end_to_end_aws_data_pipeline_spark.ingest.queries import q_etl_profile
    from end_to_end_aws_data_pipeline_spark.operators.extras import (
        q_agg_regression,
    )
    from end_to_end_aws_data_pipeline_spark.operators.similarity import (
        q_ann_rhp_lsh,
    )

    reg = q_agg_regression(spark, SF_SMOKE)
    assert count_shuffles(reg) <= 1
    assert "Python" not in physical_plan(reg)
    assert has_wholestage_codegen(reg)

    # q_etl_profile's big multi-DISTINCT pass must stay on
    # HashAggregate: string extents come from per-column dictionary
    # hash-aggregates crossJoined in (two extra scans, each a
    # handful-of-groups agg) so no STRING min/max ever enters the
    # Expand'd buffer and forces SortAggregate over 7x rows.
    prof = q_etl_profile(spark, SF_SMOKE)
    pprof = physical_plan(prof)
    assert pprof.count("Scan parquet") <= 3
    assert "HashAggregate" in pprof
    assert "SortAggregate" not in pprof
    assert "Expand" in pprof
    assert "Python" not in pprof

    rhp = q_ann_rhp_lsh(spark, SF_SMOKE)
    prhp = physical_plan(rhp)
    assert "Cartesian" not in prhp
    # both sides of the band self-join read the PERSISTED signature
    # table, i.e. the matmul runs once. MapInArrow text appears only
    # inside cached-relation descriptions — when the cache is already
    # materialized (shared test session) Spark may elide a repeated
    # description, so gate on "no more MapInArrow than cached
    # relations", not exact equality.
    assert prhp.count("InMemoryTableScan") == 2
    assert 0 < prhp.count("MapInArrow") <= prhp.count("InMemoryRelation")


def test_round5_fifth_wave_plan_posture(spark):
    """Plan gates for the fifth wave:

    - point-in-time lookup: the interval containment rides as a
      residual on an EQUI join (hash/sort-merge on the entity key) —
      never a nested-loop over probes x versions.
    - incremental MV: base and delta are separate pushed-filter scans
      (two scans, zero Python); the partial merge stays codegen'd.
    - hashed classifier: the entire score is one codegen'd projection
      — a single scan, no joins, at most the one final aggregate
      exchange.
    - exact anomaly: the per-group moments come back as a BROADCAST
      (the fact side never reshuffles for the join).
    - DSIR: top-k via TakeOrderedAndProject, weight table broadcast;
      no Python anywhere in the wave.
    """
    from end_to_end_aws_data_pipeline_spark.ingest.queries import (
        q_etl_mv_incremental,
    )
    from end_to_end_aws_data_pipeline_spark.operators.cdc import (
        q_cdc_point_in_time,
    )
    from end_to_end_aws_data_pipeline_spark.operators.curation import (
        q_curation_dsir,
    )
    from end_to_end_aws_data_pipeline_spark.operators.extras import (
        q_events_anomaly,
    )
    from end_to_end_aws_data_pipeline_spark.operators.text import (
        q_text_classifier,
    )

    pit = physical_plan(q_cdc_point_in_time(spark, SF_SMOKE))
    assert "Cartesian" not in pit
    assert ("SortMergeJoin" in pit) or ("BroadcastHashJoin" in pit)
    assert "Python" not in pit

    mv = q_etl_mv_incremental(spark, SF_SMOKE)
    pmv = physical_plan(mv)
    assert pmv.count("Scan parquet") == 2
    assert has_pushed_filters(mv, "l_shipdate")
    assert "Python" not in pmv

    clf = q_text_classifier(spark, SF_SMOKE)
    pclf = physical_plan(clf)
    assert pclf.count("Scan parquet") == 1
    assert "Join" not in pclf
    assert count_shuffles(clf) <= 1
    assert "Python" not in pclf

    anom = q_events_anomaly(spark, SF_SMOKE)
    panom = physical_plan(anom)
    assert "BroadcastHashJoin" in panom
    assert "SortMergeJoin" not in panom
    assert "Python" not in panom

    dsir = q_curation_dsir(spark, SF_SMOKE)
    pdsir = physical_plan(dsir)
    assert uses_take_ordered(dsir)
    assert "BroadcastHashJoin" in pdsir
    assert "Python" not in pdsir


def test_round5_sixth_wave_plan_posture(spark):
    """Sixth wave gates:

    - NOT IN with a nullable subquery column must plan Spark's
      dedicated single-column null-aware anti join (rendered as the
      trailing `true` on the BroadcastHashJoin) — not a nested loop.
    - KL divergence: everything after the one token-histogram
      aggregate is broadcast arithmetic on tiny tables; no Python.
    """
    from end_to_end_aws_data_pipeline_spark.operators.joins import (
        q_join_null_aware_anti,
    )
    from end_to_end_aws_data_pipeline_spark.operators.text import (
        q_text_kl_divergence,
    )

    naaj = physical_plan(q_join_null_aware_anti(spark, SF_SMOKE))
    assert "LeftAnti, BuildRight, true" in naaj
    assert "BroadcastNestedLoop" not in naaj

    kl = q_text_kl_divergence(spark, SF_SMOKE)
    pkl = physical_plan(kl)
    assert count_broadcast_joins(kl) >= 2
    assert "Python" not in pkl
    assert "SortMergeJoin" not in pkl


def test_round5_seventh_wave_plan_posture(spark):
    """Seventh wave gates:

    - expectations: the five scan rules share ONE aggregation pass
      (orders appears exactly twice: rules scan + FK anti-join side).
    - fuzzy join: deletion-neighborhood candidates come from an
      equi-join — no cartesian/nested-loop anywhere.
    - winsorized mean: the per-group bounds come back BROADCAST onto
      the ranked stream.
    - variant: parse_json/variant_get stay JVM-side (no Python).
    """
    from end_to_end_aws_data_pipeline_spark.ingest.queries import (
        q_etl_expectations,
    )
    from end_to_end_aws_data_pipeline_spark.operators.extras import (
        q_scalar_variant,
    )
    from end_to_end_aws_data_pipeline_spark.operators.joins import (
        q_join_fuzzy_editdist,
    )
    from end_to_end_aws_data_pipeline_spark.operators.percentiles import (
        q_agg_winsorized,
    )

    exp = physical_plan(q_etl_expectations(spark, SF_SMOKE))
    assert exp.count("Scan parquet") == 3  # orders x2 + customer
    assert "Python" not in exp

    fz = physical_plan(q_join_fuzzy_editdist(spark, SF_SMOKE))
    assert "Cartesian" not in fz and "NestedLoop" not in fz
    assert "Python" not in fz

    win = q_agg_winsorized(spark, SF_SMOKE)
    pwin = physical_plan(win)
    assert "BroadcastHashJoin" in pwin
    assert "Python" not in pwin

    var = physical_plan(q_scalar_variant(spark, SF_SMOKE))
    assert "Python" not in var
    assert "variant_get" in var.lower()


def test_round5_ninth_wave_plan_posture(spark):
    """Ninth wave gates:

    - corr matrix: ONE scan, ONE partial+final aggregate, no joins.
    - transition matrix: exactly one exchange of the event stream
      (the user_id window); the row-normalization window runs on the
      aggregated matrix, adding only tiny exchanges after it.
    - salted join: no broadcast needed for correctness — it must
      remain a (key, salt) shuffle join able to respect layouts AQE
      cannot re-split; and no Python anywhere.
    """
    from end_to_end_aws_data_pipeline_spark.operators.extras import (
        q_agg_corr_matrix,
        q_events_transition_matrix,
    )
    from end_to_end_aws_data_pipeline_spark.operators.joins import (
        q_join_salted_skew,
    )

    corr = q_agg_corr_matrix(spark, SF_SMOKE)
    pcorr = physical_plan(corr)
    assert pcorr.count("Scan parquet") == 1
    assert "Join" not in pcorr
    assert "Python" not in pcorr

    tm = q_events_transition_matrix(spark, SF_SMOKE)
    ptm = physical_plan(tm)
    assert ptm.count("Scan parquet") == 1
    assert "Python" not in ptm

    sj = physical_plan(q_join_salted_skew(spark, SF_SMOKE))
    assert "Cartesian" not in sj
    assert "Python" not in sj


def test_round5_tenth_wave_plan_posture(spark):
    """Tenth wave gates:

    - embedding dim stats: one scan, no joins, no Python — a
      64-group map-side-combinable aggregate.
    - source overlap: the self-join runs on the DISTINCT
      (source, token) table; no cartesian.
    - burst detection: one scan, a running range frame, no Python.
    - capstone v3: fully JVM-side (the classifier is a codegen'd
      fold, unlike v2's NFC pandas stage); top-k via
      TakeOrderedAndProject; the survivor corpus is persisted
      (InMemoryTableScan present).
    """
    from end_to_end_aws_data_pipeline_spark.operators.extras import (
        q_events_burst,
    )
    from end_to_end_aws_data_pipeline_spark.operators.pipeline_demo import (
        q_pipeline_curation_v3,
    )
    from end_to_end_aws_data_pipeline_spark.operators.similarity import (
        q_embed_dim_stats,
    )
    from end_to_end_aws_data_pipeline_spark.operators.text import (
        q_text_source_overlap,
    )

    ds = physical_plan(q_embed_dim_stats(spark, SF_SMOKE))
    assert ds.count("Scan parquet") == 1
    assert "Join" not in ds and "Python" not in ds

    ov = physical_plan(q_text_source_overlap(spark, SF_SMOKE))
    assert "Cartesian" not in ov and "Python" not in ov

    bu = physical_plan(q_events_burst(spark, SF_SMOKE))
    assert bu.count("Scan parquet") == 1
    assert "Window" in bu and "Python" not in bu

    v3 = q_pipeline_curation_v3(spark, SF_SMOKE)
    pv3 = physical_plan(v3)
    assert "Python" not in pv3
    assert "InMemoryTableScan" in pv3
    assert uses_take_ordered(v3)


def test_runtime_bloom_filter_injection(spark):
    """Runtime (injected) bloom-filter semi-join reduction: when a
    selective dimension filter feeds a non-broadcast join, Spark's
    optimizer builds a bloom filter on the dim keys and pushes a
    `bloom_filter_might_contain` probe into the FACT scan — rows that
    can't join die before the shuffle. At 100 TB this is the free
    shuffle-volume reducer for selective star joins too big to
    broadcast (the engine-native cousin of the explicit Bloom
    incremental-dedup operator)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = table(spark, SF_SMOKE, "lineitem")
        dim = table(spark, SF_SMOKE, "orders").filter(
            F.col("o_totalprice") > 500000
        )
        j = fact.join(dim, fact.l_orderkey == dim.o_orderkey)
        plan = physical_plan(j)
        assert "bloom_filter" in plan.lower(), plan[:1500]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_zipf_head_is_take_ordered_not_global_window(spark):
    """Regression gate for the r6 fix: the Zipf head must come from
    TakeOrderedAndProject (per-partition top-N + merge), and the rank
    window must sit ABOVE the limit — never a vocabulary-wide
    unpartitioned ranking."""
    from end_to_end_aws_data_pipeline_spark.operators.text import q_text_zipf
    from end_to_end_aws_data_pipeline_spark.plans.explain import physical_plan

    plan = physical_plan(q_text_zipf(spark, SF_SMOKE))
    assert "TakeOrdered" in plan, plan[:1500]
    # the Window node must consume the Limit's output, i.e. appear
    # above TakeOrdered in the tree string (smaller indent/first hit)
    assert plan.index("Window") < plan.index("TakeOrdered"), plan[:1500]


def test_chi2_contingency_joins_are_broadcast(spark):
    """The chi-square cell/total joins run on the CELL table (types x 7
    rows) — all three enrichment joins must broadcast, never shuffle."""
    from end_to_end_aws_data_pipeline_spark.operators.extras import (
        q_agg_chi2_independence,
    )
    from end_to_end_aws_data_pipeline_spark.plans.explain import physical_plan

    plan = physical_plan(q_agg_chi2_independence(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 3, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_segmented_rank_windows_are_partitioned(spark):
    """The segmented-scan family's promise, asserted on the plan: every
    Window over the corpus-sized relation carries a partition spec
    (the value band / time segment); unpartitioned windows exist only
    downstream of an Aggregate (the bounded band/segment-totals
    table)."""
    from end_to_end_aws_data_pipeline_spark.operators.sweep import (
        q_interval_concurrency,
        q_window_global_decile,
    )
    from end_to_end_aws_data_pipeline_spark.plans.explain import physical_plan

    for fn, seg in (
        (q_window_global_decile, "bucket"),
        (q_interval_concurrency, "hour"),
    ):
        plan = physical_plan(fn(spark, SF_SMOKE))
        # at least one partitioned window on the segment key
        assert any(
            "Window" in ln and seg in ln and "windowspecdefinition" in ln
            for ln in plan.splitlines()
        ), f"no {seg}-partitioned window in {fn.__name__} plan"


def test_bootstrap_is_one_aggregate_pass(spark):
    """The Poisson bootstrap must stay a SINGLE combinable aggregate
    over the scan: no Generate (explode), no Window, no join — the
    whole B-resample computation lives in the aggregate buffers, and
    the only exchange is the final single-partition merge."""
    from end_to_end_aws_data_pipeline_spark.operators.extras import (
        q_agg_bootstrap_ci,
    )
    from end_to_end_aws_data_pipeline_spark.plans.explain import physical_plan

    plan = physical_plan(q_agg_bootstrap_ci(spark, SF_SMOKE))
    assert "Generate" not in plan, plan[:1500]
    assert "Window" not in plan, plan[:1500]
    assert "Join" not in plan, plan[:1500]
    assert plan.count("HashAggregate") == 2, plan[:1500]  # partial+final


def test_rrf_lists_are_take_ordered(spark):
    """Both RRF component rankings must be cut by TakeOrdered
    (per-partition heaps) BEFORE any ranking window runs — the
    corpus-sized global-window anti-pattern gate, applied to hybrid
    search."""
    from end_to_end_aws_data_pipeline_spark.operators.similarity import (
        q_search_hybrid_rrf,
    )
    from end_to_end_aws_data_pipeline_spark.plans.explain import physical_plan

    plan = physical_plan(q_search_hybrid_rrf(spark, SF_SMOKE))
    assert plan.count("TakeOrdered") >= 2, plan[:2000]
    # every ranking Window must sit ABOVE a TakeOrdered in the tree
    # string (window consumes the limit's bounded output, never the
    # full corpus)
    pos = 0
    for _ in range(plan.count("Window")):
        w = plan.index("Window", pos)
        assert plan.find("TakeOrdered", w) != -1, plan[w : w + 800]
        pos = w + 1


def test_global_windows_are_bounded(spark):
    """Executable form of every 'bounded global window' justification
    comment: run each query whose plan contains an UNPARTITIONED
    WindowExec and assert the rows that actually flowed through that
    window stay within the documented design bound (top-k survivors,
    sketch registers, calendar segments, value bands, score domain) —
    measured from the executed plan's numOutputRows metrics, not
    trusted from the comment. A corpus-sized relation reaching one of
    these windows fails here before it fails at 100 TB."""
    from end_to_end_aws_data_pipeline_spark.operators import (
        curation,
        extras,
        percentiles,
        similarity,
        sweep,
        text,
    )
    from tests.plan_checks import global_window_input_rows
    from end_to_end_aws_data_pipeline_spark.registry import queries

    qs = queries()
    # query -> documented bound on any global window's input rows
    sites = {
        "q_text_ngram_freq": 20,              # top-k survivors
        "q_text_zipf": text._ZIPF_TOP,        # head-of-distribution fit
        "q_agg_kmv_setops": 2 * percentiles._KMV_K,  # two merged sketches
        "q_interval_concurrency": 1000,       # hour segments (720 + slack)
        "q_window_global_decile": 4100,  # adaptive ~4096 value bands
        "q_agg_robust_stats": 4100,
        "q_agg_weighted_median": 4100,
        "q_sample_weighted_pps": 4100,
        "q_etl_psi_drift": 4100,
        "q_timeseries_changepoint": 40,       # calendar days
        "q_timeseries_stl_dow": 40,
        "q_etl_compaction_plan": 40,
        "q_events_top_paths": sweep._PATH_TOP,
        "q_curation_temperature_mix": 64,     # distinct sources
        "q_agg_auc_rank": 10_000,             # score DOMAIN (milli-lengths)
        "q_agg_decile_lift": 10_000,
        "q_search_hybrid_rrf": similarity._RRF_N,  # list depth per side
        "q_graph_lpa_communities": 20,        # TakeOrdered survivors
        # merge window <= months x k items; audit offsets <= 4096 bands
        "q_agg_kll_quantiles": 90 * percentiles.KLL_K,
    }
    del curation, extras  # imported for parity with the site table
    for name, bound in sites.items():
        rows = global_window_input_rows(qs[name](spark, SF_SMOKE))
        for desc, n in rows:
            assert n <= bound, (
                f"{name}: global window saw {n} rows > documented bound "
                f"{bound}\n{desc[:200]}"
            )


def test_round7_new_ops_plan_posture(spark):
    """Plan gates for the round-7 operators:

    - longest-run / winnowing / run-removal: pair generation is the
      grouped in-group expansion — NO join of two corpus-sized anchor
      relations (the measured 45.6 s sf10 killer), no cartesian.
    - ACF: exactly ONE corpus-sized scan (events); the lag join runs
      on the calendar-bounded daily table.
    - LPA: the per-round vote argmax stays on HashAggregate — no
      SortAggregate, no rank window over vote rows.
    - k-anonymity: one scan, aggregates only, codegen on.
    """
    from end_to_end_aws_data_pipeline_spark.ingest.queries import (
        q_etl_k_anonymity,
    )
    from end_to_end_aws_data_pipeline_spark.operators.dedup import (
        q_dedup_longest_run,
        q_dedup_winnowing,
    )
    from end_to_end_aws_data_pipeline_spark.operators.graph import (
        q_graph_lpa_communities,
    )
    from end_to_end_aws_data_pipeline_spark.operators.sweep import (
        q_timeseries_acf,
    )

    for fn in (q_dedup_longest_run, q_dedup_winnowing):
        plan = physical_plan(fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan
        # ONE scan of documents: the self-join form had two
        assert plan.count("Scan parquet") == 1, fn.__name__

    # ACF: the calendar-bounded daily table is persisted and every
    # downstream consumer (stats, deviations, denominator, both lag
    # sides) reads the CACHE — a cached child's description still
    # embeds the parquet-scan text, so gate on InMemoryTableScan
    # coverage, not raw scan-string counts: the corpus materializes
    # the daily pass exactly once.
    acf = physical_plan(q_timeseries_acf(spark, SF_SMOKE))
    assert acf.count("InMemoryTableScan") >= 4
    assert "CartesianProduct" not in acf.replace(
        "BroadcastNestedLoopJoin", ""
    )  # the 5-row lag spine may broadcast-nest; never a shuffled cartesian

    lpa = physical_plan(q_graph_lpa_communities(spark, SF_SMOKE))
    assert "SortAggregate" not in lpa

    kan = q_etl_k_anonymity(spark, SF_SMOKE)
    pk = physical_plan(kan)
    assert pk.count("Scan parquet") == 1
    assert "HashAggregate" in pk and "Python" not in pk
    assert has_wholestage_codegen(kan)


def test_round8_new_ops_plan_posture(spark):
    """Plan gates for the three round-7 post-record queries (judge
    finding: they shipped with no posture gates):

    - histogram: the adaptive-bounds probe is a separate eager 1-row
      job, so the RETURNED plan is one parquet scan + one combinable
      HashAggregate pass — no sort, no Python, codegen on.
    - streaks: per-user windows only (no unpartitioned WindowExec) and
      ONE parquet scan — n_streaks rides a same-partition count window
      instead of a groupBy+join that re-executed the corpus pass.
    - ztest: one parquet scan chained through combinable aggregates to
      a 1-row result; no window, no sort aggregate, no Python.
    """
    from end_to_end_aws_data_pipeline_spark.operators.extras import (
        q_agg_conversion_ztest,
    )
    from end_to_end_aws_data_pipeline_spark.operators.percentiles import (
        q_agg_histogram,
    )
    from tests.plan_checks import global_window_input_rows
    from end_to_end_aws_data_pipeline_spark.operators.sweep import (
        q_window_streaks,
    )

    hist = q_agg_histogram(spark, SF_SMOKE)
    p = physical_plan(hist)
    assert p.count("Scan parquet") == 1
    assert "HashAggregate" in p and "SortAggregate" not in p
    assert "Python" not in p
    assert has_wholestage_codegen(hist)

    streaks = q_window_streaks(spark, SF_SMOKE)
    p = physical_plan(streaks)
    assert p.count("Scan parquet") == 1
    assert "SortAggregate" not in p and "Python" not in p
    assert global_window_input_rows(streaks) == []

    zt = q_agg_conversion_ztest(spark, SF_SMOKE)
    p = physical_plan(zt)
    assert p.count("Scan parquet") == 1
    assert "HashAggregate" in p and "SortAggregate" not in p
    assert "Python" not in p and "Window" not in p
    assert zt.count() == 1


def test_round8_sketch_and_segment_ops_plan_posture(spark):
    """Plan gates for the round-8 operators:

    - KLL sketch: the two unpartitioned merge windows are
      construction-bounded (covered in test_global_windows_are_bounded)
      and the corpus never crosses a SortAggregate; the returned audit
      plan is conditional counts on ONE parquet scan.
    - n-gram decontamination: eval digests broadcast (BroadcastHashJoin,
      never a shuffled cartesian), no Python in the hot path.
    - RFM: the stacked rank pass partitions its windows by
      (metric, bucket) — no unpartitioned WindowExec anywhere — and
      quartile pivoting stays on HashAggregate.
    """
    from end_to_end_aws_data_pipeline_spark.operators.dedup import (
        q_contamination_ngram,
    )
    from end_to_end_aws_data_pipeline_spark.operators.percentiles import (
        q_agg_kll_quantiles,
    )
    from end_to_end_aws_data_pipeline_spark.operators.sweep import (
        q_agg_rfm_segments,
    )
    from tests.plan_checks import global_window_input_rows

    kll = q_agg_kll_quantiles(spark, SF_SMOKE)
    p = physical_plan(kll)
    assert "SortAggregate" not in p and "CartesianProduct" not in p
    # audit = ONE corpus scan through conditional counts; the sketch
    # lineage contributes the (cached) l1 side
    assert p.count("Scan parquet") <= 2

    con = q_contamination_ngram(spark, SF_SMOKE)
    p = physical_plan(con)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "Python" not in p
    assert global_window_input_rows(con) == []

    rfm = q_agg_rfm_segments(spark, SF_SMOKE)
    p = physical_plan(rfm)
    assert "SortAggregate" not in p and "CartesianProduct" not in p
    assert global_window_input_rows(rfm) == []


def test_round9_new_ops_plan_posture(spark):
    """Plan gates for the round-9 batch operators:

    - pattern match (MATCH_RECOGNIZE composition): every window
      partitions by user_id — no unpartitioned WindowExec — and the
      whole pipeline reads the events table ONCE (the three window
      passes and the run aggregate reuse one user_id exchange).
    - link prediction (bipartite resource allocation): wedge expansion
      is map-side array algebra (no self-join — no CartesianProduct,
      exactly the lineitem + orders scans), the pair aggregate is a
      HashAggregate on the encoded long, and the top-k is TakeOrdered,
      never a global sort.
    """
    from end_to_end_aws_data_pipeline_spark.operators.graph import (
        q_graph_link_prediction,
    )
    from end_to_end_aws_data_pipeline_spark.operators.sweep import (
        q_events_pattern_match,
    )
    from tests.plan_checks import global_window_input_rows

    pm = q_events_pattern_match(spark, SF_SMOKE)
    p = physical_plan(pm)
    assert p.count("Scan parquet") == 1
    assert "Python" not in p
    assert global_window_input_rows(pm) == []

    lp = q_graph_link_prediction(spark, SF_SMOKE)
    p = physical_plan(lp)
    assert p.count("Scan parquet") == 2  # lineitem + orders, once each
    assert "CartesianProduct" not in p and "Python" not in p
    assert uses_take_ordered(lp)
    assert "Window" not in p


def test_mv_join_delta_plan_posture(spark):
    """The four delta-decomposition terms each push their watermark
    predicate to the scan (no term reads a row outside its side of the
    split) and no term degenerates to a cartesian product."""
    from end_to_end_aws_data_pipeline_spark.ingest.queries import (
        q_etl_mv_join_delta,
    )

    mv = q_etl_mv_join_delta(spark, SF_SMOKE)
    p = physical_plan(mv)
    assert "CartesianProduct" not in p and "Python" not in p
    assert has_pushed_filters(mv, "o_orderdate")
    assert has_pushed_filters(mv, "l_shipdate")


def test_round12_plan_posture(spark):
    """New round-12 ops keep the contract: HITS half-steps read
    checkpointed leaves (no nested analysis blowup) with the score
    vector broadcast in the small regime and no cartesian anywhere;
    the two-level quantizer's Python is exactly ONE Arrow-batched
    assignment pass with the query set broadcast; alternation adds an
    IN predicate, not a shuffle (single user_id exchange, no Python)."""
    from end_to_end_aws_data_pipeline_spark.operators.graph import (
        q_graph_hits,
    )
    from end_to_end_aws_data_pipeline_spark.operators.similarity import (
        q_ann_ivf_twolevel,
    )
    from end_to_end_aws_data_pipeline_spark.operators.sweep import (
        q_events_pattern_alternation,
    )

    p = physical_plan(q_graph_hits(spark, SF_SMOKE))
    assert "CartesianProduct" not in p and "Python" not in p
    # lineage truncated: the returned top-k plan reads checkpointed
    # RDD leaves — the contribution joins already executed eagerly
    # inside the half-step checkpoints, so the final plan must NOT
    # contain the nested join tree (that was the 20-s-warm-analysis
    # failure mode)
    assert "ExistingRDD" in p or "LocalTableScan" in p
    assert "Scan parquet" not in p  # no re-derivation from the corpus

    p = physical_plan(q_ann_ivf_twolevel(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert p.count("MapInArrow") == 1
    assert "BroadcastHashJoin" in p

    pa = q_events_pattern_alternation(spark, SF_SMOKE)
    p = physical_plan(pa)
    assert p.count("Scan parquet") == 1
    assert "Python" not in p
    assert p.count("Exchange hashpartitioning(user_id") <= 1

    from end_to_end_aws_data_pipeline_spark.cache import release_all

    release_all()
