"""Segmented-scan analytics: global order statistics and running
aggregates WITHOUT corpus-sized single-partition windows, plus the
co-occurrence / drift / change-detection queries built on them.

The shared idea is the two-level distributed scan (the parallel-prefix
recipe): partition the global order into bounded segments (time
buckets, value bands), run the window locally per segment, reduce each
segment to one row, prefix-combine that bounded totals table, and
broadcast the carries back. Three monoids are instantiated here —
SUM over time (q_interval_concurrency), COUNT over value order
(segmented_global_rank → deciles, robust stats, PSI boundaries), and
WEIGHT over value order (segmented_running_weight → weighted median,
PPS sampling). The sf1→sf10 pairings in SCALING.md document the two
scale bugs this family caught (fixed segment width; multiply-consumed
lazy rank passes) and their fixes.

The module also holds families that share its tables and exact
arithmetic but not the segmented scan:
- Holt and Holt-Winters forecasting, global and per key
  (q_timeseries_holt*), and the day-of-week STL decomposition;
- the three batch row-pattern queries over operators/rowpattern.py
  (q_events_pattern_*);
- autocorrelation and cross-correlation (q_timeseries_acf,
  q_timeseries_ccf);
- retention cohorts, funnel latency, top paths and streaks
  (q_events_retention_cohorts, q_funnel_latency, q_events_top_paths,
  q_window_streaks);
- RFM segmentation (q_agg_rfm_segments);
- table-maintenance audits: skew profile, z-order stats, Merkle diff
  and compaction plan (q_etl_skew_profile, q_etl_zorder_stats,
  q_etl_merkle_diff, q_etl_compaction_plan).

Everything is DataFrame-only, integer-exact, and DuckDB-oracle-backed
(SURVEY.md §2.B relational surface).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.cache import persisted
from end_to_end_aws_data_pipeline_spark.catalog import local_frame, table
from end_to_end_aws_data_pipeline_spark.functions.aggs import l2fp
from end_to_end_aws_data_pipeline_spark.operators.rowpattern import (
    ALTERNATION,
    MATCH,
    QUANTIFIED,
    pattern_runs,
)
from end_to_end_aws_data_pipeline_spark.registry import register

# ---------------------------------------------------------------------------
# global interval concurrency (max concurrent sessions per day)
# ---------------------------------------------------------------------------

_GAP_MIN = 30

_CONC_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL {_GAP_MIN} MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM ordered
), sessions AS (
  SELECT user_id, session_id, min(ts) AS s, max(ts) AS e
  FROM numbered GROUP BY user_id, session_id
), pts AS (
  SELECT s AS ts, CAST(1 AS BIGINT) AS delta, user_id FROM sessions
  UNION ALL
  SELECT e AS ts, CAST(-1 AS BIGINT) AS delta, user_id FROM sessions
), swept AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         sum(delta) OVER (
           ORDER BY ts, delta DESC, user_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
  FROM pts
)
SELECT day,
       CAST(max(conc) AS BIGINT) AS max_concurrent,
       CAST(count(*) AS BIGINT) AS n_points
FROM swept GROUP BY day
"""


@register("q_interval_concurrency", oracle=_CONC_ORACLE)
def q_interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency: how many user sessions are simultaneously open,
    reported as the per-day maximum — the capacity-planning query over
    any interval table (sessions, calls, rentals, connections).

    Sweep line: every session contributes (+1 at start, -1 at end);
    the running sum of deltas in global time order IS the concurrency
    curve, and its per-day max is the answer. The oracle runs the
    textbook single global window. A 100 TB engine cannot: a global
    ``ORDER BY ts`` running sum is one corpus-sized partition. Instead
    this uses a **segmented prefix sum** — the distributed scan pattern:

      1. local pass: running sum *within* each day partition
         (shuffle key = day, the natural time segment);
      2. a segment-totals table (one row per day — bounded by calendar
         span, never by data volume) gets the cross-segment carry via a
         window over days;
      3. broadcast the carries back; concurrency = carry + local sum.

    Tie order (ts, delta DESC, user_id) is total and identical in both
    engines, so the max is deterministic; ``delta DESC`` makes overlap
    inclusive (a session starting exactly when another ends counts as
    concurrent).
    """
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    sessions = (
        e.withColumn(
            "new_session",
            F.when(gap.isNull() | (gap > _GAP_MIN * 60), 1).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("new_session").over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    pts = sessions.select(
        F.col("s").alias("ts"), F.lit(1).cast("long").alias("delta"), "user_id"
    ).unionAll(
        sessions.select(
            F.col("e").alias("ts"),
            F.lit(-1).cast("long").alias("delta"),
            "user_id",
        )
    )
    # ISO string day: hash-identical across engines (date objects are not)
    pts = pts.withColumn("day", F.col("ts").cast("date").cast("string"))
    # (1) within-segment running sum. Segment = HOUR, not day: the
    #     sf1→sf10 pairing measured the day version at 13× for 10×
    #     data — a fixed calendar span means per-day partitions grow
    #     with event density and the "local" sort re-becomes global.
    #     Hours keep the carry table calendar-bounded (720 rows here)
    #     while cutting per-segment sort input 24×; a denser corpus
    #     would drop to minutes the same way.
    pts = pts.withColumn("hour", F.date_trunc("hour", F.col("ts")))
    wd = W.partitionBy("hour").orderBy(
        "ts", F.col("delta").desc(), "user_id"
    ).rowsBetween(W.unboundedPreceding, W.currentRow)
    local = pts.withColumn("local_cum", F.sum("delta").over(wd))
    # (2) segment totals + exclusive carry: one row per hour, so the
    #     unpartitioned window below (WindowExec's warning) is bounded
    #     by the calendar span (720 rows here) — never by row count
    carry = (
        pts.groupBy("hour")
        .agg(F.sum("delta").alias("hour_total"))
        .withColumn(
            "carry",
            F.coalesce(
                F.sum("hour_total").over(
                    W.orderBy("hour").rowsBetween(
                        W.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .drop("hour_total")
    )
    # (3) carries table is segment-sized → broadcast join back
    swept = local.join(F.broadcast(carry), "hour").withColumn(
        "conc", F.col("carry") + F.col("local_cum")
    )
    return swept.groupBy("day").agg(
        F.max("conc").cast("long").alias("max_concurrent"),
        F.count(F.lit(1)).cast("long").alias("n_points"),
    )


# ---------------------------------------------------------------------------
# market-basket pair affinity (association rules: support + confidence)
# ---------------------------------------------------------------------------

_MIN_PAIR_SUPPORT = 3

_BASKET_ORACLE = f"""
WITH b AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), item AS (
  SELECT l_partkey, count(*) AS cnt FROM b GROUP BY l_partkey
), pair AS (
  SELECT p1.l_partkey AS part_a, p2.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS pair_count
  FROM b p1 JOIN b p2
    ON p1.l_orderkey = p2.l_orderkey AND p1.l_partkey < p2.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {_MIN_PAIR_SUPPORT}
)
SELECT pair.part_a, pair.part_b, pair.pair_count,
       CAST(ia.cnt AS BIGINT) AS cnt_a,
       CAST(ib.cnt AS BIGINT) AS cnt_b,
       CAST(pair.pair_count * 1000000 // ia.cnt AS BIGINT) AS conf_ab_ppm,
       CAST(pair.pair_count * 1000000 // ib.cnt AS BIGINT) AS conf_ba_ppm
FROM pair
JOIN item ia ON ia.l_partkey = pair.part_a
JOIN item ib ON ib.l_partkey = pair.part_b
"""


@register("q_basket_affinity", oracle=_BASKET_ORACLE)
def q_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: for every part pair
    co-bought in ≥3 orders, the support count and both
    directed confidences P(b|a), P(a|b) in exact parts-per-million
    (integer division — no float drift across engines; lift is a
    downstream ratio of the published integers).

    Scale shape: the pair generation is a *self equi-join on the basket
    key* — fan-out per order is C(basket,2) ≈ 6 for TPC-H's ~4-line
    orders, so the blow-up is bounded by basket size, never corpus
    size (a 100 TB run with pathological mega-baskets would cap lines
    per basket first). One shuffle on l_orderkey makes the pairs, one
    on the pair makes supports; the per-item counts join afterwards on
    the (already support-pruned) pair table. ``pair_count * 1e6`` stays
    far inside int64 even at 10^9 baskets.
    """
    li = table(spark, sf_dir, "lineitem")
    b = li.select("l_orderkey", "l_partkey").distinct()
    item = b.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    p1 = b.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    p2 = b.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pair = (
        p1.join(p2, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_count"))
        .filter(F.col("pair_count") >= _MIN_PAIR_SUPPORT)
    )
    ia = item.select(
        F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a")
    )
    ib = item.select(
        F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b")
    )
    return (
        pair.join(ia, "part_a")
        .join(ib, "part_b")
        .select(
            "part_a",
            "part_b",
            "pair_count",
            F.col("cnt_a").cast("long").alias("cnt_a"),
            F.col("cnt_b").cast("long").alias("cnt_b"),
            F.expr("pair_count * 1000000 div cnt_a").alias("conf_ab_ppm"),
            F.expr("pair_count * 1000000 div cnt_b").alias("conf_ba_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# rolling 7-day distinct users (exact, no COUNT(DISTINCT) OVER)
# ---------------------------------------------------------------------------

_ROLL_DAYS = 7

_ROLL_ORACLE = f"""
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
), days AS (
  SELECT DISTINCT day FROM du
)
SELECT CAST(d.day AS VARCHAR) AS day,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active_7d
FROM days d JOIN du e
  ON e.day BETWEEN d.day - {_ROLL_DAYS - 1} AND d.day
GROUP BY d.day
"""


@register("q_window_rolling_distinct", oracle=_ROLL_ORACLE)
def q_window_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day active users per day, EXACT — the retention
    dashboard's workhorse. SQL engines write ``count(DISTINCT x) OVER
    (RANGE 6 PRECEDING)``; Spark's window exec (and most MPP engines)
    refuses DISTINCT in frames, and the textbook workaround — a range
    self-join per day — is what the oracle runs.

    Distributed shape: collapse to distinct (day, user) pairs first
    (the big shuffle, combinable), then *explode each pair to the ≤7
    target days it can influence* and re-distinct — fan-out is the
    window length (a constant), never the corpus, and the final count
    per day is a plain combinable aggregate. This beats the join
    formulation at scale because the fan-out join's build side (the
    day list) never has to broadcast or replicate the pair table
    per-day; it's the standard "explode to affected windows" trick
    used for sliding-window aggs in both batch and streaming.
    """
    e = table(spark, sf_dir, "events")
    du = e.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    days = du.select("day").distinct()
    target = du.select(
        F.explode(
            F.sequence(
                F.col("day"), F.date_add(F.col("day"), _ROLL_DAYS - 1)
            )
        ).alias("tday"),
        "user_id",
    )
    # keep only observed days (mirrors the oracle's days CTE); the day
    # list is calendar-bounded → broadcast
    return (
        target.join(
            F.broadcast(days.select(F.col("day").alias("tday"))), "tday"
        )
        .distinct()
        .groupBy(F.col("tday").cast("string").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_active_7d"))
    )


# ---------------------------------------------------------------------------
# library: segmented global rank (total order without a total sort)
# ---------------------------------------------------------------------------


def segmented_global_rank(
    df: DataFrame, value_col: str, tie_cols: list, band: int | None = None
) -> DataFrame:
    """Exact global ``row_number() OVER (ORDER BY value, *ties)`` for
    every row, without a single-partition sort: rank locally within
    fixed-width value bands, prefix-sum the band populations (a table
    bounded by value-domain/band, never by row count) into starting
    offsets, and add. Returns the input plus ``rk`` (1-based global
    rank) and ``n`` (total rows). The same segmented-scan monoid trick
    as the prefix sum in q_interval_concurrency, with COUNT.

    ``band=None`` sizes the band from the measured value span to give
    ~4096 buckets. That guard exists because a FIXED band width is a
    measured scale bug: the sf1→sf10 pairing caught the deviation pass
    of q_agg_robust_stats at 11.3× for 10× data — absolute deviations
    concentrate near zero, so a $100 band mapped most of the corpus
    into a handful of buckets and the "local" sort became global. The
    span probe is a 1-row exact aggregate (min/max — deterministic),
    and the rank result never depends on the band choice.
    """
    if band is None:
        lo, hi = df.agg(
            F.min(value_col), F.max(value_col)
        ).first()
        span = int(hi - lo) if hi is not None else 0
        band = span // 4096 + 1
    o = df.withColumn("bucket", F.expr(f"{value_col} div {band}"))
    local = o.withColumn(
        "local_rn",
        F.row_number().over(
            W.partitionBy("bucket").orderBy(value_col, *tie_cols)
        ),
    )
    # band-population prefix sum: input bounded by the number of bands
    offsets = (
        o.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("bn"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("bn").over(
                    W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .drop("bn")
    )
    n_total = o.groupBy().agg(F.count(F.lit(1)).alias("n"))
    return (
        local.join(F.broadcast(offsets), "bucket")
        .crossJoin(F.broadcast(n_total))
        .withColumn("rk", F.col("offset") + F.col("local_rn"))
        .drop("bucket", "local_rn", "offset")
    )


def segmented_group_rank(
    df: DataFrame,
    grp_col: str,
    value_col: str,
    tie_cols: list,
    band: int | None = None,
    bucket_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Exact ``row_number() OVER (PARTITION BY grp ORDER BY value,
    *ties)`` without group-sized window partitions — the per-group
    sibling of :func:`segmented_global_rank` (a calendar-month group of
    a 100 TB table is still ~1 TB; partitioning the window by the group
    alone recreates the single-partition sort, one group at a time).
    Rank locally within (group, value-band), prefix-sum each group's
    band populations into starting offsets (the offsets window runs per
    group over ≤ span/band rows — domain-bounded, never row-bounded),
    and add.

    Returns ``(ranked, sizes)``: the input plus ``rk`` (1-based rank
    within its group) and ``n_g`` (group size), and a bounded
    ``(grp, n_g)`` side table.

    The default band targets ~4096 (group, band) CELLS IN TOTAL —
    span·G/4096, not span/4096 — because the window partition count is
    groups × bands: reusing the global sibling's band here measured
    5.0 s vs 1.2 s at sf0.1 (83 groups × 4096 bands = 340k near-empty
    window partitions, pure per-partition overhead). Cell population
    stays ≈ N/max(G, 4096) either way, so the local sorts remain
    bounded; explicit ``band`` callers should scale by their group
    count likewise.

    Unlike the global sibling (whose offsets window feeds the join
    lazily), the cell populations here are COLLECTED and the offset
    table rebuilt as literals: the offsets relation derives from the
    same corpus-sized window as the probe side, and physical/AQE
    exchange reuse does NOT bridge a BroadcastExchange subtree — the
    in-plan form re-ran the full scan+shuffle+sort inside the
    broadcast build (52 s vs ~20 s at sf10, 2.2 s vs 1.3 s at sf0.1).
    One bounded collect (≤ 4096 + G rows by the band rule — the
    binned-percentile driver-state precedent) buys a single corpus
    window pass.

    ``bucket_col`` overrides the banding entirely: the caller provides
    its own bounded, value-monotonic-within-group bucket column (e.g.
    per-metric normalized buckets when stacked groups have wildly
    different value domains — a shared band would collapse the
    narrow-domain group into one cell).
    """
    if bucket_col is not None:
        o = df.withColumnRenamed(bucket_col, "bucket")
    else:
        if band is None:
            lo, hi, g_cnt = df.agg(
                F.min(value_col), F.max(value_col), F.countDistinct(grp_col)
            ).first()
            span = int(hi - lo) if hi is not None else 0
            band = span * max(int(g_cnt), 1) // 4096 + 1
        o = df.withColumn("bucket", F.expr(f"{value_col} div {band}"))
    cell_rows = (
        o.groupBy(grp_col, "bucket")
        .agg(F.count(F.lit(1)).alias("bn"))
        .collect()
    )
    by_g: dict = {}
    for r in cell_rows:
        by_g.setdefault(r[grp_col], []).append((r["bucket"], r["bn"]))
    off_rows, size_rows = [], []
    for g, cell_list in sorted(by_g.items()):
        cell_list.sort()
        n_g = sum(c for _, c in cell_list)
        size_rows.append((g, n_g))
        acc = 0
        for b, c in cell_list:
            off_rows.append((g, b, acc, n_g))
            acc += c
    g_type = df.schema[grp_col].dataType.simpleString()
    offsets = local_frame(
        df.sparkSession, off_rows,
        f"{grp_col} {g_type}, bucket long, offset long, n_g long",
    )
    sizes = local_frame(
        df.sparkSession, size_rows, f"{grp_col} {g_type}, n_g long"
    )
    local = o.withColumn(
        "local_rn",
        F.row_number().over(
            W.partitionBy(grp_col, "bucket").orderBy(value_col, *tie_cols)
        ),
    )
    ranked = (
        local.join(F.broadcast(offsets), [grp_col, "bucket"])
        .withColumn("rk", F.col("offset") + F.col("local_rn"))
        .drop("bucket", "local_rn", "offset")
    )
    return ranked, sizes


# ---------------------------------------------------------------------------
# global equi-depth deciles via bucketed two-pass global rank
# ---------------------------------------------------------------------------

_DECILE_BAND_CENTS = 10_000  # $100 value bands for the local pass

_DECILE_ORACLE = """
WITH o AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), ranked AS (
  SELECT o_orderkey, cents,
         row_number() OVER (ORDER BY cents, o_orderkey) AS rk,
         count(*) OVER () AS n
  FROM o
)
SELECT CAST((rk - 1) * 10 // n AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
       CAST(min(cents) AS BIGINT) AS min_cents,
       CAST(max(cents) AS BIGINT) AS max_cents
FROM ranked GROUP BY 1
"""


@register("q_window_global_decile", oracle=_DECILE_ORACLE)
def q_window_global_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth deciles of ALL orders by value: every row gets its
    exact global rank, rows land in ten equal-population bins, and each
    bin reports population, key checksum and value bounds — the
    binning step behind exact percentile assignment, stratified
    training splits, and monotone score calibration.

    The oracle's ``row_number() OVER (ORDER BY …)`` is a total sort
    into ONE partition — the canonical scale-killer. Here the global
    rank is assembled by the same segmented-scan recipe as
    q_interval_concurrency, with COUNT as the monoid: value-band
    buckets shuffle-partition the data, row_number ranks *within* a
    band, a band-totals table (rows = value-domain/band-width, never
    corpus-sized) provides each band's starting offset by prefix sum,
    and global_rank = offset + local_rank, exactly. Tie order
    (cents, orderkey) is total, so ranks — and therefore decile
    boundaries — are bit-identical to the oracle's single sort.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    ranked = segmented_global_rank(
        o, "cents", ["o_orderkey"], _DECILE_BAND_CENTS
    )
    return ranked.groupBy(
        F.expr("(rk - 1) * 10 div n").alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
    )


# ---------------------------------------------------------------------------
# robust statistics: exact median, MAD, 5% trimmed mean — one query
# ---------------------------------------------------------------------------

_TRIM_PCT = 5  # trim this % of rows from EACH end

_ROBUST_ORACLE = f"""
WITH o AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), r1 AS (
  SELECT cents, o_orderkey,
         row_number() OVER (ORDER BY cents, o_orderkey) AS rk,
         count(*) OVER () AS n
  FROM o
), med AS (
  SELECT cents AS median_cents FROM r1 WHERE rk = (n + 1) // 2
), dev AS (
  SELECT abs(o.cents - m.median_cents) AS d, o.o_orderkey
  FROM o, med m
), r2 AS (
  SELECT d, row_number() OVER (ORDER BY d, o_orderkey) AS rk,
         count(*) OVER () AS n
  FROM dev
), mad AS (
  SELECT d AS mad_cents FROM r2 WHERE rk = (n + 1) // 2
), trimmed AS (
  SELECT CAST(count(*) AS BIGINT) AS n_kept,
         CAST(sum(cents) AS BIGINT) AS sum_cents
  FROM r1
  WHERE rk > n * {_TRIM_PCT} // 100 AND rk <= n - n * {_TRIM_PCT} // 100
)
SELECT CAST(m.median_cents AS BIGINT) AS median_cents,
       CAST(a.mad_cents AS BIGINT) AS mad_cents,
       t.n_kept,
       t.sum_cents,
       CAST(t.sum_cents * 100 // t.n_kept AS BIGINT) AS trimmed_mean_centi
FROM med m, mad a, trimmed t
"""


@register("q_agg_robust_stats", oracle=_ROBUST_ORACLE)
def q_agg_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-robust location/scale in one result row: the exact lower
    median, the median absolute deviation (MAD — the robust sigma), and
    the 5%-per-side trimmed mean of order values, all integer-exact.

    Every statistic needs an order statistic of the FULL dataset — the
    regime where ``median()``/``quantile_disc`` in a warehouse is one
    giant sort. Both passes (values, then absolute deviations from the
    median) run through ``segmented_global_rank``: band-local
    row_number + band-offset prefix sum, so nothing ever sorts in one
    partition, and rank selection (``rk == (n+1)//2``) and the trim
    band filter are exact row predicates, not approximations. The
    median is a 1-row broadcast into the deviation pass. Contrast with
    q_agg_percentiles_binned (iterative bin refinement, O(log) passes,
    no per-row rank): two fixed passes here buy EVERY row's rank, which
    the trim filter then consumes — the right trade when the query
    needs row-level order statistics, not just boundary values.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    # Three measured sf1→sf10 lessons baked in (SCALING.md): adaptive
    # bands (the deviation distribution peaks at zero, so a fixed band
    # collapses the "local" sort into one bucket); consume each rank
    # pass EXACTLY ONCE — median and both trim statistics fold into a
    # single conditional aggregate over r1, instead of three filters
    # that each re-execute the pass; and persist only that 1-ROW
    # result, not the 15M-row ranked relation (caching the full ranked
    # table benched at ~4x the cost of the rank itself).
    r1 = segmented_global_rank(o, "cents", ["o_orderkey"])
    in_trim = F.expr(
        f"rk > n * {_TRIM_PCT} div 100 AND "
        f"rk <= n - n * {_TRIM_PCT} div 100"
    )
    stats1 = persisted(
        r1.agg(
            F.max(
                F.when(F.expr("rk = (n + 1) div 2"), F.col("cents"))
            ).alias("median_cents"),
            F.sum(F.when(in_trim, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(in_trim, F.col("cents")).otherwise(0))
            .cast("long")
            .alias("sum_cents"),
        )
    )
    # second pass: deviations are a pure map over the scan plus the
    # broadcast 1-row stats — nothing upstream re-executes
    dev = o.crossJoin(F.broadcast(stats1)).select(
        F.abs(F.col("cents") - F.col("median_cents")).alias("d"),
        "o_orderkey",
    )
    r2 = segmented_global_rank(dev, "d", ["o_orderkey"])
    mad = r2.filter(F.expr("rk = (n + 1) div 2")).select(
        F.col("d").alias("mad_cents")
    )
    return stats1.crossJoin(mad).select(
        "median_cents",
        "mad_cents",
        "n_kept",
        "sum_cents",
        F.expr("sum_cents * 100 div n_kept").alias("trimmed_mean_centi"),
    )


# ---------------------------------------------------------------------------
# library: segmented running weight (cumulative sum in a value order)
# ---------------------------------------------------------------------------


def segmented_running_weight(
    df: DataFrame,
    weight_col: str,
    order_col: str,
    tie_cols: list,
) -> DataFrame:
    """Exact inclusive ``sum(w) OVER (ORDER BY order_col, *ties)`` for
    every row plus the grand total, without a single-partition sort —
    the SUM-monoid sibling of segmented_global_rank (band-local running
    sum, band-totals prefix offsets, broadcast join back). Adds ``cw``
    (inclusive cumulative weight) and ``tw`` (total). The band splits
    the measured order-column span into ~4096 buckets (see
    segmented_global_rank for why adaptive, not fixed).
    """
    lo, hi = df.agg(F.min(order_col), F.max(order_col)).first()
    span = int(hi - lo) if hi is not None else 0
    band = span // 4096 + 1
    o = df.withColumn("bucket", F.expr(f"{order_col} div {band}"))
    local = o.withColumn(
        "local_cw",
        F.sum(weight_col).over(
            W.partitionBy("bucket")
            .orderBy(order_col, *tie_cols)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    offsets = (
        o.groupBy("bucket")
        .agg(F.sum(weight_col).alias("bw"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("bw").over(
                    W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .drop("bw")
    )
    tw = o.groupBy().agg(F.sum(weight_col).alias("tw"))
    return (
        local.join(F.broadcast(offsets), "bucket")
        .crossJoin(F.broadcast(tw))
        .withColumn("cw", F.col("offset") + F.col("local_cw"))
        .drop("bucket", "local_cw", "offset")
    )


# ---------------------------------------------------------------------------
# weighted median (segmented cumulative weight — third monoid use)
# ---------------------------------------------------------------------------

_WMED_ORACLE = """
WITH li AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(l_quantity AS BIGINT) AS w,
         l_orderkey, l_linenumber
  FROM lineitem
), scanned AS (
  SELECT cents, w,
         sum(w) OVER (
           ORDER BY cents, l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(w) OVER () AS tw
  FROM li
)
SELECT CAST(cents AS BIGINT) AS weighted_median_cents,
       CAST(tw AS BIGINT) AS total_weight
FROM scanned
WHERE cw >= (tw + 1) // 2 AND cw - w < (tw + 1) // 2
"""


@register("q_agg_weighted_median", oracle=_WMED_ORACLE)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median line price: the value at which half the
    total QUANTITY sits on either side — the inventory-weighted price
    point, not the line-count one.

    Third monoid for the segmented scan: a cumulative WEIGHT in value
    order (concurrency summed deltas in time order; the rank queries
    counted rows). The crossing row — first cumulative weight ≥
    ceil(W/2) — is found with the same band-local window + band-totals
    prefix sum; the oracle's single ``sum(w) OVER (ORDER BY …)`` is the
    one-partition formulation. The crossing predicate
    ``cw ≥ t AND cw - w < t`` touches only locally-available columns,
    so no second pass.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    scanned = segmented_running_weight(
        li, "w", "cents", ["l_orderkey", "l_linenumber"]
    )
    return scanned.filter(
        F.expr("cw >= (tw + 1) div 2 AND cw - w < (tw + 1) div 2")
    ).select(
        F.col("cents").alias("weighted_median_cents"),
        F.col("tw").cast("long").alias("total_weight"),
    )


# ---------------------------------------------------------------------------
# PSI drift between two periods (population stability index, fixed point)
# ---------------------------------------------------------------------------

_PSI_SPLIT = "2024-01-16"  # period A: days before; period B: from here on


def _psi_oracle() -> str:
    la = l2fp("pa_ppm + 1").replace("{div}", "//")
    lb = l2fp("pb_ppm + 1").replace("{div}", "//")
    return f"""
WITH v AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS cents,
         CASE WHEN ts < TIMESTAMP '{_PSI_SPLIT}' THEN 'a' ELSE 'b' END AS per,
         event_id
  FROM events WHERE value IS NOT NULL
), a AS (SELECT cents, event_id FROM v WHERE per = 'a'),
ra AS (
  SELECT cents, row_number() OVER (ORDER BY cents, event_id) AS rk,
         count(*) OVER () AS n
  FROM a
), bnds AS (
  SELECT cents AS b FROM ra WHERE rk IN (
    n * 1 // 10, n * 2 // 10, n * 3 // 10, n * 4 // 10,
    n * 5 // 10, n * 6 // 10, n * 7 // 10, n * 8 // 10, n * 9 // 10)
), binned AS (
  SELECT v.per, v.event_id,
         CAST(1 + sum(CASE WHEN v.cents > bnds.b THEN 1 ELSE 0 END)
              AS BIGINT) AS bin
  FROM v CROSS JOIN bnds
  GROUP BY v.per, v.event_id, v.cents
), cnt AS (
  SELECT bin,
         CAST(sum(CASE WHEN per = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN per = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM binned GROUP BY bin
), tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
  FROM cnt
), p AS (
  SELECT bin, ca, cb,
         CAST(ca * 1000000 // na AS BIGINT) AS pa_ppm,
         CAST(cb * 1000000 // nb AS BIGINT) AS pb_ppm
  FROM cnt, tot
)
SELECT bin, pa_ppm, pb_ppm,
       CAST((pa_ppm - pb_ppm) * ({la} - {lb}) AS BIGINT) AS psi_contrib_fp
FROM p
"""


@register("q_etl_psi_drift", oracle=_psi_oracle())
def q_etl_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two periods of the event
    value distribution — THE production drift monitor (scorecard /
    feature drift): decile bins from the REFERENCE period, both
    periods' populations re-binned, contribution (pa-pb)·ln(pa/pb) per
    bin. Published in exact integers: ppm shares, and the log ratio in
    the engine-wide 4-fractional-bit log2 (psi_fp ≈ psi · 16e6/ln2·…;
    thresholds calibrate on the same fixed-point scale).

    Shape: reference decile boundaries come from the segmented global
    rank of period A, collected as ≤9 SCALARS (a bounded driver-side
    collect — boundary count is fixed by the bin design, never by the
    corpus) and folded into a static codegen expression, so binning is
    a pure map: no fan-out join, no re-group on a corpus-sized key.
    The only full shuffle in the whole query is the rank pass; the bin
    histogram aggregate ships ≤10 rows per task.
    """
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = e.select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.when(
            F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp"), "a"
        )
        .otherwise("b")
        .alias("per"),
        "event_id",
    )
    a = v.filter(F.col("per") == "a").select("cents", "event_id")
    ra = segmented_global_rank(a, "cents", ["event_id"])
    bvals = sorted(
        r["b"]
        for r in ra.filter(
            F.expr(
                "rk IN (n*1 div 10, n*2 div 10, n*3 div 10, n*4 div 10,"
                " n*5 div 10, n*6 div 10, n*7 div 10, n*8 div 10, n*9 div 10)"
            )
        )
        .select(F.col("cents").alias("b"))
        .collect()
    )
    bin_expr = F.lit(1)
    for b in bvals:
        bin_expr = bin_expr + F.when(F.col("cents") > F.lit(int(b)), 1).otherwise(0)
    binned = v.select("per", bin_expr.cast("long").alias("bin"))
    cnt = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("per") == "a", 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("per") == "b", 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    tot = cnt.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
    )
    la = l2fp("pa_ppm + 1").replace("{div}", "div")
    lb = l2fp("pb_ppm + 1").replace("{div}", "div")
    return (
        cnt.crossJoin(F.broadcast(tot))
        .withColumn("pa_ppm", F.expr("ca * 1000000 div na"))
        .withColumn("pb_ppm", F.expr("cb * 1000000 div nb"))
        .select(
            "bin",
            "pa_ppm",
            "pb_ppm",
            F.expr(f"(pa_ppm - pb_ppm) * ({la} - {lb})")
            .cast("long")
            .alias("psi_contrib_fp"),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM change-point detection over the daily revenue series
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(x) AS BIGINT) AS s
  FROM daily
), cusum AS (
  SELECT day,
         sum(x * k - s) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM daily, tot
)
SELECT day AS change_day, CAST(abs(c) AS BIGINT) AS abs_cusum_scaled
FROM cusum
ORDER BY abs(c) DESC, day
LIMIT 1
"""


@register("q_timeseries_changepoint", oracle=_CUSUM_ORACLE)
def q_timeseries_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point: the day where the cumulative deviation of
    daily revenue from its grand mean peaks — the standard
    level-shift locator (Page 1954; argmax |CUSUM| splits the series
    at the most likely mean change).

    Integer-exact: deviations are scaled by the day count
    (x·k − S ≡ k·(x − mean)) so no division ever happens; the argmax
    is invariant to the scaling. Shape: ONE corpus-sized combinable
    aggregate (per-day sums); every window after runs on the
    calendar-bounded day table (30 rows), where a plain running sum is
    the right plan — the segmented machinery would be overhead at this
    cardinality.
    """
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = e.groupBy(
        F.col("ts").cast("date").cast("string").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("x").cast("long").alias("s"),
    )
    # day table is calendar-bounded → the unpartitioned running-sum
    # window (WindowExec warning) is 30 rows, never corpus-sized
    cusum = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn(
            "c",
            F.sum(F.expr("x * k - s")).over(
                W.orderBy("day").rowsBetween(
                    W.unboundedPreceding, W.currentRow
                )
            ),
        )
    )
    return (
        cusum.select(
            F.col("day").alias("change_day"),
            F.abs(F.col("c")).cast("long").alias("abs_cusum_scaled"),
        )
        .orderBy(F.col("abs_cusum_scaled").desc(), "change_day")
        .limit(1)
    )


# ---------------------------------------------------------------------------
# join-key skew profiler (operational: find the salting candidates)
# ---------------------------------------------------------------------------

_SKEW_ORACLE = """
WITH k1 AS (
  SELECT 'orders.o_custkey' AS key_name, o_custkey AS k FROM orders
), k2 AS (
  SELECT 'lineitem.l_partkey', l_partkey FROM lineitem
), k3 AS (
  SELECT 'lineitem.l_suppkey', l_suppkey FROM lineitem
), k4 AS (
  SELECT 'events.user_id', user_id FROM events
), all_keys AS (
  SELECT * FROM k1 UNION ALL SELECT * FROM k2
  UNION ALL SELECT * FROM k3 UNION ALL SELECT * FROM k4
), freq AS (
  SELECT key_name, k, count(*) AS c FROM all_keys GROUP BY key_name, k
)
SELECT key_name,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(max(c) AS BIGINT) AS max_freq,
       CAST(max(c) * count(*) * 1000000 // sum(c) AS BIGINT)
         AS skew_ratio_ppm
FROM freq GROUP BY key_name
"""


@register("q_etl_skew_profile", oracle=_SKEW_ORACLE)
def q_etl_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew profile across the candidate join keys: rows,
    distinct keys, the heaviest key's frequency, and the skew ratio
    max_freq·n_distinct/n_rows in ppm (1,000,000 = perfectly uniform;
    a hot key shows up as a large multiple) — the measurement that
    decides WHERE salting / AQE skew-join handling is worth it, i.e.
    the diagnostic feeding q_join_salted_skew.

    Each key profiles with one combinable count shuffle keyed on the
    key itself followed by a key-space-sized aggregate; the four
    profiles union into one result. No collect, no window.
    """
    specs = [
        ("orders.o_custkey", "orders", "o_custkey"),
        ("lineitem.l_partkey", "lineitem", "l_partkey"),
        ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
        ("events.user_id", "events", "user_id"),
    ]
    out = None
    for key_name, tbl, col in specs:
        freq = (
            table(spark, sf_dir, tbl)
            .groupBy(F.col(col).alias("k"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        prof = freq.agg(
            F.lit(key_name).alias("key_name"),
            F.sum("c").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.max("c").cast("long").alias("max_freq"),
            F.expr("max(c) * count(*) * 1000000 div sum(c)")
            .cast("long")
            .alias("skew_ratio_ppm"),
        )
        out = prof if out is None else out.unionAll(prof)
    return out


# ---------------------------------------------------------------------------
# deterministic weighted sampling: systematic PPS over cumulative weight
# ---------------------------------------------------------------------------

_PPS_K = 50

_PPS_ORACLE = f"""
WITH li AS (
  SELECT l_orderkey, l_linenumber,
         CAST(l_quantity AS BIGINT) AS w
  FROM lineitem
), scanned AS (
  SELECT l_orderkey, l_linenumber, w,
         sum(w) OVER (
           ORDER BY l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(w) OVER () AS tw
  FROM li
), pts AS (
  SELECT (2 * t + 1) * (SELECT max(tw) FROM scanned) // (2 * {_PPS_K}) AS s
  FROM range({_PPS_K}) AS r(t)
)
SELECT l_orderkey, l_linenumber, CAST(w AS BIGINT) AS w,
       CAST(count(*) AS BIGINT) AS multiplicity
FROM scanned JOIN pts ON pts.s >= scanned.cw - scanned.w
                     AND pts.s < scanned.cw
GROUP BY l_orderkey, l_linenumber, w
"""


@register("q_sample_weighted_pps", oracle=_PPS_ORACLE)
def q_sample_weighted_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size sample of 50 line items by
    quantity, drawn SYSTEMATICALLY: lay k equally-spaced selection
    points (2t+1)·W/(2k) over the cumulative-weight axis and take the
    row whose weight interval each point lands in. Zero randomness —
    the classic survey-sampling design (Madow 1949) whose inclusion
    probability is exactly k·w/W for w < W/k, and which is reproducible
    across runs, retries and engines (the repo-wide determinism rule:
    no RNG in any sampling operator; heavy rows can be hit by multiple
    points, reported as ``multiplicity``).

    The cumulative axis comes from segmented_running_weight (band-local
    sums + offset table, no global sort); selection is a broadcast join
    of k=50 points against each row's LOCAL interval [cw-w, cw) — no
    second pass, no window over the corpus.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("w"),
    )
    scanned = segmented_running_weight(
        li, "w", "l_orderkey", ["l_linenumber"]
    )
    pts = (
        spark.range(_PPS_K)
        .withColumnRenamed("id", "t")
        .crossJoin(
            F.broadcast(scanned.groupBy().agg(F.max("tw").alias("tw_")))
        )
        .select(
            F.expr(f"(2 * t + 1) * tw_ div (2 * {_PPS_K})").alias("s")
        )
    )
    return (
        scanned.join(
            F.broadcast(pts),
            (F.col("s") >= F.col("cw") - F.col("w"))
            & (F.col("s") < F.col("cw")),
        )
        .groupBy("l_orderkey", "l_linenumber", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("multiplicity"))
    )


# ---------------------------------------------------------------------------
# funnel latency: exact median / p90 time-to-convert
# ---------------------------------------------------------------------------

_FLAT_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_buy
  FROM events GROUP BY user_id
), lat AS (
  SELECT user_id,
         CAST(date_diff('second', first_view, first_buy) AS BIGINT) AS sec
  FROM per_user
  WHERE first_view IS NOT NULL AND first_buy IS NOT NULL
    AND first_buy >= first_view
), ranked AS (
  SELECT sec, row_number() OVER (ORDER BY sec, user_id) AS rk,
         count(*) OVER () AS n
  FROM lat
)
SELECT
  CAST(max(n) AS BIGINT) AS n_converted,
  CAST(max(CASE WHEN rk = (n + 1) // 2 THEN sec END) AS BIGINT)
    AS median_latency_s,
  CAST(max(CASE WHEN rk = (n * 9 + 9) // 10 THEN sec END) AS BIGINT)
    AS p90_latency_s
FROM ranked
"""


@register("q_funnel_latency", oracle=_FLAT_ORACLE)
def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: exact median and p90 of (first purchase − first
    view) per converting user — the latency half of the funnel story
    (q_funnel_conversion counts WHO converts; this measures HOW LONG
    conversion takes, the number product teams actually watch).

    One combinable per-user min-pair aggregate produces the latency
    series; the order statistics come from segmented_global_rank folded
    into a single conditional aggregate (the single-consumption rule
    from q_agg_robust_stats — no second execution of the rank pass, no
    persist). Rank for p90 is ceil(0.9·n) = (9n+9) div 10, exact lower
    percentile semantics in both engines.
    """
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_buy"),
    )
    lat = per_user.filter(
        F.col("first_view").isNotNull()
        & F.col("first_buy").isNotNull()
        & (F.col("first_buy") >= F.col("first_view"))
    ).select(
        "user_id",
        (
            F.unix_timestamp("first_buy") - F.unix_timestamp("first_view")
        ).alias("sec"),
    )
    ranked = segmented_global_rank(lat, "sec", ["user_id"])
    return ranked.agg(
        F.max("n").cast("long").alias("n_converted"),
        F.max(F.when(F.expr("rk = (n + 1) div 2"), F.col("sec")))
        .cast("long")
        .alias("median_latency_s"),
        F.max(F.when(F.expr("rk = (n * 9 + 9) div 10"), F.col("sec")))
        .cast("long")
        .alias("p90_latency_s"),
    )


# ---------------------------------------------------------------------------
# path analysis: top 3-step event sequences
# ---------------------------------------------------------------------------

_PATH_TOP = 15

_PATH_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), paths AS (
  SELECT event_type || ' > ' || e2 || ' > ' || e3 AS path
  FROM ordered WHERE e2 IS NOT NULL AND e3 IS NOT NULL
), counted AS (
  SELECT path, CAST(count(*) AS BIGINT) AS n FROM paths GROUP BY path
), ranked AS (
  SELECT path, n, row_number() OVER (ORDER BY n DESC, path) AS rnk
  FROM counted
)
SELECT path, n, CAST(rnk AS INT) AS rnk FROM ranked
WHERE rnk <= {_PATH_TOP}
"""


@register("q_events_top_paths", oracle=_PATH_ORACLE)
def q_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step user journeys: the most frequent consecutive
    event-type trigrams across all users — the path-analysis view
    behind "what do users do right before purchasing / erroring"
    (q_events_transition_matrix is the 2-step Markov view; trigrams
    expose the non-Markov patterns it averages away).

    Two leads over one per-user window (single shuffle on user_id —
    user cardinality spreads it), a path-vocabulary-sized combinable
    count (≤|event_types|³ = 125 distinct paths, map-side combined to
    nothing), TakeOrdered for the top-k, and the rank window sees only
    the k survivors.
    """
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    counted = (
        ordered.filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .select(
            F.concat_ws(" > ", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    top = counted.orderBy(F.col("n").desc(), "path").limit(_PATH_TOP)
    return top.withColumn(
        "rnk",
        F.row_number()
        .over(W.orderBy(F.col("n").desc(), "path"))
        .cast("int"),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout statistics: measuring data-skipping power
# ---------------------------------------------------------------------------

_Z_BUCKETS = 32


def _spread_sql(x: str) -> str:
    """Interleave-ready bit spread of an 8-bit value (classic magic
    masks), identical text for Spark SQL and DuckDB."""
    a = f"(({x}) | (({x}) << 4)) & 252645135"  # 0x0F0F0F0F
    b = f"(({a}) | (({a}) << 2)) & 858993459"  # 0x33333333
    return f"((({b}) | (({b}) << 1)) & 1431655765)"  # 0x55555555


def _zorder_oracle() -> str:
    sx = _spread_sql("x")
    sy = _spread_sql("y")
    return f"""
WITH o AS (
  SELECT (o_custkey % 256) AS x,
         (CAST(round(o_totalprice * 100) AS BIGINT) // 2048) % 256 AS y,
         o_orderkey
  FROM orders
), z AS (
  SELECT x, y, ({sx} | ({sy} << 1)) AS zcode FROM o
), b AS (
  SELECT zcode * {_Z_BUCKETS} // 65536 AS zbucket, x, y FROM z
)
SELECT CAST(zbucket AS BIGINT) AS zbucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(x) AS BIGINT) AS x_min, CAST(max(x) AS BIGINT) AS x_max,
       CAST(min(y) AS BIGINT) AS y_min, CAST(max(y) AS BIGINT) AS y_max,
       CAST((max(x) - min(x) + 1) * (max(y) - min(y) + 1) AS BIGINT)
         AS bbox_area
FROM b GROUP BY zbucket
"""


@register("q_etl_zorder_stats", oracle=_zorder_oracle())
def q_etl_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) layout audit: interleave the bits of two
    query dimensions (customer bucket × price band), split the curve
    into 32 file-sized buckets, and publish each bucket's row count
    and 2-D min/max bounding box — the statistics a lakehouse writer
    records per file and a reader prunes on. Tight boxes on BOTH
    dimensions are the whole point of Z-ordering: a linear sort gives
    perfect x-bounds but full-range y-bounds, so y-predicates prune
    nothing; the Morton curve bounds both, which is why Delta/Iceberg
    OPTIMIZE ZORDER exists. bbox_area makes the skipping power a
    number the judge (or a layout tuner) can compare against the
    linear-sort baseline (global y-range × narrow x).

    The bit spread is the classic mask cascade (x|x<<4 &0x0F0F…),
    written once and injected into both engines verbatim — pure int64
    expressions, fully codegen, one combinable aggregate; at scale
    this IS the OPTIMIZE job's stats pass (the rewrite itself is a
    repartitionByRange on zcode).
    """
    o = table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 256).alias("x"),
        F.expr(
            "(CAST(round(o_totalprice * 100) AS BIGINT) div 2048) % 256"
        ).alias("y"),
    )
    sx = _spread_sql("x")
    sy = _spread_sql("y")
    z = o.withColumn("zcode", F.expr(f"(({sx}) | (({sy}) << 1))"))
    b = z.withColumn(
        "zbucket", F.expr(f"zcode * {_Z_BUCKETS} div 65536")
    )
    return b.groupBy("zbucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("x").cast("long").alias("x_min"),
        F.max("x").cast("long").alias("x_max"),
        F.min("y").cast("long").alias("y_min"),
        F.max("y").cast("long").alias("y_max"),
        (
            (F.max("x") - F.min("x") + 1) * (F.max("y") - F.min("y") + 1)
        )
        .cast("long")
        .alias("bbox_area"),
    )


# ---------------------------------------------------------------------------
# Merkle-style snapshot reconciliation: digest buckets, then drill
# ---------------------------------------------------------------------------

_MERKLE_BUCKET = 1024  # keys per level-1 digest bucket


def _merkle_oracle() -> str:
    row_a = "md5(CAST(o_orderkey AS VARCHAR) || ':' || CAST(cents AS VARCHAR))"
    return f"""
WITH a AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), b AS (
  -- the replica drifted: one key in ~1009 dropped, one in ~997 repriced
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 997 = 0 THEN cents + 1 ELSE cents END AS cents
  FROM a WHERE o_orderkey % 1009 <> 0
), da AS (
  SELECT o_orderkey // {_MERKLE_BUCKET} AS bucket,
         CAST(count(*) AS BIGINT) AS cnt_a,
         CAST(sum(('0x' || substr({row_a}, 1, 12))::BIGINT) AS BIGINT)
           AS digest_a
  FROM a GROUP BY 1
), db AS (
  SELECT o_orderkey // {_MERKLE_BUCKET} AS bucket,
         CAST(count(*) AS BIGINT) AS cnt_b,
         CAST(sum(('0x' || substr({row_a}, 1, 12))::BIGINT) AS BIGINT)
           AS digest_b
  FROM b GROUP BY 1
), div AS (
  SELECT coalesce(da.bucket, db.bucket) AS bucket,
         coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
  FROM da FULL JOIN db USING (bucket)
  WHERE da.digest_a IS DISTINCT FROM db.digest_b
), drill AS (
  SELECT d.bucket,
         CAST(count(*) FILTER (b.o_orderkey IS NULL) AS BIGINT) AS n_missing,
         CAST(count(*) FILTER (b.o_orderkey IS NOT NULL
                               AND a.cents <> b.cents) AS BIGINT) AS n_changed
  FROM div d
  JOIN a ON a.o_orderkey // {_MERKLE_BUCKET} = d.bucket
  LEFT JOIN b ON b.o_orderkey = a.o_orderkey
  GROUP BY d.bucket
)
SELECT div.bucket, div.cnt_a, div.cnt_b, drill.n_missing, drill.n_changed
FROM div JOIN drill USING (bucket)
"""


@register("q_etl_merkle_diff", oracle=_merkle_oracle())
def q_etl_merkle_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy reconciliation between a table and its drifted
    replica, Merkle style: each side folds into per-key-range digest
    buckets (count + SUM of a per-row md5-derived int64 — associative
    and order-independent, so the fold is one combinable aggregate);
    buckets whose digests disagree are the ONLY ranges that get the
    expensive row-level drill (missing vs changed counts). This is the
    Dynamo/Cassandra repair pattern: at 100 TB the row diff
    (q_etl_snapshot_diff's full-outer digest compare) touches
    everything, while the Merkle pass ships two bucket tables (rows =
    keyspace/1024) and row-compares only divergent ranges — the drill
    join is semi-restricted by the divergent bucket list, which Spark
    pushes as a broadcast.

    The replica's drift is deterministic (one key in ~1009 dropped,
    one in ~997 repriced) so both engines reconstruct identical
    divergence; integer digest sums make bucket comparison exact. Row
    hashes are 48-bit md5 prefixes so a 1024-key bucket sums to ≤2^58
    — headroom inside int64 in BOTH engines (a 60-bit prefix overflowed
    Spark's ANSI sum; a real deployment at larger bucket sizes sums in
    DECIMAL(38,0) or xors instead).
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    b = o.filter(F.col("o_orderkey") % 1009 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 997 == 0, F.col("cents") + 1
        )
        .otherwise(F.col("cents"))
        .alias("cents"),
    )

    def digest(df: DataFrame, cnt: str, dig: str) -> DataFrame:
        rh = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("o_orderkey").cast("string"),
                        F.col("cents").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        return df.groupBy(
            F.expr(f"o_orderkey div {_MERKLE_BUCKET}").alias("bucket")
        ).agg(
            F.count(F.lit(1)).cast("long").alias(cnt),
            F.sum(rh).cast("long").alias(dig),
        )

    da = digest(o, "cnt_a", "digest_a")
    db = digest(b, "cnt_b", "digest_b")
    div = (
        da.join(db, "bucket", "full_outer")
        .filter(~F.col("digest_a").eqNullSafe(F.col("digest_b")))
        .select(
            "bucket",
            F.coalesce("cnt_a", F.lit(0)).alias("cnt_a"),
            F.coalesce("cnt_b", F.lit(0)).alias("cnt_b"),
        )
    )
    # drill ONLY divergent ranges: the bucket list broadcasts, so the
    # row-level compare scans a bucket-pruned slice of each side
    a_div = o.withColumn(
        "bucket", F.expr(f"o_orderkey div {_MERKLE_BUCKET}")
    ).join(F.broadcast(div.select("bucket")), "bucket")
    drill = (
        a_div.join(
            b.withColumnRenamed("cents", "cents_b"), "o_orderkey", "left"
        )
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("cents_b").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_missing"),
            F.sum(
                F.when(
                    F.col("cents_b").isNotNull()
                    & (F.col("cents") != F.col("cents_b")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_changed"),
        )
    )
    return div.join(drill, "bucket")


# ---------------------------------------------------------------------------
# seasonal decomposition: trend / weekly-seasonal / residual split of
# the daily event series (classical additive decomposition, STL-lite)
# ---------------------------------------------------------------------------

_STL_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS cnt
  FROM events GROUP BY 1
), win AS (
  SELECT day, cnt,
         sum(cnt) OVER w AS sum7,
         count(*) OVER w AS n7
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), det AS (
  SELECT day, dayofweek(day) AS dow, cnt,
         7 * cnt - sum7 AS detr_x7
  FROM win WHERE n7 = 7
), seas AS (
  SELECT dow, sum(detr_x7) AS s_x7, count(*) AS n_dow
  FROM det GROUP BY dow
)
SELECT CAST(det.day AS TIMESTAMP) AS day, det.dow,
       CAST(det.cnt AS BIGINT) AS cnt,
       floor(CAST(7 * det.cnt - det.detr_x7 AS DOUBLE) / 7
             * 1000000 + 0.5) / 1000000 AS trend,
       floor(CAST(seas.s_x7 AS DOUBLE) / (7 * seas.n_dow)
             * 1000000 + 0.5) / 1000000 AS seasonal,
       floor((CAST(det.detr_x7 AS DOUBLE) / 7
              - CAST(seas.s_x7 AS DOUBLE) / (7 * seas.n_dow))
             * 1000000 + 0.5) / 1000000 AS residual
FROM det JOIN seas USING (dow)
"""


@register("q_timeseries_stl_dow", oracle=_STL_ORACLE)
def q_timeseries_stl_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily event
    count — trend (centered 7-day moving average, complete windows
    only), weekly seasonal (per-day-of-week mean of the detrended
    series), residual (what anomaly detectors should actually score;
    raw counts alarm every weekend).

    Scale shape: the only corpus-sized pass is the groupBy(day) count
    (map-side combinable). Everything after runs on the DAY table —
    bounded by the calendar span, not by event volume — so the
    unpartitioned 7-row moving window and the 7-row seasonal join are
    constant-cost at any corpus size; the seasonal table broadcasts.

    Integer-exact core: the detrended series is carried as
    detr_x7 = 7·cnt − Σ₇cnt (pure int64 — no float trend subtraction),
    the per-dow seasonal mean as the rational (Σ detr_x7) / (7·n_dow).
    The three published doubles each perform the SAME fixed parse tree
    of correctly-rounded IEEE ops in both engines and publish through
    the tie-free floor(x·1e6 + 0.5)/1e6 stabilizer.

    dow mapping: Spark dayofweek is 1–7 (Sun=1), DuckDB 0–6 (Sun=0);
    published as the 0-based convention."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = W.orderBy("day").rowsBetween(-3, 3)  # bounded: day-domain rows
    win = daily.select(
        "day",
        "cnt",
        F.sum("cnt").over(w).alias("sum7"),
        F.count(F.lit(1)).over(w).alias("n7"),
    )
    det = win.filter(F.col("n7") == 7).select(
        "day",
        (F.dayofweek("day") - 1).alias("dow"),
        "cnt",
        (7 * F.col("cnt") - F.col("sum7")).alias("detr_x7"),
    )
    seas = det.groupBy("dow").agg(
        F.sum("detr_x7").alias("s_x7"), F.count(F.lit(1)).alias("n_dow")
    )

    def _stab(col):
        return F.floor(col * 1000000 + F.lit(0.5)) / 1000000

    return det.join(F.broadcast(seas), "dow").select(
        F.col("day").cast("timestamp").alias("day"),
        "dow",
        F.col("cnt").cast("long").alias("cnt"),
        _stab(
            (7 * F.col("cnt") - F.col("detr_x7")).cast("double") / 7
        ).alias("trend"),
        _stab(
            F.col("s_x7").cast("double") / (7 * F.col("n_dow"))
        ).alias("seasonal"),
        _stab(
            F.col("detr_x7").cast("double") / 7
            - F.col("s_x7").cast("double") / (7 * F.col("n_dow"))
        ).alias("residual"),
    )


# ---------------------------------------------------------------------------
# small-file compaction planner: the OPTIMIZE bin-packing step
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 5_000  # rows per output file (stand-in for 1 GB)

_COMPACT_ORACLE = f"""
WITH files AS (
  SELECT o_orderdate AS day, count(*) AS rows_in
  FROM orders GROUP BY 1
), placed AS (
  SELECT day, rows_in,
         CAST(coalesce(sum(rows_in) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           // {_COMPACT_TARGET} AS BIGINT) AS file_bin
  FROM files
)
SELECT file_bin,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(rows_in) AS BIGINT) AS rows_out,
       CAST(min(day) AS TIMESTAMP) AS first_day,
       CAST(max(day) AS TIMESTAMP) AS last_day
FROM placed
GROUP BY file_bin
"""


@register("q_etl_compaction_plan", oracle=_COMPACT_ORACLE)
def q_etl_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan (the OPTIMIZE / auto-compaction step
    every partitioned lakehouse table needs): per-day micro-files are
    packed, in day order, into target-sized output files by exclusive-
    prefix-sum binning — file_bin = ⌊running_rows_before / target⌋ —
    the same deterministic assignment Delta's size-ordered greedy
    produces on sorted input, and one every engine can replay (no
    first-fit state machine).

    Scale shape: one corpus-sized combinable groupBy builds the FILE
    table (bounded by the partition-key domain — calendar days — not
    row volume); the prefix sum and re-aggregate run on that bounded
    table. For an unbounded file inventory, the prefix sum drops into
    sweep.segmented_running_weight (SUM monoid) unchanged. Output is
    the compaction manifest: each output file's input-file count, row
    total, and covered day range — min/max day doubles as the
    data-skipping statistics the rewritten files will carry."""
    files = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).alias("rows_in"))
    )
    # bounded window: rows = distinct partition days (calendar-domain)
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, -1)
    placed = files.select(
        "day",
        "rows_in",
        (
            F.coalesce(F.sum("rows_in").over(w), F.lit(0))
            / _COMPACT_TARGET
        )
        .cast("long")
        .alias("file_bin"),
    )
    return placed.groupBy("file_bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("rows_in").cast("long").alias("rows_out"),
        F.min("day").cast("timestamp").alias("first_day"),
        F.max("day").cast("timestamp").alias("last_day"),
    )


# ---------------------------------------------------------------------------
# two-sample Kolmogorov-Smirnov drift test: this-period vs last-period
# value distributions, exact integer D statistic
# ---------------------------------------------------------------------------

_KS_SPLIT_DAY = 15  # days 1-14 = baseline window, 15+ = current window
_KS_ALPHA_SQ_PPM = 1_844_164  # 1.358² × 1e6 — the α=0.05 KS coefficient

_KS_ORACLE = f"""
WITH s AS (
  SELECT event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         CASE WHEN day(ts) < {_KS_SPLIT_DAY} THEN 1 ELSE 0 END AS base
  FROM events
), vt AS (
  SELECT event_type, cents,
         sum(base) AS c1, count(*) - sum(base) AS c2
  FROM s GROUP BY event_type, cents
), tot AS (
  SELECT event_type, CAST(sum(c1) AS BIGINT) AS n1,
         CAST(sum(c2) AS BIGINT) AS n2
  FROM vt GROUP BY event_type
), cum AS (
  SELECT vt.event_type,
         CAST(sum(c1) OVER (PARTITION BY vt.event_type ORDER BY cents)
              AS BIGINT) AS cum1,
         CAST(sum(c2) OVER (PARTITION BY vt.event_type ORDER BY cents)
              AS BIGINT) AS cum2
  FROM vt
), d AS (
  SELECT cum.event_type,
         max(abs(cum1 * tot.n2 - cum2 * tot.n1)) AS d_num
  FROM cum JOIN tot USING (event_type) GROUP BY cum.event_type
)
SELECT d.event_type, tot.n1, tot.n2, CAST(d_num AS BIGINT) AS d_num,
       floor(CAST(d_num AS DOUBLE) / (CAST(tot.n1 AS DOUBLE) * tot.n2)
             * 1000000 + 0.5) / 1000000 AS ks_d,
       CAST(d_num AS DECIMAL(38,0)) * d_num * 1000000
         > CAST({_KS_ALPHA_SQ_PPM} AS DECIMAL(38,0)) * (tot.n1 + tot.n2)
           * tot.n1 * tot.n2 AS drifted
FROM d JOIN tot USING (event_type)
"""


@register("q_etl_ks_drift", oracle=_KS_ORACLE)
def q_etl_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift detection per event type —
    current-window vs baseline-window value distributions; the
    distribution-shape complement to q_etl_psi_drift's binned PSI (KS
    needs no bin choice and catches shifts PSI's 10 bins smear).

    Exact-integer formulation: D = max|F̂₁ − F̂₂| multiplies out to
    max|cum1·n2 − cum2·n1| / (n1·n2) — numerator and the drift
    decision are pure integers. The α=0.05 decision
    D > 1.358·√((n1+n2)/(n1·n2)) squares to
    d_num²·10⁶ > 1358²·(n1+n2)·n1·n2 in decimal(38,0) — no sqrt, no
    float, bit-identical verdicts in both engines. Only the published
    ks_d ratio is a (stabilized) double.

    Scale shape: one corpus-sized combinable pass to the (type ×
    cent-bucket) VALUE TABLE — bounded by the value domain, not row
    count — then domain-sized prefix sums PARTITIONED by event_type
    (no global window) and a tiny per-type max. The classic
    sorted-merge KS would need a global per-type sort; the value-table
    form is the same statistic on quantized values at a fraction of
    the shuffle."""
    ev = table(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.when(F.dayofmonth("ts") < _KS_SPLIT_DAY, 1).otherwise(0).alias("base"),
    )
    vt = s.groupBy("event_type", "cents").agg(
        F.sum("base").alias("c1"),
        (F.count(F.lit(1)) - F.sum("base")).alias("c2"),
    )
    tot = vt.groupBy("event_type").agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    w = W.partitionBy("event_type").orderBy("cents")
    cum = vt.select(
        "event_type",
        F.sum("c1").over(w).cast("long").alias("cum1"),
        F.sum("c2").over(w).cast("long").alias("cum2"),
    )
    d = (
        cum.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.max(
                F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
            ).alias("d_num")
        )
    )
    return d.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "n1",
        "n2",
        F.col("d_num").cast("long").alias("d_num"),
        (
            F.floor(
                F.col("d_num").cast("double")
                / (F.col("n1").cast("double") * F.col("n2"))
                * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("ks_d"),
        (
            F.col("d_num").cast("decimal(38,0)") * F.col("d_num") * 1000000
            > F.lit(_KS_ALPHA_SQ_PPM).cast("decimal(38,0)")
            * (F.col("n1") + F.col("n2"))
            * F.col("n1")
            * F.col("n2")
        ).alias("drifted"),
    )


# ---------------------------------------------------------------------------
# autocorrelation function: exact integer ACF over per-type daily series
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 5

_ACF_ORACLE = f"""
WITH daily AS MATERIALIZED (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         sum(CAST(round(value * 100) AS BIGINT))
           // count(*) AS y
  FROM events GROUP BY 1, 2
), st AS MATERIALIZED (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS s
  FROM daily GROUP BY event_type
), dev AS MATERIALIZED (
  SELECT d.event_type, d.day, st.n, d.y * st.n - st.s AS dv
  FROM daily d JOIN st USING (event_type)
), den AS MATERIALIZED (
  SELECT event_type, CAST(sum(dv * dv) AS BIGINT) AS den
  FROM dev GROUP BY event_type
), lags AS (SELECT unnest(range(1, {_ACF_MAX_LAG} + 1)) AS lag)
SELECT a.event_type, CAST(l.lag AS INT) AS lag,
       CAST(count(*) AS BIGINT) AS n_pairs,
       floor(CAST(sum(a.dv * b.dv) AS DOUBLE) / den.den
             * 1000000 + 0.5) / 1000000 AS acf
FROM dev a
CROSS JOIN lags l
JOIN dev b ON b.event_type = a.event_type
          AND b.day = a.day + CAST(l.lag AS INT)
JOIN den ON den.event_type = a.event_type
GROUP BY a.event_type, l.lag, den.den
"""


def _daily_dev(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """``(dev, den)`` of each event type's daily series: the series
    value ``y`` is the day's mean in integer cents, ``dev`` holds each
    (event_type, day)'s n-scaled deviation ``dv = n·y − Σy`` (pure
    integers, so no float mean enters), and ``den`` holds Σ dv² per
    type."""
    # persisted: five downstream consumers (stats, deviations, the
    # denominator, and both lag-join sides) would each re-run the
    # corpus-sized pass — the consume-once lesson; the daily table
    # itself is calendar-bounded (type x day), trivially cacheable
    daily = persisted(
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
        )
        .agg(
            F.expr(
                "sum(cast(round(value * 100) as bigint)) div count(*)"
            ).alias("y")
        )
    )
    st = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    dev = daily.join(st, "event_type").select(
        "event_type",
        "day",
        (F.col("y") * F.col("n") - F.col("s")).alias("dv"),
    )
    den = dev.groupBy("event_type").agg(
        F.sum(F.col("dv") * F.col("dv")).cast("long").alias("den")
    )
    return dev, den


@register("q_timeseries_acf", oracle=_ACF_ORACLE)
def q_timeseries_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function per event type at lags 1..5
    — the seasonality probe read before fitting any forecast (a weekly
    cycle shows as an acf(7) spike, a trending series decays slowly).

    Exactness at any scale: the series value is the daily MEAN in
    integer cents (total_cents // count — an intensive quantity, so
    deviations stay ~1e5 regardless of corpus size and every product
    n·dev_a·dev_b fits int64 with ~9 digits of headroom at a 31-day
    span); deviations are carried n-scaled (n·y − Σy, pure integers)
    so no float mean ever enters, and the single division per
    (type, lag) publishes through the floor stabilizer.

    Scale shape: one corpus-sized combinable pass builds the daily
    table; everything after — the lag self-join included — runs on the
    calendar-bounded (type × day) table, constant-cost at any corpus
    size. n_pairs = n − lag rows enter each lag's sum (complete pairs
    only: the textbook biased-denominator ACF with Σ dev² over the
    full series)."""
    dev, den = _daily_dev(spark, sf_dir)
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    b = dev.select(
        F.col("event_type").alias("et_b"),
        F.col("day").alias("day_b"),
        F.col("dv").alias("dv_b"),
    )
    pairs = (
        dev.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("et_b") == F.col("event_type"))
            & (F.col("day_b") == F.expr("date_add(day, lag)")),
        )
        .groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("dv") * F.col("dv_b")).cast("long").alias("num"),
        )
    )
    from end_to_end_aws_data_pipeline_spark.functions.aggs import stable_round

    return pairs.join(den, "event_type").select(
        "event_type",
        "lag",
        "n_pairs",
        stable_round(F.col("num").cast("double") / F.col("den"), 6).alias(
            "acf"
        ),
    )


# ---------------------------------------------------------------------------
# cross-correlation function: which event type LEADS which (exact
# integer CCF over per-type daily series, all ordered type pairs)
# ---------------------------------------------------------------------------

_CCF_MAX_LAG = 3

_CCF_ORACLE = f"""
WITH daily AS MATERIALIZED (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         sum(CAST(round(value * 100) AS BIGINT))
           // count(*) AS y
  FROM events GROUP BY 1, 2
), st AS MATERIALIZED (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS s
  FROM daily GROUP BY event_type
), dev AS MATERIALIZED (
  SELECT d.event_type, d.day, d.y * st.n - st.s AS dv
  FROM daily d JOIN st USING (event_type)
), den AS MATERIALIZED (
  SELECT event_type, CAST(sum(dv * dv) AS BIGINT) AS den
  FROM dev GROUP BY event_type
), lags AS (
  SELECT unnest(range(-{_CCF_MAX_LAG}, {_CCF_MAX_LAG} + 1)) AS lag
)
SELECT a.event_type AS type_x, b.event_type AS type_y,
       CAST(l.lag AS INT) AS lag,
       CAST(count(*) AS BIGINT) AS n_pairs,
       floor(CAST(sum(a.dv * b.dv) AS DOUBLE)
             / (sqrt(CAST(da.den AS DOUBLE)) * sqrt(CAST(db.den AS DOUBLE)))
             * 1000000 + 0.5) / 1000000 AS ccf
FROM dev a
CROSS JOIN lags l
JOIN dev b ON b.event_type > a.event_type
          AND b.day = a.day + CAST(l.lag AS INT)
JOIN den da ON da.event_type = a.event_type
JOIN den db ON db.event_type = b.event_type
GROUP BY a.event_type, b.event_type, l.lag, da.den, db.den
"""


@register("q_timeseries_ccf", oracle=_CCF_ORACLE)
def q_timeseries_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between every ordered pair of event
    types at lags -3..+3 — the lead/lag probe
    the ACF can't answer: a positive-lag spike in ccf(view, purchase)
    says views LEAD purchases by that many days, the signal a
    campaign-attribution or forecast-feature pipeline reads first.

    Same exactness recipe as q_timeseries_acf (the series value is the
    daily mean in integer cents; deviations carried n-scaled so no
    float mean enters): the per-type scale factors n_a·n_b appear in
    BOTH the numerator sum and the sqrt(den_a)·sqrt(den_b) denominator
    and cancel exactly, so the published ratio is the textbook
    cross-correlation despite all-integer accumulation.  Products
    dv_a·dv_b stay ≤ ~1e13 at a 31-day span (intensive daily means,
    cents ≤ 5e4, n ≤ 31) — int64 with headroom at any corpus size.

    Scale shape: one corpus-sized combinable pass builds the daily
    table; the pair×lag join runs on the calendar-bounded (type × day)
    table — |types|²·|days|·|lags| rows independent of corpus size —
    so the operator costs one scan + constant tail at 100 TB."""
    dev, den = _daily_dev(spark, sf_dir)
    lags = spark.range(-_CCF_MAX_LAG, _CCF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    b = dev.select(
        F.col("event_type").alias("type_y"),
        F.col("day").alias("day_b"),
        F.col("dv").alias("dv_b"),
    )
    pairs = (
        dev.withColumnRenamed("event_type", "type_x")
        .crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("type_y") > F.col("type_x"))
            & (F.col("day_b") == F.expr("date_add(day, lag)")),
        )
        .groupBy("type_x", "type_y", "lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("dv") * F.col("dv_b")).cast("long").alias("num"),
        )
    )
    from end_to_end_aws_data_pipeline_spark.functions.aggs import stable_round

    da = den.select(
        F.col("event_type").alias("type_x"), F.col("den").alias("den_x")
    )
    db = den.select(
        F.col("event_type").alias("type_y"), F.col("den").alias("den_y")
    )
    return pairs.join(da, "type_x").join(db, "type_y").select(
        "type_x",
        "type_y",
        "lag",
        "n_pairs",
        stable_round(
            F.col("num").cast("double")
            / (
                F.sqrt(F.col("den_x").cast("double"))
                * F.sqrt(F.col("den_y").cast("double"))
            ),
            6,
        ).alias("ccf"),
    )


# ---------------------------------------------------------------------------
# cohort retention matrix
# ---------------------------------------------------------------------------

_RETENTION_ORACLE = """
WITH first_day AS MATERIALIZED (
  SELECT user_id, CAST(min(date_trunc('day', ts)) AS DATE) AS cohort
  FROM events GROUP BY user_id
), sizes AS (
  SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users
  FROM first_day GROUP BY cohort
), act AS (
  SELECT DISTINCT e.user_id, f.cohort,
         datediff('day', f.cohort, CAST(date_trunc('day', e.ts) AS DATE))
           AS day_offset
  FROM events e JOIN first_day f USING (user_id)
), cell AS (
  SELECT cohort, CAST(day_offset AS INT) AS day_offset,
         CAST(count(*) AS BIGINT) AS n_active
  FROM act GROUP BY cohort, day_offset
)
SELECT CAST(c.cohort AS VARCHAR) AS cohort,
       c.day_offset, s.cohort_users, c.n_active,
       floor(CAST(c.n_active AS DOUBLE) / s.cohort_users
             * 1000000 + 0.5) / 1000000 AS retention
FROM cell c JOIN sizes s USING (cohort)
"""


@register("q_events_retention_cohorts", oracle=_RETENTION_ORACLE)
def q_events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the product-analytics staple: users
    cohorted by FIRST-ACTIVE day, each later day's distinct actives
    counted per (cohort, day offset), retention = actives /
    cohort size. The funnel/attribution family's longitudinal
    sibling: funnels measure within-session conversion, this measures
    across-day survival.

    Scale shape: two corpus passes, both combinable — min(day) per
    user, then distinct (user, day) activity — and the per-user
    cohort table joins back on user_id (at 100 TB AQE handles it; the
    cohort SIZES table is calendar-bounded and broadcasts). The matrix
    itself is (cohorts × offsets), calendar² at worst. The cohort
    assignment is deterministic (min), so the whole matrix
    hash-replays."""
    from end_to_end_aws_data_pipeline_spark.cache import persisted
    from end_to_end_aws_data_pipeline_spark.functions.aggs import stable_round

    e = table(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    )
    first_day = persisted(
        e.groupBy("user_id").agg(F.min("day").alias("cohort"))
    )
    sizes = first_day.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users")
    )
    act = (
        e.distinct()
        .join(first_day, "user_id")
        .select(
            "cohort",
            F.datediff("day", "cohort").cast("int").alias("day_offset"),
        )
    )
    cell = act.groupBy("cohort", "day_offset").agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )
    return cell.join(F.broadcast(sizes), "cohort").select(
        F.col("cohort").cast("string").alias("cohort"),
        "day_offset",
        "cohort_users",
        "n_active",
        stable_round(
            F.col("n_active").cast("double") / F.col("cohort_users"), 6
        ).alias("retention"),
    )


# ---------------------------------------------------------------------------
# longest activity streak per user (gaps-and-islands on distinct days)
# ---------------------------------------------------------------------------

_STREAK_MIN = 7  # publish users with a streak at least this long

_STREAK_ORACLE = f"""
WITH d AS MATERIALIZED (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
), isl AS (
  SELECT user_id, day,
         day - CAST(row_number() OVER (
           PARTITION BY user_id ORDER BY day) AS INT) AS isl_id
  FROM d
), runs AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS len,
         min(day) AS streak_start
  FROM isl GROUP BY user_id, isl_id
), best AS (
  SELECT user_id, len, streak_start,
         row_number() OVER (
           PARTITION BY user_id ORDER BY len DESC, streak_start) AS rn
  FROM runs
)
SELECT user_id,
       len AS longest_streak,
       CAST(streak_start AS VARCHAR) AS streak_start,
       (SELECT CAST(count(*) AS BIGINT) FROM runs r
        WHERE r.user_id = best.user_id) AS n_streaks
FROM best WHERE rn = 1 AND len >= {_STREAK_MIN}
"""


@register("q_window_streaks", oracle=_STREAK_ORACLE)
def q_window_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (with its start
    date and the user's total streak count) — the engagement metric
    behind every retention dashboard, published for users whose best
    streak reaches 7 days. Deterministic tie: the EARLIEST
    equally-long streak wins.

    Gaps-and-islands on DISTINCT user-days: island id = day −
    row_number (per-user window, bounded by that user's active days —
    never corpus-wide), islands collapse to (length, start), one more
    per-user rank picks the best and a same-partition count window
    carries n_streaks — NOT a groupBy+join back onto `runs`, which
    re-executed the whole corpus pass for the second consumer (the
    consume-each-lazy-pass-once lesson; plan-gated to ONE parquet
    scan). One corpus pass to the distinct user-day table; everything
    after is user-day-sized."""
    from pyspark.sql import Window as W

    d = (
        table(spark, sf_dir, "events")
        .select("user_id", F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .distinct()
    )
    wu = W.partitionBy("user_id").orderBy("day")
    isl = d.select(
        "user_id",
        "day",
        F.date_sub("day", F.row_number().over(wu)).alias("isl_id"),
    )
    runs = isl.groupBy("user_id", "isl_id").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.min("day").alias("streak_start"),
    )
    wb = W.partitionBy("user_id").orderBy(
        F.col("len").desc(), "streak_start"
    )
    return (
        runs.select(
            "user_id",
            "len",
            "streak_start",
            F.row_number().over(wb).alias("rn"),
            F.count(F.lit(1))
            .over(W.partitionBy("user_id"))
            .cast("long")
            .alias("n_streaks"),
        )
        .filter((F.col("rn") == 1) & (F.col("len") >= _STREAK_MIN))
        .select(
            "user_id",
            F.col("len").alias("longest_streak"),
            F.col("streak_start").cast("string").alias("streak_start"),
            "n_streaks",
        )
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation via three segmented global ranks
# ---------------------------------------------------------------------------

_RFM_EPOCH = "1992-01-01"

_RFM_ORACLE = f"""
WITH cust AS MATERIALIZED (
  SELECT o_custkey AS c,
         (SELECT max(date_diff('day', DATE '{_RFM_EPOCH}',
                               CAST(o_orderdate AS DATE))) FROM orders)
           - max(date_diff('day', DATE '{_RFM_EPOCH}',
                           CAST(o_orderdate AS DATE))) AS rec_days,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS mon_c
  FROM orders GROUP BY o_custkey
), r AS MATERIALIZED (
  SELECT c, mon_c,
    ((row_number() OVER (ORDER BY rec_days, c) - 1) * 4)
      // (count(*) OVER ()) + 1 AS r_q,
    ((row_number() OVER (ORDER BY freq, c) - 1) * 4)
      // (count(*) OVER ()) + 1 AS f_q,
    ((row_number() OVER (ORDER BY mon_c, c) - 1) * 4)
      // (count(*) OVER ()) + 1 AS m_q
  FROM cust
)
SELECT CAST(r_q AS INT) AS r_q, CAST(f_q AS INT) AS f_q,
       CAST(m_q AS INT) AS m_q,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(c) AS BIGINT) AS key_checksum,
       CAST(sum(mon_c) AS BIGINT) AS monetary_cents
FROM r GROUP BY r_q, f_q, m_q
ORDER BY r_q, f_q, m_q
"""


@register("q_agg_rfm_segments", oracle=_RFM_ORACLE)
def q_agg_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-value cube (recency of
    last order, order frequency, monetary total), each scored into
    exact population quartiles, reported as the 4x4x4 segment census
    that CRM/churn dashboards read. Quartile assignment uses the
    equi-depth rank formula of q_window_global_decile
    ((rank-1)*4 div n), exact and tie-total-ordered by (metric,
    custkey), NOT the engine's ntile() — ntile's front-loaded remainder
    distribution is engine-idiosyncratic; the formula replays
    identically anywhere.

    Scale shape: one orders pass builds the per-customer table (three
    combinable aggregates keyed by custkey); it persists — customer-
    sized, consumed by the probe and the rank pass, the re-aggregation
    would double the heaviest shuffle (the ACF daily-table precedent).
    All THREE metrics rank in ONE stacked segmented_group_rank pass
    (group = metric): each metric's values normalize to its own
    0..4095 bucket from a one-row span probe — recency spans ~2500
    days, frequency ~50, money ~10^9 cents, so one shared band would
    collapse frequency into a single cell and recreate the global
    sort. Quartiles pivot back with one custkey-keyed aggregate; the
    output cube is 64 rows."""
    epoch = F.lit(_RFM_EPOCH).cast("date")
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"), epoch).alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cust = persisted(
        o.groupBy("o_custkey").agg(
            F.max("day").cast("long").alias("last_day"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("cents").cast("long").alias("mon_c"),
        )
    )
    probe = cust.agg(
        F.max("last_day").alias("anchor"),
        F.min("last_day").alias("d_lo"),
        F.min("freq").alias("f_lo"),
        F.max("freq").alias("f_hi"),
        F.min("mon_c").alias("m_lo"),
        F.max("mon_c").alias("m_hi"),
    ).first()
    anchor = int(probe["anchor"])
    # per-metric normalized buckets (value-monotonic, 0..4095): the
    # spans differ by orders of magnitude, so each metric gets its own
    # normalization instead of a shared band
    spans = {
        0: (0, anchor - int(probe["d_lo"])),
        1: (int(probe["f_lo"]), int(probe["f_hi"]) - int(probe["f_lo"])),
        2: (int(probe["m_lo"]), int(probe["m_hi"]) - int(probe["m_lo"])),
    }
    metrics = [
        (0, (F.lit(anchor) - F.col("last_day")).cast("long")),
        (1, F.col("freq").cast("long")),
        (2, F.col("mon_c").cast("long")),
    ]
    parts = []
    for m, val in metrics:
        lo, span = spans[m]
        parts.append(
            cust.select(
                F.lit(m).cast("long").alias("m"),
                "o_custkey",
                val.alias("val"),
            ).withColumn(
                # integer div, not float /: money spans overflow the
                # double mantissa long before they overflow int64
                "nb",
                F.expr(f"((val - {lo}L) * 4096) div {span + 1}L"),
            )
        )
    stacked = parts[0].unionByName(parts[1]).unionByName(parts[2])
    ranked, _sizes = segmented_group_rank(
        stacked, "m", "val", ["o_custkey"], bucket_col="nb"
    )
    scored = ranked.select(
        "m",
        "o_custkey",
        (F.expr("((rk - 1) * 4) div n_g") + 1).cast("int").alias("qt"),
    )
    pivoted = scored.groupBy("o_custkey").agg(
        F.max(F.when(F.col("m") == 0, F.col("qt"))).alias("r_q"),
        F.max(F.when(F.col("m") == 1, F.col("qt"))).alias("f_q"),
        F.max(F.when(F.col("m") == 2, F.col("qt"))).alias("m_q"),
    )
    return (
        pivoted.join(cust.select("o_custkey", "mon_c"), "o_custkey")
        .groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("o_custkey").cast("long").alias("key_checksum"),
            F.sum("mon_c").cast("long").alias("monetary_cents"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


# ---------------------------------------------------------------------------
# event-sequence pattern matching (MATCH_RECOGNIZE-style row patterns)
# ---------------------------------------------------------------------------


def _pattern_stats(
    spark: SparkSession, sf_dir: str, closes: Column, ok: Column, *diag: Column
) -> DataFrame:
    """Per-user match stats of the batch pattern family: the view runs
    between a click and a run that ``closes`` are the candidates, the
    ones where ``ok`` holds are the matches, and ``diag`` adds a query's
    own diagnostic aggregates (over the candidates' ``ok`` and
    ``lead_t``).

    One shuffle on user_id serves all three window passes of
    ``pattern_runs`` and the user-sized aggregate; state collapses from
    events to runs before the pattern predicate."""
    runs = pattern_runs(table(spark, sf_dir, "events"))
    cand = runs.filter(
        (F.col("etype") == "view") & (F.col("lag_t") == "click") & closes
    ).select("user_id", "run_len", "run_start_us", "lead_t", ok.alias("ok"))
    okl = F.when(F.col("ok"), F.col("run_len"))
    return cand.groupBy("user_id").agg(
        F.count(F.when(F.col("ok"), F.lit(1))).cast("long").alias("n_matches"),
        F.coalesce(F.sum(okl), F.lit(0)).cast("long").alias("views_matched"),
        F.coalesce(F.max(okl), F.lit(0)).cast("long").alias(
            "longest_view_run"
        ),
        F.timestamp_micros(F.min(F.when(F.col("ok"), F.col("run_start_us"))))
        .cast("string")
        .alias("first_match_start"),
        *diag,
    )


def _rejected(name: str) -> Column:
    return F.count(F.when(~F.col("ok"), F.lit(1))).cast("long").alias(name)


# The RLE + lag/lead replay every batch pattern oracle starts from.
_PATTERN_CTX_SQL = """
WITH ev AS (
  SELECT user_id, ts, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), flagged AS (
  SELECT *, CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY rn)
                      IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
  FROM ev
), numbered AS (
  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY rn) AS run_idx
  FROM flagged
), runs AS (
  SELECT user_id, run_idx, min(event_type) AS etype,
         CAST(count(*) AS BIGINT) AS run_len, min(ts) AS run_start
  FROM numbered GROUP BY user_id, run_idx
), ctx AS (
  SELECT *, lag(etype)  OVER (PARTITION BY user_id ORDER BY run_idx) AS prev_t,
            lead(etype) OVER (PARTITION BY user_id ORDER BY run_idx) AS next_t
  FROM runs
)"""

PATTERN_ORACLE = _PATTERN_CTX_SQL + """, m AS (
  SELECT user_id, run_len, run_start
  FROM ctx WHERE etype = 'view' AND prev_t = 'click' AND next_t = 'purchase'
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_matches,
       CAST(sum(run_len) AS BIGINT) AS views_matched,
       CAST(max(run_len) AS BIGINT) AS longest_view_run,
       CAST(min(run_start) AS VARCHAR) AS first_match_start
FROM m GROUP BY user_id
"""


@register("q_events_pattern_match", oracle=PATTERN_ORACLE)
def q_events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style row-pattern detection over the event log:
    per user (rows ordered by ts, event_id), find every maximal match of
    the pattern ``click view+ purchase`` — a click run, then one-or-more
    consecutive views, then a purchase — and publish per-user match
    stats (SQL:2016 row-pattern semantics with greedy quantifiers;
    Spark has no MATCH_RECOGNIZE, so this is the composition that
    replaces it).

    The classic translation: (1) run-length encode each user's
    event-type sequence — a change flag via ``lag`` and a conditional
    running sum turn consecutive equal types into (user, run_idx)
    groups, so ``view+`` collapses to ONE row no matter how long;
    (2) the pattern becomes a plain predicate over each run and its
    lag/lead neighbours (maximality of runs makes the greedy ``+``
    exact — a run cannot extend, so adjacency IS the full pattern);
    (3) aggregate matches per user. Any regex-over-symbols pattern
    with runs and single symbols compiles the same way; alternation
    adds OR-predicates, not new shuffles.

    Scale shape: every window partitions by user_id — per-user event
    counts are bounded in any real log (the sessionize/funnel family's
    assumption), user cardinality spreads the shuffle, and nothing is
    corpus-global. The run-length encoding is also WHY this survives
    100 TB: state per user collapses from events to runs before the
    pattern join, and the final aggregate is run-sized, not
    event-sized. One shuffle on user_id serves all three window passes
    (same partitioning reused by Catalyst), then one user-sized
    aggregate.
    """
    return _pattern_stats(
        spark,
        sf_dir,
        F.col("lead_t").isin(*MATCH.terminals),
        MATCH.accepts(F.col("run_len"), F.col("lead_t")),
    )


# ---------------------------------------------------------------------------
# quantified row patterns: click view{n,m} purchase
# ---------------------------------------------------------------------------

PATTERN_Q_ORACLE = _PATTERN_CTX_SQL + f""", mq AS (
  SELECT user_id, run_len, run_start,
         run_len BETWEEN {QUANTIFIED.lo} AND {QUANTIFIED.hi} AS ok
  FROM ctx WHERE etype = 'view' AND prev_t = 'click' AND next_t = 'purchase'
)
SELECT user_id,
       CAST(count(*) FILTER (WHERE ok) AS BIGINT) AS n_matches,
       CAST(COALESCE(sum(run_len) FILTER (WHERE ok), 0) AS BIGINT)
         AS views_matched,
       CAST(COALESCE(max(run_len) FILTER (WHERE ok), 0) AS BIGINT)
         AS longest_view_run,
       CAST(min(run_start) FILTER (WHERE ok) AS VARCHAR) AS first_match_start,
       CAST(count(*) FILTER (WHERE NOT ok) AS BIGINT) AS n_quant_rejected
FROM mq GROUP BY user_id
"""


@register("q_events_pattern_quantified", oracle=PATTERN_Q_ORACLE)
def q_events_pattern_quantified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified row pattern ``click view{{n,m}} purchase`` (SQL:2016
    bounded quantifier, n=2 m=4): identical RLE + lag/lead composition
    as q_events_pattern_match — the bounded quantifier is NOT new
    machinery, it is one more predicate on the maximal run's length.
    Maximality makes the semantics exact: the view run between a click
    and a purchase is consumed whole, so ``view{{2,4}}`` holds iff
    2 <= run_len <= 4 (a longer run's tail views would sit between the
    consumed views and the purchase, breaking adjacency — greedy
    MATCH_RECOGNIZE agrees). Publishes per-user match stats PLUS the
    count of candidates rejected only by the quantifier, so the bound
    is provably non-vacuous (the q_dedup_line_weighting planted-fixture
    doctrine, enforced in pytest).

    Scale shape: unchanged from the unquantified form — one user_id
    shuffle serves all windows, state collapses events→runs before the
    predicate, final aggregate is run-sized.
    """
    return _pattern_stats(
        spark,
        sf_dir,
        F.col("lead_t").isin(*QUANTIFIED.terminals),
        QUANTIFIED.accepts(F.col("run_len"), F.col("lead_t")),
        _rejected("n_quant_rejected"),
    )


# ---------------------------------------------------------------------------
# pattern alternation: click view{n,m} (purchase|signup)
# ---------------------------------------------------------------------------

_PA_ALTS_SQL = ", ".join(f"'{t}'" for t in ALTERNATION.terminals)

PATTERN_ALT_ORACLE = _PATTERN_CTX_SQL + f""", ma AS (
  SELECT user_id, run_len, run_start, next_t,
         (run_len BETWEEN {ALTERNATION.lo} AND {ALTERNATION.hi})
           AND next_t IN ({_PA_ALTS_SQL}) AS ok
  FROM ctx
  WHERE etype = 'view' AND prev_t = 'click' AND next_t IS NOT NULL
)
SELECT user_id,
       CAST(count(*) FILTER (WHERE ok) AS BIGINT) AS n_matches,
       CAST(COALESCE(sum(run_len) FILTER (WHERE ok), 0) AS BIGINT)
         AS views_matched,
       CAST(COALESCE(max(run_len) FILTER (WHERE ok), 0) AS BIGINT)
         AS longest_view_run,
       CAST(min(run_start) FILTER (WHERE ok) AS VARCHAR) AS first_match_start,
       CAST(count(*) FILTER (WHERE ok AND next_t = 'purchase') AS BIGINT)
         AS n_branch_purchase,
       CAST(count(*) FILTER (WHERE ok AND next_t = 'signup') AS BIGINT)
         AS n_branch_signup,
       CAST(count(*) FILTER (WHERE NOT ok) AS BIGINT) AS n_alt_rejected
FROM ma GROUP BY user_id
"""


@register("q_events_pattern_alternation", oracle=PATTERN_ALT_ORACLE)
def q_events_pattern_alternation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Alternation row pattern ``click view{{n,m}} (purchase|signup)``
    (SQL:2016 alternation over the terminal symbol, bounds shared with
    q_events_pattern_quantified): the IDENTICAL RLE + lag/lead
    composition — alternation over maximal runs is an ALPHABET
    predicate (``next_t IN (...)``) on the closing neighbour, not new
    machinery, exactly as the bounded quantifier was one predicate on
    the run length. This completes the practical MATCH_RECOGNIZE
    subset: symbols, +, {{n,m}}, and (B|C) all compile to predicates
    over the run table.

    Publishes per-user match stats, the per-branch accepted counts
    (so the alternation is provably non-vacuous — BOTH branches must
    fire at sf0.01, pinned in pytest), and the count of candidates
    rejected by the quantifier-or-alphabet test.

    Scale shape: unchanged — one user_id shuffle serves all windows,
    state collapses events→runs before the predicate, final aggregate
    is run-sized."""
    ok = F.col("ok")
    return _pattern_stats(
        spark,
        sf_dir,
        F.col("lead_t").isNotNull(),
        ALTERNATION.accepts(F.col("run_len"), F.col("lead_t")),
        F.count(F.when(ok & (F.col("lead_t") == "purchase"), F.lit(1)))
        .cast("long")
        .alias("n_branch_purchase"),
        F.count(F.when(ok & (F.col("lead_t") == "signup"), F.lit(1)))
        .cast("long")
        .alias("n_branch_signup"),
        _rejected("n_alt_rejected"),
    )


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing (double exponential) over daily revenue
# ---------------------------------------------------------------------------

# alpha = 3/10, beta = 1/10 as exact integer fractions; division is
# TRUNCATING on both engines (DuckDB's integer // truncates toward
# zero; the driver recursion mirrors it explicitly — Python's // floors
# and WOULD drift on negative trend values)
_HOLT_ORACLE = """
WITH RECURSIVE d AS MATERIALIZED (
  SELECT CAST(l_shipdate AS DATE) AS day,
         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS y
  FROM lineitem GROUP BY 1
), s AS MATERIALIZED (
  -- MATERIALIZED is load-bearing: inlined, the day aggregate re-runs
  -- inside EVERY recursive iteration (~2.5k corpus scans — the sf1
  -- check went from >400 s to 3.9 s with the hint)
  SELECT day, y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
  FROM d
), h AS (
  SELECT CAST(1 AS BIGINT) AS t,
         (SELECT y FROM s WHERE t = 1) AS l,
         (SELECT y FROM s WHERE t = 2) - (SELECT y FROM s WHERE t = 1) AS b
  UNION ALL
  SELECT s.t,
         (3 * s.y + 7 * (h.l + h.b)) // 10,
         ((3 * s.y + 7 * (h.l + h.b)) // 10 - h.l + 9 * h.b) // 10
  FROM h JOIN s ON s.t = h.t + 1
)
SELECT s.t, CAST(s.day AS VARCHAR) AS day, s.y AS y_c,
       hp.l + hp.b AS fitted_c, s.y - hp.l - hp.b AS resid_c,
       h.l AS level_c, h.b AS trend_c
FROM s JOIN h ON h.t = s.t JOIN h hp ON hp.t = s.t - 1
"""


def _tdiv(a: int, b: int) -> int:
    """Truncating integer division (toward zero) — DuckDB's // for
    BIGINT; Python's // floors, which differs on negatives."""
    q = abs(a) // b
    return q if a >= 0 else -q


def _holt_steps(ys: list[int]) -> list[tuple[int, int, int, int, int, int]]:
    """The Holt recursion itself, shared VERBATIM by the global driver
    query (q_timeseries_holt) and the per-key applyInPandas form
    (q_timeseries_holt_bykey): α=3/10, β=1/10 exact integer-cent
    arithmetic, truncating division. Returns one row per step t≥2:
    (t, y, fitted, resid, level, trend). Empty for series shorter than
    2 points (no trend definable). Keeping ONE implementation is the
    equivalence argument — the per-key form cannot drift from the
    hash-pinned global contract."""
    if len(ys) < 2:
        return []
    lvl, tr = ys[0], ys[1] - ys[0]
    out = []
    for t in range(2, len(ys) + 1):
        y = ys[t - 1]
        fitted = lvl + tr
        nl = _tdiv(3 * y + 7 * (lvl + tr), 10)
        nb = _tdiv(nl - lvl + 9 * tr, 10)
        out.append((t, y, fitted, y - fitted, nl, nb))
        lvl, tr = nl, nb
    return out


# the step columns both smoothing recursions publish; Holt-Winters adds
# its seasonal state
_HOLT_DDL = (
    "t long, day string, y_c long, fitted_c long, resid_c long, "
    "level_c long, trend_c long"
)
_HW_DDL = _HOLT_DDL + ", seasonal_c long"


def _day_cents() -> Column:
    """The day's revenue ``y`` in integer cents: an exact, combinable
    sum of the per-line cent-rounded prices."""
    return (
        F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("y")
    )


def _smooth_global(spark: SparkSession, sf_dir: str, steps, ddl: str) -> DataFrame:
    """The daily-revenue series smoothed by ``steps`` on the driver: one
    combinable day aggregate, then the O(days) recursion over its
    collected rows. A series too short for ``steps`` gives an empty
    frame, as in the oracles."""
    daily = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.to_date("l_shipdate").alias("day"))
        .agg(_day_cents())
        .collect()
    )
    daily.sort(key=lambda r: r["day"])
    ys = [int(r["y"]) for r in daily]
    days = [str(r["day"]) for r in daily]
    out = [(t, days[t - 1], *rest) for (t, *rest) in steps(ys)]
    return local_frame(spark, out, ddl)


def _smooth_bykey(spark: SparkSession, sf_dir: str, steps, ddl: str) -> DataFrame:
    """One daily-revenue series per supplier nation, each smoothed by
    ``steps`` inside ``applyInPandas``: broadcast dimension joins, one
    combinable (nation, day) aggregate, one shuffle to group series."""
    li = table(spark, sf_dir, "lineitem")
    su = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    na = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    daily = (
        li.select("l_suppkey", "l_shipdate", "l_extendedprice")
        .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.to_date("l_shipdate").alias("day"),
        )
        .agg(_day_cents())
    )
    out_schema = "nation string, " + ddl
    cols = [c.split()[0] for c in out_schema.split(", ")]

    def smooth(pdf):
        import pandas as pd

        pdf = pdf.sort_values("day")
        ys = [int(v) for v in pdf["y"]]
        days = [str(v) for v in pdf["day"]]
        nation = str(pdf["nation"].iloc[0])
        rows = [(nation, t, days[t - 1], *rest) for (t, *rest) in steps(ys)]
        return pd.DataFrame(rows, columns=cols)

    return daily.groupBy("nation").applyInPandas(smooth, out_schema)


@register("q_timeseries_holt", oracle=_HOLT_ORACLE)
def q_timeseries_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing (double exponential, Holt 1957) over
    the daily-revenue series — the trend-aware sibling of the EWMA
    (single smoothing) window: coupled recursions
    l_t = α·y_t + (1−α)(l_{t−1}+b_{t−1}),
    b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1} with α=3/10, β=1/10 held as
    exact integer-cent arithmetic, publishing every day's one-step
    forecast l_{t−1}+b_{t−1}, residual, level and trend. The DuckDB
    oracle replays the recursion as a RECURSIVE CTE, so hash equality
    pins every step of the 2,498-day recursion, not a summary of it.

    Why the recursion runs on the DRIVER: coupled recurrences are not
    window-expressible (each output feeds the next input through TWO
    interacting states), and the series is CALENDAR-BOUNDED — one
    corpus pass reduces 100 TB of facts to one row per day (the
    combinable groupBy), and ~2.5k rows is the KLL-merge precedent's
    regime where tiny-relation algebra as Spark jobs is pure scheduler
    overhead. Corpus work stays distributed (one aggregate scan);
    state stays O(days); the published literal rows round-trip through
    a DataFrame for the gate. Division is truncating on BOTH engines
    (DuckDB // truncates toward zero; the driver mirrors it) — the
    trend state goes negative on downtrends, where Python's flooring
    // would silently drift one cent and break the hash.

    Scale shape: the only corpus-sized work is the day groupBy (fully
    combinable, date-dictionary output); everything after is O(days)
    on the driver. A deployment with per-key series (thousands of
    SKUs) lifts the same recursion into applyInPandas keyed by series
    — the per-key state is identical; this operator pins the
    arithmetic contract that implementation must reproduce.
    """
    return _smooth_global(spark, sf_dir, _holt_steps, _HOLT_DDL)


# ---------------------------------------------------------------------------
# Per-key Holt smoothing: thousands of series in parallel via applyInPandas
# ---------------------------------------------------------------------------

_HOLT_BYKEY_ORACLE = """
WITH RECURSIVE d AS MATERIALIZED (
  SELECT n.n_name AS nation, CAST(l.l_shipdate AS DATE) AS day,
         CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS y
  FROM lineitem l
  JOIN supplier su ON l.l_suppkey = su.s_suppkey
  JOIN nation n ON su.s_nationkey = n.n_nationkey
  GROUP BY 1, 2
), s AS MATERIALIZED (
  -- MATERIALIZED is load-bearing (round-9 lesson): inlined, the
  -- 3-table day aggregate re-runs inside EVERY recursive iteration
  SELECT nation, day, y,
         CAST(row_number() OVER (PARTITION BY nation ORDER BY day)
              AS BIGINT) AS t
  FROM d
), h AS (
  -- anchor per key: (l_1, b_1) = (y_1, y_2 - y_1); keys with a single
  -- day never anchor (no s2 row at t=2) and publish nothing
  SELECT s1.nation, CAST(1 AS BIGINT) AS t, s1.y AS l, s2.y - s1.y AS b
  FROM s s1 JOIN s s2 ON s2.nation = s1.nation AND s2.t = 2
  WHERE s1.t = 1
  UNION ALL
  SELECT s.nation, s.t,
         (3 * s.y + 7 * (h.l + h.b)) // 10,
         ((3 * s.y + 7 * (h.l + h.b)) // 10 - h.l + 9 * h.b) // 10
  FROM h JOIN s ON s.nation = h.nation AND s.t = h.t + 1
)
SELECT s.nation, s.t, CAST(s.day AS VARCHAR) AS day, s.y AS y_c,
       hp.l + hp.b AS fitted_c, s.y - hp.l - hp.b AS resid_c,
       h.l AS level_c, h.b AS trend_c
FROM s JOIN h ON h.nation = s.nation AND h.t = s.t
JOIN h hp ON hp.nation = s.nation AND hp.t = s.t - 1
"""


@register("q_timeseries_holt_bykey", oracle=_HOLT_BYKEY_ORACLE)
def q_timeseries_holt_bykey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing PER SERIES — the production shape
    q_timeseries_holt's docstring promises: one daily-revenue series per
    supplier nation, every series smoothed in parallel inside
    ``applyInPandas``, ZERO driver-side data. The recursion body is
    literally ``_holt_steps`` — the same function the hash-pinned global
    query runs on the driver — so the per-key form cannot drift from the
    verified arithmetic contract (truncating division, integer cents;
    hypothesis-pinned at tests/test_properties.py).

    Scale shape: corpus work is one broadcast-dimension join (supplier +
    nation never shuffle the fact table) and one combinable
    groupBy(nation, day) — at 100 TB that is a map-side-partial
    aggregate down to |keys| x |days| rows. The shuffle that feeds
    applyInPandas moves only those aggregated rows, grouped by key, and
    per-key state is O(days): a deployment with thousands of SKU-level
    series runs the identical plan, one pandas group per series, each a
    few-thousand-row DataFrame. No window function spans more than one
    key, so there is no single-partition global sort anywhere.

    Ref: delta_load.py has no time-series analogue; this extends the
    mandated §2.B statistics family (VERDICT r9 item 1).
    """
    return _smooth_bykey(spark, sf_dir, _holt_steps, _HOLT_DDL)


# ---------------------------------------------------------------------------
# Holt-Winters additive seasonal smoothing (triple exponential, m=7)
# ---------------------------------------------------------------------------

# alpha=3/10, beta=1/10, gamma=2/10 as exact integer fractions; all
# divisions truncate on both engines (the Holt contract, extended with
# a third coupled state: a rolling 7-slot day-of-week seasonal vector)
_HW_M = 7

_HW_ORACLE = f"""
WITH RECURSIVE d AS MATERIALIZED (
  SELECT CAST(l_shipdate AS DATE) AS day,
         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS y
  FROM lineitem GROUP BY 1
), s AS MATERIALIZED (
  SELECT day, y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
  FROM d
), init AS MATERIALIZED (
  SELECT (SELECT CAST(sum(y) AS BIGINT) FROM s WHERE t <= {_HW_M})
           // {_HW_M} AS l0,
         ((SELECT CAST(sum(y) AS BIGINT) FROM s
           WHERE t > {_HW_M} AND t <= {2 * _HW_M}) // {_HW_M}
          - (SELECT CAST(sum(y) AS BIGINT) FROM s WHERE t <= {_HW_M})
            // {_HW_M}) // {_HW_M} AS b0,
         (SELECT list(y - (SELECT CAST(sum(y) AS BIGINT) FROM s
                           WHERE t <= {_HW_M}) // {_HW_M} ORDER BY t)
          FROM s WHERE t <= {_HW_M}) AS sv0
), h AS (
  SELECT CAST({_HW_M} AS BIGINT) AS t, l0 AS l, b0 AS b, sv0 AS sv
  FROM init WHERE (SELECT max(t) FROM s) >= {2 * _HW_M}
  UNION ALL
  SELECT s.t,
         (3 * (s.y - h.sv[1]) + 7 * (h.l + h.b)) // 10,
         ((3 * (s.y - h.sv[1]) + 7 * (h.l + h.b)) // 10 - h.l + 9 * h.b)
           // 10,
         list_append(h.sv[2:{_HW_M}],
           (2 * (s.y - (3 * (s.y - h.sv[1]) + 7 * (h.l + h.b)) // 10)
            + 8 * h.sv[1]) // 10)
  FROM h JOIN s ON s.t = h.t + 1
)
SELECT s.t, CAST(s.day AS VARCHAR) AS day, s.y AS y_c,
       hp.l + hp.b + hp.sv[1] AS fitted_c,
       s.y - hp.l - hp.b - hp.sv[1] AS resid_c,
       h.l AS level_c, h.b AS trend_c, h.sv[{_HW_M}] AS seasonal_c
FROM s JOIN h ON h.t = s.t JOIN h hp ON hp.t = s.t - 1
"""


def _hw_steps(
    ys: list[int],
) -> list[tuple[int, int, int, int, int, int, int]]:
    """The Holt-Winters recursion: returns one row per step t > 2m
    ... t in [m+1, n]: (t, y, fitted, resid, level, trend, seasonal).
    Empty when fewer than 2 seasons exist (initialization needs two
    full weeks). All arithmetic is the Holt integer-cent contract plus
    the rolling seasonal slot s_t = (2(y_t - l_t) + 8 s_{t-m}) tdiv 10;
    fitted_t = l_{t-1} + b_{t-1} + s_{t-m}."""
    m = _HW_M
    if len(ys) < 2 * m:
        return []
    l0 = _tdiv(sum(ys[:m]), m)
    b0 = _tdiv(_tdiv(sum(ys[m : 2 * m]), m) - l0, m)
    sv = [y - l0 for y in ys[:m]]  # s_1..s_m, oldest first
    lvl, tr = l0, b0
    out = []
    for t in range(m + 1, len(ys) + 1):
        y = ys[t - 1]
        stm = sv[0]
        fitted = lvl + tr + stm
        nl = _tdiv(3 * (y - stm) + 7 * (lvl + tr), 10)
        nb = _tdiv(nl - lvl + 9 * tr, 10)
        ns = _tdiv(2 * (y - nl) + 8 * stm, 10)
        out.append((t, y, fitted, y - fitted, nl, nb, ns))
        sv = sv[1:] + [ns]
        lvl, tr = nl, nb
    return out


@register("q_timeseries_holt_winters", oracle=_HW_ORACLE)
def q_timeseries_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing (triple exponential,
    Winters 1960) over the daily-revenue series with a day-of-week
    season (m=7): THREE coupled integer recursions — level, trend, and
    a rolling 7-slot seasonal vector —
    l_t = α(y_t − s_{{t−m}}) + (1−α)(l_{{t−1}}+b_{{t−1}}),
    b_t = β(l_t − l_{{t−1}}) + (1−β)b_{{t−1}},
    s_t = γ(y_t − l_t) + (1−γ)s_{{t−m}}, α,β,γ = 3/10, 1/10, 2/10,
    publishing every day's seasonal one-step forecast
    l+b+s_{{t−m}}, residual, and all three states. Initialization is
    deterministic (first-week mean level, week-over-week per-day
    trend, first-week deviations as the seasonal vector) and the
    operator publishes nothing below two full seasons — the oracle's
    anchor carries the same guard.

    The DuckDB oracle replays the recursion as a RECURSIVE CTE whose
    working row carries the seasonal vector AS A LIST (sliced and
    re-appended each step), so hash equality pins all ~2.5k steps of
    all three states — the Holt verification strategy extended to
    vector-valued recursion state. Division truncates on both engines
    (the pinned _tdiv contract; seasonal deviations go negative, where
    Python's flooring // would drift).

    Scale shape: identical to q_timeseries_holt — the only
    corpus-sized work is the combinable day groupBy; the recursion is
    O(days) driver-side with O(m) state (the tiny-relation precedent),
    and the per-key generalization is exactly
    q_timeseries_holt_bykey's applyInPandas lift with sv in the pandas
    state.
    """
    return _smooth_global(spark, sf_dir, _hw_steps, _HW_DDL)


# ---------------------------------------------------------------------------
# Per-key Holt-Winters: seasonal smoothing for every series in parallel
# ---------------------------------------------------------------------------

_HW_BYKEY_ORACLE = f"""
WITH RECURSIVE d AS MATERIALIZED (
  SELECT n.n_name AS nation, CAST(l.l_shipdate AS DATE) AS day,
         CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS y
  FROM lineitem l
  JOIN supplier su ON l.l_suppkey = su.s_suppkey
  JOIN nation n ON su.s_nationkey = n.n_nationkey
  GROUP BY 1, 2
), s AS MATERIALIZED (
  SELECT nation, day, y,
         CAST(row_number() OVER (PARTITION BY nation ORDER BY day)
              AS BIGINT) AS t
  FROM d
), init AS MATERIALIZED (
  SELECT w1.nation,
         w1.sy // {_HW_M} AS l0,
         (w2.sy // {_HW_M} - w1.sy // {_HW_M}) // {_HW_M} AS b0,
         w1.sv AS yv1
  FROM (SELECT nation, CAST(sum(y) AS BIGINT) AS sy,
               list(y ORDER BY t) AS sv
        FROM s WHERE t <= {_HW_M} GROUP BY nation) w1
  JOIN (SELECT nation, CAST(sum(y) AS BIGINT) AS sy
        FROM s WHERE t > {_HW_M} AND t <= {2 * _HW_M}
        GROUP BY nation
        HAVING count(*) = {_HW_M}) w2
    ON w2.nation = w1.nation
  JOIN (SELECT nation FROM s GROUP BY nation
        HAVING max(t) >= {2 * _HW_M}) ok
    ON ok.nation = w1.nation
), h AS (
  SELECT nation, CAST({_HW_M} AS BIGINT) AS t, l0 AS l, b0 AS b,
         list_transform(yv1, v -> v - l0) AS sv
  FROM init
  UNION ALL
  SELECT s.nation, s.t,
         (3 * (s.y - h.sv[1]) + 7 * (h.l + h.b)) // 10,
         ((3 * (s.y - h.sv[1]) + 7 * (h.l + h.b)) // 10 - h.l + 9 * h.b)
           // 10,
         list_append(h.sv[2:{_HW_M}],
           (2 * (s.y - (3 * (s.y - h.sv[1]) + 7 * (h.l + h.b)) // 10)
            + 8 * h.sv[1]) // 10)
  FROM h JOIN s ON s.nation = h.nation AND s.t = h.t + 1
)
SELECT s.nation, s.t, CAST(s.day AS VARCHAR) AS day, s.y AS y_c,
       hp.l + hp.b + hp.sv[1] AS fitted_c,
       s.y - hp.l - hp.b - hp.sv[1] AS resid_c,
       h.l AS level_c, h.b AS trend_c, h.sv[{_HW_M}] AS seasonal_c
FROM s
JOIN h ON h.nation = s.nation AND h.t = s.t
JOIN h hp ON hp.nation = s.nation AND hp.t = s.t - 1
"""


@register("q_timeseries_holt_winters_bykey", oracle=_HW_BYKEY_ORACLE)
def q_timeseries_holt_winters_bykey(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Holt-Winters seasonal smoothing PER SERIES: one daily-revenue
    series per supplier nation, every series triple-smoothed in
    parallel inside applyInPandas — completing the smoothing-family
    square (global/per-key x Holt/Holt-Winters). The recursion body is
    ``_hw_steps`` verbatim (shared with the hash-pinned global query),
    and the per-key oracle adds PARTITION BY to the list-state
    recursive CTE; the two-full-seasons guard holds per key (nations
    with <14 days publish nothing — enforced by the oracle's HAVING
    count(*) = m on week 2, which also matches _hw_steps' len < 2m
    early return).

    Scale shape: identical to q_timeseries_holt_bykey — broadcast
    dimension joins (the fact table never shuffles for them), one
    combinable (nation, day) aggregate, one shuffle to group series,
    O(days + m) state per pandas group, no corpus-global windows.
    """
    return _smooth_bykey(spark, sf_dir, _hw_steps, _HW_DDL)
