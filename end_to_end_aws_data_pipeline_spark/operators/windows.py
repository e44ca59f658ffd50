"""Window-function operators: ranking, analytic, and framed aggregates.

All window sums aggregate through DECIMAL (see functions/aggs.py):
running-sum implementations differ across engines (sequential scan vs
segment tree), so floating-point framed sums are only reproducible when
the accumulation domain is exact.

Scale notes: a window shuffles once on its partition key. Partition
keys here (orderkey, custkey, user_id) have bounded group sizes, so no
single task ever materializes an unbounded frame; the sort within each
partition is the only extra cost. Skewed partition keys would be the
risk at 100 TB — these keys are near-uniform by construction, and
`plans/scale.py::salted_agg` is the salting pattern for ones that are
not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.catalog import table
from end_to_end_aws_data_pipeline_spark.functions.aggs import stable_round
from end_to_end_aws_data_pipeline_spark.registry import register

# ---------------------------------------------------------------------------
# top-k per group (ranking)
# ---------------------------------------------------------------------------

_TOPK_ORACLE = """
SELECT l_orderkey, l_linenumber, l_extendedprice, rn
FROM (
  SELECT l_orderkey, l_linenumber, l_extendedprice,
         row_number() OVER (
           PARTITION BY l_orderkey
           ORDER BY l_extendedprice DESC, l_linenumber
         ) AS rn
  FROM lineitem
)
WHERE rn <= 2
"""


@register("q_window_topk_per_group", oracle=_TOPK_ORACLE)
def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 line items per order by price (row_number ≤ k).

    The unique l_linenumber tiebreaker makes row_number deterministic —
    without it, ranking ties are engine-dependent and unreproducible.
    """
    li = table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_linenumber")
    )
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
    )


_RANK_ORACLE = """
SELECT
  c_nationkey, c_custkey, c_acctbal,
  rank()       OVER w AS rnk,
  dense_rank() OVER w AS drnk,
  ntile(4)     OVER w AS quartile
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
"""


@register("q_window_rank_dense_ntile", oracle=_RANK_ORACLE)
def q_window_rank_dense_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile over a deterministic total order."""
    c = table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return c.select(
        "c_nationkey",
        "c_custkey",
        "c_acctbal",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


# ---------------------------------------------------------------------------
# analytic functions: lag / lead / first / last
# ---------------------------------------------------------------------------

_LAG_ORACLE = """
SELECT
  user_id, event_id, ts, value,
  floor((value - lag(value) OVER w) * 1000000 + 0.5) / 1000000 AS delta_prev,
  lead(event_type) OVER w AS next_type,
  first_value(event_type) OVER w AS first_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register("q_window_lag_lead", oracle=_LAG_ORACLE)
def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event deltas: lag/lead/first over an event-time order."""
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        stable_round(F.col("value") - F.lag("value").over(w), 6).alias(
            "delta_prev"
        ),
        F.lead("event_type").over(w).alias("next_type"),
        F.first("event_type").over(w).alias("first_type"),
    )


# ---------------------------------------------------------------------------
# framed aggregates: running totals and sliding frames
# ---------------------------------------------------------------------------

_RUNNING_ORACLE = """
SELECT
  o_custkey, o_orderkey, o_orderdate,
  floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS DOUBLE) * 100 + 0.5) / 100 AS running_spend,
  CAST(count(*) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS BIGINT) AS order_seq
FROM orders
"""


@register("q_window_running_total", oracle=_RUNNING_ORACLE)
def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-customer spend (UNBOUNDED PRECEDING .. CURRENT ROW).

    The sum runs in DECIMAL so the running total is exact and
    independent of the engine's frame-evaluation strategy.
    """
    o = table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        stable_round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"),
            2,
        ).alias("running_spend"),
        F.count(F.lit(1)).over(w).alias("order_seq"),
    )


_SLIDING_ORACLE = """
SELECT
  o_custkey, o_orderkey, o_orderdate,
  floor(
    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
    / count(*) OVER w * 1000000 + 0.5) / 1000000 AS moving_avg_3
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


@register("q_window_sliding_frame", oracle=_SLIDING_ORACLE)
def q_window_sliding_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-row moving average via exact windowed sum / count (avg over a
    float frame is engine-order-dependent; sum-in-decimal is not)."""
    o = table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, W.currentRow)
    )
    exact_sum = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        stable_round(exact_sum / F.count(F.lit(1)).over(w), 6).alias(
            "moving_avg_3"
        ),
    )


_RANGE_FRAME_ORACLE = """
SELECT
  c_custkey, c_nationkey, c_acctbal,
  CAST(count(*) OVER w AS BIGINT) AS n_within_500,
  floor(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) OVER w AS DOUBLE)
    * 100 + 0.5) / 100 AS sum_within_500
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal
             RANGE BETWEEN 500.0 PRECEDING AND 500.0 FOLLOWING)
"""


@register("q_window_range_frame", oracle=_RANGE_FRAME_ORACLE)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based RANGE frame: per customer, peers within ±500.0
    account balance in the same nation (frame defined by the ORDER BY
    *value*, not row offsets — well-defined under ties, unlike row
    frames, so no tiebreaker column is needed)."""
    o = table(spark, sf_dir, "customer")
    # non-integral RANGE offsets need SQL window syntax (the PySpark
    # rangeBetween API only accepts integer row values)
    wspec = (
        "PARTITION BY c_nationkey ORDER BY c_acctbal "
        "RANGE BETWEEN 500.0 PRECEDING AND 500.0 FOLLOWING"
    )
    return o.selectExpr(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        f"count(*) OVER ({wspec}) AS n_within_500",
        f"floor(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) OVER ({wspec}) "
        f"AS DOUBLE) * 100 + 0.5) / 100 AS sum_within_500",
    )


_PCTRANK_ORACLE = """
SELECT
  c_nationkey, c_custkey, c_acctbal,
  -- floor(x*1e6+0.5)/1e6, not round(x,6): the rank ratios are exact
  -- rationals whose doubles match across engines, but round()'s
  -- half-up differs on decimal-expansion ties (3/15000 rows at sf0.1)
  floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000 AS pct_rank,
  floor(cume_dist()    OVER w * 1000000 + 0.5) / 1000000 AS cume,
  CAST(ntile(10) OVER w AS INT)   AS decile
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
"""


@register("q_window_percent_rank", oracle=_PCTRANK_ORACLE)
def q_window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution functions: percent_rank / cume_dist / ntile deciles
    over a deterministic total order (both are rank ratios — exact
    rationals in double, identical across engines; published through
    the tie-free floor(x*1e6+0.5)/1e6 stabilizer, see oracle note)."""
    c = table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")

    def stable6(col):
        return F.floor(col * 1_000_000 + 0.5) / 1_000_000

    return c.select(
        "c_nationkey",
        "c_custkey",
        "c_acctbal",
        stable6(F.percent_rank().over(w)).alias("pct_rank"),
        stable6(F.cume_dist().over(w)).alias("cume"),
        F.ntile(10).over(w).alias("decile"),
    )


# ---------------------------------------------------------------------------
# exponentially-weighted moving average via lag composition
# ---------------------------------------------------------------------------

_EWMA_DEPTH = 8  # taps: weights 2^-(i) for i = 0..7, alpha = 0.5
_EWMA_WEIGHTS = [256 >> i for i in range(_EWMA_DEPTH)]  # 256,128,...,2
_EWMA_WSUM = sum(_EWMA_WEIGHTS)  # 510

_EWMA_ORACLE = f"""
WITH v AS (
  SELECT user_id, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents,
         row_number() OVER w AS rn,
         {", ".join(
            f"lag(CAST(round(value * 100) AS BIGINT), {i}) OVER w AS x{i}"
            for i in range(1, _EWMA_DEPTH)
         )}
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id,
       CAST(({" + ".join(
          [f"{_EWMA_WEIGHTS[0]} * cents"]
          + [f"{w} * x{i}" for i, w in enumerate(_EWMA_WEIGHTS[1:], start=1)]
       )}) // {_EWMA_WSUM} AS BIGINT) AS ewma_cents
FROM v WHERE rn >= {_EWMA_DEPTH}
"""


@register("q_window_ewma", oracle=_EWMA_ORACLE)
def q_window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α=0.5, 8 taps) of each
    user's event values, exact in integer arithmetic: values quantized
    to cents, binary weights 256..2 (so the weighted sum is a pure
    int64 expression), floor-divided by the weight total. Warm-up rows
    (fewer than 8 prior events) are excluded rather than renormalized —
    the choice that keeps every emitted value a full-depth EWMA.

    The recurrence form of EWMA (s_t = αx + (1-α)s_{t-1}) is
    sequential and engine-hostile; the TAP form used here is one window
    with 7 lag columns — a single shuffle on user_id, whole-stage
    codegen'd, identical cost to any other framed window at 100 TB.
    Eight binary taps carry 255/256 of the geometric mass, so the
    truncation is below cent resolution for typical magnitudes."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    cents = F.round(F.col("value") * 100).cast("long")
    taps = [cents] + [F.lag(cents, i).over(w) for i in range(1, _EWMA_DEPTH)]
    weighted = sum(
        (F.lit(wt) * tap for wt, tap in zip(_EWMA_WEIGHTS, taps)),
        start=F.lit(0).cast("long"),
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            F.row_number().over(w).alias("rn"),
            weighted.alias("wsum"),
        )
        .filter(F.col("rn") >= _EWMA_DEPTH)
        .select(
            "user_id",
            "event_id",
            F.expr(f"wsum div {_EWMA_WSUM}").cast("long").alias("ewma_cents"),
        )
    )


# ---------------------------------------------------------------------------
# time-weighted average (TWAP): step-function integral over event time
# ---------------------------------------------------------------------------

_TWAP_ORACLE = """
WITH seq AS (
  SELECT user_id,
         CAST(round(value * 100) AS BIGINT) AS vc,
         epoch_us(ts) AS t,
         lead(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS t_next
  FROM events
), iv AS (
  SELECT user_id, vc, t_next - t AS dt
  FROM seq WHERE t_next IS NOT NULL
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(dt) AS BIGINT) AS span_us,
       floor(CAST(sum(CAST(vc AS HUGEINT) * dt) AS DOUBLE)
             / (100.0 * sum(dt)) * 1000000 + 0.5) / 1000000 AS twap,
       floor(CAST(sum(CAST(vc AS HUGEINT)) AS DOUBLE)
             / (100.0 * count(*)) * 1000000 + 0.5) / 1000000 AS plain_avg
FROM iv
GROUP BY user_id
HAVING sum(dt) > 0
"""


@register("q_window_twap", oracle=_TWAP_ORACLE)
def q_window_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user: each event's value holds until
    the user's next event (step-function semantics — the standard
    TWAP/time-weighted KPI construction for irregularly-sampled
    series; the financial/monitoring twin of q_window_ewma's
    equal-spaced smoothing).  lead(ts) gives each interval's
    duration; the integral Σ(value·Δt)/Σ(Δt) weights long-held values
    proportionally, which a plain avg (also returned, for the
    contrast this KPI exists to draw) does not.

    Exactness: value in integer cents, Δt in integer microseconds,
    both sums in DECIMAL(38,0) — a cent-µs product is ~1e16 per term,
    so int64 would overflow near 1e3 terms while decimal sums replay
    bit-for-bit in any engine and any partial-aggregation order; the
    single final division runs once per user on identical operands.
    Ordering ties break on event_id, so the step function is
    deterministic under any physical row order.

    Scale shape: one window (partition by user, order by time) — the
    same shuffle any per-entity sequence op pays — then one combinable
    aggregate; no self-join against shifted copies, no driver state.
    Last-event open intervals drop out (HAVING span > 0 guards users
    with a single event)."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros(F.col("ts"))
    seq = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("vc"),
        t.alias("t"),
        F.lead(t).over(w).alias("t_next"),
    ).filter(F.col("t_next").isNotNull())
    iv = seq.select(
        "user_id", "vc", (F.col("t_next") - F.col("t")).alias("dt")
    )
    num = F.sum((F.col("vc") * F.col("dt")).cast("decimal(38,0)"))
    return (
        iv.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
            F.sum("dt").cast("long").alias("span_us"),
            num.alias("_num"),
            F.sum(F.col("vc").cast("decimal(38,0)")).alias("_vs"),
        )
        .filter(F.col("span_us") > 0)
        .select(
            "user_id",
            "n_intervals",
            "span_us",
            stable_round(
                F.col("_num").cast("double") / (100.0 * F.col("span_us")), 6
            ).alias("twap"),
            stable_round(
                F.col("_vs").cast("double") / (100.0 * F.col("n_intervals")),
                6,
            ).alias("plain_avg"),
        )
    )


# ---------------------------------------------------------------------------
# OHLC bars: first/last/extreme aggregation over time buckets
# ---------------------------------------------------------------------------

_OHLC_ORACLE = """
WITH e AS (
  SELECT event_type,
         date_trunc('hour', ts) AS bar_ts,
         CAST(round(value * 100) AS BIGINT) AS vc,
         row_number() OVER (
           PARTITION BY event_type, date_trunc('hour', ts)
           ORDER BY ts, event_id
         ) AS rn_a,
         row_number() OVER (
           PARTITION BY event_type, date_trunc('hour', ts)
           ORDER BY ts DESC, event_id DESC
         ) AS rn_d
  FROM events
)
SELECT event_type, bar_ts,
       floor(max(CASE WHEN rn_a = 1 THEN vc END) + 0.5) / 100 AS open,
       floor(max(vc) + 0.5) / 100 AS high,
       floor(min(vc) + 0.5) / 100 AS low,
       floor(max(CASE WHEN rn_d = 1 THEN vc END) + 0.5) / 100 AS close,
       CAST(count(*) AS BIGINT) AS n_events,
       floor(CAST(sum(CAST(vc AS HUGEINT)) AS DOUBLE)
             / (100.0 * count(*)) * 1000000 + 0.5) / 1000000 AS mean_value
FROM e
GROUP BY event_type, bar_ts
"""


@register("q_window_ohlc", oracle=_OHLC_ORACLE)
def q_window_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type: open/close by event-time order
    (ties broken on event_id, so the bar is deterministic under any
    physical row order), high/low as extremes, plus count and mean —
    the standard downsampling shape for market data and metrics
    rollups (the bar twin of q_window_twap's step integral).

    first()/last() over a grouped aggregate are order-dependent in
    Spark; the deterministic distributed form is two row_number
    windows (ascending and descending) over the same (type, hour)
    partitioning, then a conditional max inside the one hash
    aggregate that already computes high/low/count. One shuffle for
    the windows (reused by the aggregate under AQE — same keys), no
    self-joins, no driver state.

    Exactness: integer cents throughout; the mean's numerator is a
    decimal sum so partial-aggregation order can't move a ULP; the
    single division runs once per bar."""
    ev = table(spark, sf_dir, "events")
    bar = F.date_trunc("hour", F.col("ts"))
    vc = F.round(F.col("value") * 100).cast("long")
    wa = W.partitionBy("event_type", bar).orderBy("ts", "event_id")
    wd = W.partitionBy("event_type", bar).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    e = ev.select(
        "event_type",
        bar.alias("bar_ts"),
        vc.alias("vc"),
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return e.groupBy("event_type", "bar_ts").agg(
        # cents are exact int64: floor(vc + 0.5)/100 publishes the 2-dp
        # value with one correctly-rounded division in both engines
        (F.floor(F.max(F.when(F.col("rn_a") == 1, F.col("vc"))) + 0.5) / 100).alias("open"),
        (F.floor(F.max("vc") + 0.5) / 100).alias("high"),
        (F.floor(F.min("vc") + 0.5) / 100).alias("low"),
        (F.floor(F.max(F.when(F.col("rn_d") == 1, F.col("vc"))) + 0.5) / 100).alias("close"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        stable_round(
            F.sum(F.col("vc").cast("decimal(38,0)")).cast("double")
            / (100.0 * F.count(F.lit(1))),
            6,
        ).alias("mean_value"),
    )


# ---------------------------------------------------------------------------
# maximum drawdown per entity (running-peak window, exact cents)
# ---------------------------------------------------------------------------

_DD_ORACLE = """
WITH seq AS (
  SELECT user_id,
         CAST(round(value * 100) AS BIGINT) AS vc,
         max(CAST(round(value * 100) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS peak
  FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       floor(max(peak) + 0.5) / 100 AS peak_value,
       floor(max(peak - vc) + 0.5) / 100 AS max_drawdown,
       floor(CAST(max(CASE WHEN peak > 0
                           THEN (peak - vc) * 1000000 // peak
                           ELSE 0 END) AS DOUBLE) / 10000.0 * 10000 + 0.5)
         / 10000 AS max_drawdown_pct
FROM seq
GROUP BY user_id
"""


@register("q_window_drawdown", oracle=_DD_ORACLE)
def q_window_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user: the largest peak-to-trough drop of
    the event-value series in time order — the risk metric every
    portfolio/SLA dashboard computes, and the canonical running-peak
    window shape (peak = running max, drawdown = peak − value, answer
    = max of that).

    Exactness: integer cents end-to-end; the percentage is a
    fixed-point integer ratio ((peak−v)·1e6 div peak, 4 decimal
    places) so no float division happens per row — order-free in any
    engine. One window + one aggregate over the same per-user
    partitioning (one shuffle); the running max is computed
    incrementally by both engines (growing-frame MAX keeps state, not
    a rescan — the gapfill lesson does not bite here because the
    frame is [unboundedPreceding, currentRow])."""
    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    vc = F.round(F.col("value") * 100).cast("long")
    seq = ev.select(
        "user_id", vc.alias("vc"), F.max(vc).over(w).alias("peak")
    )
    dd_pct_fp = F.when(
        F.col("peak") > 0,
        F.expr("(peak - vc) * 1000000 div peak"),
    ).otherwise(F.lit(0))
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.floor(F.max("peak") + 0.5) / 100).alias("peak_value"),
        (F.floor(F.max(F.col("peak") - F.col("vc")) + 0.5) / 100).alias(
            "max_drawdown"
        ),
        stable_round(F.max(dd_pct_fp).cast("double") / 10000.0, 4).alias(
            "max_drawdown_pct"
        ),
    )


# ---------------------------------------------------------------------------
# 2-D Pareto skyline per group (segmented prefix-MAX, no per-group
# corpus-sized window)
# ---------------------------------------------------------------------------

_SKY_ORACLE = """
WITH p AS (
  SELECT p_partkey, p_brand,
         CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
         CAST(p_size AS BIGINT) AS size
  FROM part
), scanned AS (
  SELECT *,
         max(size) OVER (
           PARTITION BY p_brand ORDER BY cents
           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS cheaper_max,
         max(size) OVER (PARTITION BY p_brand, cents) AS eq_max
  FROM p
)
SELECT p_brand, p_partkey, cents AS price_cents, size
FROM scanned
WHERE (cheaper_max IS NULL OR cheaper_max < size) AND eq_max <= size
"""

_SKY_BUCKET_CENTS = 1000  # $10 price bands; pick ~domain_span/1000 in prod


@register("q_window_pareto_skyline", oracle=_SKY_ORACLE)
def q_window_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand 2-D Pareto skyline: the parts no brand-mate strictly
    dominates on (cheaper price, larger size) — the classic "best
    trade-off frontier" query (Börzsönyi et al., ICDE 2001).

    A part survives iff no same-brand part has price ≤ AND size ≥ with
    one strict; equivalently its size exceeds the running MAX size of
    all strictly-cheaper parts, and no equal-priced part is strictly
    larger. The oracle states that as one RANGE-frame window per brand.

    Scale shape: brand has FIXED cardinality (25), so a per-brand
    window is a corpus-sized partition at 100 TB — the few-stratum
    anti-pattern. Prefix max is associative, so this reuses the
    **segmented scan** from q_interval_concurrency (sweep.py) with MAX
    as the monoid: local RANGE-frame cummax within (brand, price-band)
    buckets, a per-bucket totals table (bounded by bands × brands, not
    rows) carries the cross-bucket max, and greatest(carry, local)
    reconstructs the global running max exactly.
    """
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        F.round(F.col("p_retailprice") * 100)
        .cast("long")
        .alias("cents"),
        F.col("p_size").cast("long").alias("size"),
    )
    p = p.withColumn("bucket", F.expr(f"cents div {_SKY_BUCKET_CENTS}"))
    # local pass: strictly-cheaper running max inside each price band
    w_local = (
        W.partitionBy("p_brand", "bucket")
        .orderBy("cents")
        .rangeBetween(W.unboundedPreceding, -1)
    )
    local = p.withColumn("local_max", F.max("size").over(w_local))
    # segment totals: one row per (brand, band) — window input bounded
    # by band count, never row count
    carry = (
        p.groupBy("p_brand", "bucket")
        .agg(F.max("size").alias("bmax"))
        .withColumn(
            "carry",
            F.max("bmax").over(
                W.partitionBy("p_brand")
                .orderBy("bucket")
                .rowsBetween(W.unboundedPreceding, -1)
            ),
        )
        .drop("bmax")
    )
    eq = W.partitionBy("p_brand", "cents")
    scanned = (
        local.join(F.broadcast(carry), ["p_brand", "bucket"])
        # greatest() skips nulls: null only when BOTH carry and local
        # are null, i.e. the brand's globally cheapest price point
        .withColumn(
            "cheaper_max", F.greatest(F.col("carry"), F.col("local_max"))
        )
        .withColumn("eq_max", F.max("size").over(eq))
    )
    return scanned.filter(
        (F.col("cheaper_max").isNull() | (F.col("cheaper_max") < F.col("size")))
        & (F.col("eq_max") <= F.col("size"))
    ).select(
        "p_brand",
        "p_partkey",
        F.col("cents").alias("price_cents"),
        "size",
    )
