"""Temporal operators Spark lacks natively: as-of join, gap-based
sessionization, and a bucketized range join for large-large non-equi
joins.

PySpark has no ASOF JOIN operator (SURVEY.md §2.B joins row "as-of").
Rather than dropping to `applyInPandas` + `pd.merge_asof` (Arrow
transfer + Python for every row), the implementation here is a pure
DataFrame composition — union the two sides, one window pass carries
the latest right-side values forward — so the whole operator stays in
JVM codegen and scales as a single shuffle on (key, time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.catalog import local_frame, table
from end_to_end_aws_data_pipeline_spark.functions.aggs import dsum, dsum_sql
from end_to_end_aws_data_pipeline_spark.registry import register

# ---------------------------------------------------------------------------
# library: as-of join
# ---------------------------------------------------------------------------


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """As-of (nearest prior event) join: for each left row, attach the
    right row with the greatest ``right_ts <= left_ts`` per key.

    Implementation: tag and union both sides, then a single window
    ordered by (ts, right-first-on-ties) carries the last non-null
    right values forward; left rows then hold their as-of match.
    Cost: one shuffle on the key + an in-partition sort — the same cost
    profile as a sort-merge join, with no Python in the loop.

    ``right`` must be unique per (key, right_ts); pre-aggregate if not,
    otherwise "the" prior row is ambiguous (any engine would be
    nondeterministic).
    """
    keys = [on] if isinstance(on, str) else list(on)
    ts = "__asof_ts"
    side = "__asof_side"  # 0 = right, 1 = left  (right sorts first on ties)

    l_tagged = left.withColumn(ts, F.col(left_ts)).withColumn(side, F.lit(1))
    for c in value_cols:
        l_tagged = l_tagged.withColumn(f"__r_{c}", F.lit(None).cast(right.schema[c].dataType))
    r_tagged = right.select(
        *keys,
        F.col(right_ts).alias(ts),
        F.lit(0).alias(side),
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
    )
    for c in left.columns:
        if c not in keys and c not in r_tagged.columns:
            r_tagged = r_tagged.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    unioned = l_tagged.unionByName(r_tagged.select(l_tagged.columns))

    w = (
        W.partitionBy(*keys)
        .orderBy(F.col(ts).asc(), F.col(side).asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = unioned.select(
        *left.columns,
        F.col(side),
        *[
            F.last(F.col(f"__r_{c}"), ignorenulls=True).over(w).alias(f"__m_{c}")
            for c in value_cols
        ],
    )
    return carried.filter(F.col(side) == 1).select(
        *left.columns, *[F.col(f"__m_{c}").alias(c) for c in value_cols]
    )


_ASOF_ORACLE = """
WITH purchases AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, ts AS click_ts, max(value) AS click_value
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, ts
)
SELECT p.event_id, p.user_id, p.ts, p.value, c.click_ts, c.click_value
FROM purchases p
ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.click_ts
"""


@register("q_asof_join_events", oracle=_ASOF_ORACLE)
def q_asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase, the most recent prior click of the same user
    (value + timestamp), NULL when no prior click exists."""
    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max("value").alias("click_value"))
    )
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="click_ts",
        value_cols=["click_ts", "click_value"],
    )


# ---------------------------------------------------------------------------
# gap-based sessionization (batch analogue of streaming session_window)
# ---------------------------------------------------------------------------

_SESSION_GAP_MIN = 30

_SESSION_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL {_SESSION_GAP_MIN} MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT *, CAST(sum(new_session) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM ordered
)
SELECT user_id, session_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       count(*) AS n_events,
       {dsum_sql('value', 6)} AS session_value
FROM numbered
GROUP BY user_id, session_id
"""


@register("q_sessionize_events", oracle=_SESSION_ORACLE)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag → new-session
    flag → running sum as session id → per-session aggregate.

    This is the batch mirror of streaming ``session_window`` (see
    streaming/windows.py); one shuffle on user_id covers both window
    passes and the final aggregate.
    """
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    flagged = e.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > _SESSION_GAP_MIN * 60), 1).otherwise(0),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("new_session")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long"),
    )
    return numbered.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", 6).alias("session_value"),
    )


# ---------------------------------------------------------------------------
# library: bucketized range join (large-large non-equi)
# ---------------------------------------------------------------------------


def bucketed_range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
) -> DataFrame:
    """Range join (point ∈ [lo, hi)) executed as an equi-join.

    A naive non-equi join of two *large* sides is a nested-loop
    cartesian — O(n·m) and un-shuffleable. Bucketizing the range key
    turns it into: explode each interval into the fixed-width buckets
    it covers, hash-shuffle both sides on the bucket id, equi-join,
    then re-check the exact predicate. With intervals narrow relative
    to ``bucket_width`` the fan-out is ≤2×, and the join is a plain
    shuffled hash join that scales linearly.
    """
    b = "__range_bucket"
    pts = points.withColumn(b, F.floor(F.col(point_col) / bucket_width))
    ivs = intervals.withColumn(
        b,
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / bucket_width),
                F.floor(F.col(hi_col) / bucket_width),
            )
        ),
    )
    return (
        pts.join(ivs, on=b)
        .filter((F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) < F.col(hi_col)))
        .drop(b)
    )


_BANDS = [
    ("budget", 0.0, 500.0),
    ("standard", 500.0, 1000.0),
    ("premium", 1000.0, 1500.0),
    ("luxury", 1500.0, 2500.0),
]

_RANGE_BUCKETED_ORACLE = f"""
WITH bands(band, lo, hi) AS (
  VALUES {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _BANDS)}
)
SELECT band, count(*) AS n_parts, {dsum_sql('p_retailprice', 2)} AS sum_price
FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY band
"""


@register("q_join_range_bucketed", oracle=_RANGE_BUCKETED_ORACLE)
def q_join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as q_join_range_bands but through the bucketized
    equi-join path — the strategy that survives when *both* sides are
    too large to broadcast."""
    p = table(spark, sf_dir, "part")
    bands = local_frame(spark, _BANDS, "band string, lo double, hi double")
    joined = bucketed_range_join(
        p, bands, point_col="p_retailprice", lo_col="lo", hi_col="hi", bucket_width=500.0
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_parts"),
        dsum("p_retailprice", 2).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# event funnel + cohort retention (classic product-analytics shapes)
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH v AS (
  SELECT user_id, min(ts) AS tv FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS tc
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.tv
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS tp
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.tc
  GROUP BY e.user_id
)
SELECT CAST(count(v.tv) AS BIGINT) AS n_viewed,
       CAST(count(c.tc) AS BIGINT) AS n_clicked_after_view,
       CAST(count(p.tp) AS BIGINT) AS n_purchased_after_click,
       CAST(coalesce(sum(CASE WHEN p.tp IS NOT NULL
            THEN epoch_us(p.tp) - epoch_us(v.tv) END), 0) AS BIGINT)
         AS total_view_to_purchase_us
FROM v
LEFT JOIN c ON v.user_id = c.user_id
LEFT JOIN p ON v.user_id = p.user_id
"""


@register("q_funnel_conversion", oracle=_FUNNEL_ORACLE)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase: each stage's timestamp
    must follow the PREVIOUS stage's (min ts strictly after the prior
    stage min), which is what separates a funnel from three independent
    counts. Stated as a chain of filtered per-user MIN aggregates, each
    joined to the previous stage — every stage shuffles once on
    user_id, and AQE collapses the stage frames (users ≪ events) into
    broadcast joins. Time-to-convert sums exact integer MICROSECONDS
    (unix_micros / epoch_us both engines), never float seconds.
    """
    e = table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tv"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("tv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("tc"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    fun = v.join(c, "user_id", "left").join(p, "user_id", "left")
    return fun.agg(
        F.count("tv").cast("long").alias("n_viewed"),
        F.count("tc").cast("long").alias("n_clicked_after_view"),
        F.count("tp").cast("long").alias("n_purchased_after_click"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("tp").isNotNull(),
                    F.unix_micros("tp") - F.unix_micros("tv"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("total_view_to_purchase_us"),
    )


_COHORT_EPOCH = "2024-01-01"  # events fixture starts here; week 0 anchor

_COHORT_ORACLE = f"""
WITH first_seen AS (
  SELECT user_id,
         date_diff('day', DATE '{_COHORT_EPOCH}', CAST(min(ts) AS DATE)) // 7
           AS cohort_week
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '{_COHORT_EPOCH}', CAST(ts AS DATE)) // 7
           AS event_week
  FROM events
)
SELECT CAST(f.cohort_week AS INT) AS cohort_week,
       CAST(a.event_week - f.cohort_week AS INT) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_active_users
FROM activity a JOIN first_seen f USING (user_id)
GROUP BY f.cohort_week, a.event_week - f.cohort_week
"""


@register("q_cohort_retention", oracle=_COHORT_ORACLE)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by the week they first
    appeared, counted in every subsequent week they were active —
    the (cohort_week, week_offset) → distinct-user triangle every
    product dashboard draws.

    Weeks are integer floor((date − fixed epoch)/7) in BOTH engines —
    no date_trunc, whose week-start convention is a classic
    cross-engine mismatch. Two shuffles total: the per-user first-seen
    aggregate and the distinct (user, week) projection share the
    user_id key; the final count groups a users×weeks-sized frame,
    orders of magnitude smaller than the event log.
    """
    e = table(spark, sf_dir, "events")
    epoch = F.lit(_COHORT_EPOCH).cast("date")
    first_seen = e.groupBy("user_id").agg(
        F.floor(F.datediff(F.min("ts").cast("date"), epoch) / 7)
        .cast("int")
        .alias("cohort_week")
    )
    activity = e.select(
        "user_id",
        F.floor(F.datediff(F.col("ts").cast("date"), epoch) / 7)
        .cast("int")
        .alias("event_week"),
    ).distinct()
    return (
        activity.join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("event_week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


# ---------------------------------------------------------------------------
# time-series gap fill: hourly resample + linear interpolation
# ---------------------------------------------------------------------------

_GAPFILL_ORACLE = """
WITH e AS (
  SELECT user_id, date_trunc('hour', ts) AS h, max(value) AS v
  FROM events WHERE user_id % 10 = 0
  GROUP BY user_id, date_trunc('hour', ts)
), span AS (
  SELECT user_id, min(h) AS a, max(h) AS b FROM e GROUP BY user_id
), spine AS (
  SELECT user_id, unnest(generate_series(a, b, INTERVAL 1 HOUR)) AS h
  FROM span
), g AS (
  SELECT s.user_id, s.h, e.v
  FROM spine s LEFT JOIN e ON s.user_id = e.user_id AND s.h = e.h
), w AS (
  SELECT user_id, h, v,
    last_value(v IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY h
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vp,
    last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY h
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hp,
    first_value(v IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY h
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vn,
    first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY h
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS hn
  FROM g
)
SELECT user_id, h,
       -- tie-free 6-decimal publish: floor(x*1e6 + 0.5)/1e6 is a chain
       -- of correctly-rounded IEEE ops, identical in both engines;
       -- round(x, 6) is NOT (Spark rounds the exact decimal expansion
       -- of the double, DuckDB rounds in double arithmetic — ~1e-4 of
       -- rows landed on .5 ties at sf0.1 and diverged by 1 ulp6)
       floor((CASE WHEN v IS NOT NULL THEN v
             ELSE vp + (vn - vp) *
                  ((epoch_us(h) - epoch_us(hp)) /
                   (epoch_us(hn) - epoch_us(hp))) END) * 1000000 + 0.5)
         / 1000000 AS value_interp,
       (v IS NULL) AS was_gap
FROM w
"""


@register("q_timeseries_gapfill", oracle=_GAPFILL_ORACLE)
def q_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample + gap fill by linear interpolation: collapse
    events to (user, hour) points, generate each user's dense hourly
    spine between their first and last hour, and fill missing hours
    from the bracketing observations — the standard prep step before
    any fixed-step time-series model.

    Determinism discipline: the hourly value is MAX (picks an existing
    double, no arithmetic), interpolation fractions divide exact
    integer MICROSECONDS, and the affine fill evaluates in the same
    operation order in both engines — identical IEEE doubles, so the
    driver hash check holds with no tolerance. One shuffle on user_id
    serves the hourly aggregate, both bracketing windows, and the
    spine join; the spine explode is bounded by each user's own span
    (never min-to-max of the whole corpus). Deterministic %10 user
    slice keeps the fixture output bounded.
    """
    e = table(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.max("value").alias("v"))
    span = hourly.groupBy("user_id").agg(
        F.min("h").alias("a"), F.max("h").alias("b")
    )
    spine = span.select(
        "user_id",
        F.explode(F.sequence("a", "b", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    g = spine.join(hourly, ["user_id", "h"], "left")
    # Both carry-forward AND carry-backward run as ASCENDING-frame
    # running windows ([unboundedPreceding, currentRow]), the next
    # bracketing value via DESCENDING order — Spark evaluates running
    # frames incrementally (O(rows)), while a [currentRow,
    # unboundedFollowing] frame re-scans to the partition end per row
    # (O(span^2) per series: measured 2.2 s vs 7.2 s on the sf1
    # fixture before this change).
    wp = W.partitionBy("user_id").orderBy("h").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wn = W.partitionBy("user_id").orderBy(F.col("h").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    marked_h = F.when(F.col("v").isNotNull(), F.col("h"))
    vp = F.last("v", ignorenulls=True).over(wp)
    hp = F.last(marked_h, ignorenulls=True).over(wp)
    vn = F.last("v", ignorenulls=True).over(wn)
    hn = F.last(marked_h, ignorenulls=True).over(wn)
    frac = (F.unix_micros(F.col("h")) - F.unix_micros(hp)).cast("double") / (
        F.unix_micros(hn) - F.unix_micros(hp)
    ).cast("double")
    filled = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        vp + (vn - vp) * frac
    )
    # tie-free publish (see the oracle comment): floor(x*1e6 + 0.5)/1e6
    # — correctly-rounded IEEE ops only, bit-identical across engines,
    # where round(x, 6) diverges on decimal-expansion .5 ties
    stable6 = F.floor(filled * 1_000_000 + 0.5) / 1_000_000
    return g.select(
        "user_id",
        "h",
        stable6.alias("value_interp"),
        F.col("v").isNull().alias("was_gap"),
    )


# ---------------------------------------------------------------------------
# as-of with tolerance + forward direction (merge_asof parity, UDF-free)
# ---------------------------------------------------------------------------

_ASOF_TOL_MIN = 30  # minutes

_ASOF_TOL_ORACLE = f"""
WITH clicks AS (
  SELECT user_id, ts AS cts, max(value) AS cval
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, ts
), p AS (
  SELECT event_id, user_id, ts
  FROM events WHERE event_type = 'purchase'
), marked AS (
  SELECT p.event_id, p.user_id, p.ts,
         (SELECT max(c.cts) FROM clicks c
          WHERE c.user_id = p.user_id AND c.cts <= p.ts
            AND c.cts >= p.ts - INTERVAL {_ASOF_TOL_MIN} MINUTE)
           AS prev_click_ts,
         (SELECT min(c.cts) FROM clicks c
          WHERE c.user_id = p.user_id AND c.cts >= p.ts
            AND c.cts <= p.ts + INTERVAL {_ASOF_TOL_MIN} MINUTE)
           AS next_click_ts
  FROM p
)
SELECT m.event_id, m.user_id, m.ts,
       m.prev_click_ts,
       cp.cval AS prev_click_value,
       m.next_click_ts,
       cn.cval AS next_click_value
FROM marked m
LEFT JOIN clicks cp
  ON cp.user_id = m.user_id AND cp.cts = m.prev_click_ts
LEFT JOIN clicks cn
  ON cn.user_id = m.user_id AND cn.cts = m.next_click_ts
"""


@register("q_asof_tolerance", oracle=_ASOF_TOL_ORACLE)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with TOLERANCE and BOTH directions — pandas
    merge_asof(direction='backward'/'forward', tolerance=30min)
    semantics, UDF-free (tolerance and forward matching need no pandas
    escape hatch; the window form covers them): for every purchase,
    the latest click at-or-before AND the earliest click at-or-after,
    each only within 30 minutes.

    Shape: union clicks+purchases, ONE ascending window carries the
    last click forward (clicks sort before purchases on ties, so
    equal-ts clicks match), one descending window carries the next
    click backward, then the tolerance is a plain filter on the
    carried timestamp — no join against shifted copies, no per-key
    Python. Cost is two windows over the same (user) partitioning;
    at 100 TB that is one shuffle (AQE reuses the exchange)."""
    e = table(spark, sf_dir, "events")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("cts"))
        .agg(F.max("value").alias("cval"))
        .select(
            "user_id",
            F.col("cts").alias("ts"),
            F.lit(None).cast("long").alias("event_id"),
            F.lit(0).alias("is_p"),
            F.col("cts").alias("click_ts"),
            F.col("cval").alias("click_value"),
        )
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(1).alias("is_p"),
        F.lit(None).cast("timestamp").alias("click_ts"),
        F.lit(None).cast("double").alias("click_value"),
    )
    u = clicks.unionByName(purchases)
    wf = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_p")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # DESC ties: clicks (is_p=0) must still precede purchases in the
    # frame so an equal-ts click matches "at or after" — hence is_p ASC
    wb = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("is_p").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tol_us = _ASOF_TOL_MIN * 60 * 1_000_000
    carried = u.select(
        "user_id",
        "ts",
        "event_id",
        "is_p",
        F.last("click_ts", ignorenulls=True).over(wf).alias("p_ts"),
        F.last("click_value", ignorenulls=True).over(wf).alias("p_val"),
        F.last("click_ts", ignorenulls=True).over(wb).alias("n_ts"),
        F.last("click_value", ignorenulls=True).over(wb).alias("n_val"),
    ).filter(F.col("is_p") == 1)
    in_prev = F.unix_micros(F.col("p_ts")) >= F.unix_micros(F.col("ts")) - tol_us
    in_next = F.unix_micros(F.col("n_ts")) <= F.unix_micros(F.col("ts")) + tol_us
    return carried.select(
        "event_id",
        "user_id",
        "ts",
        F.when(in_prev, F.col("p_ts")).alias("prev_click_ts"),
        F.when(in_prev, F.col("p_val")).alias("prev_click_value"),
        F.when(in_next, F.col("n_ts")).alias("next_click_ts"),
        F.when(in_next, F.col("n_val")).alias("next_click_value"),
    )


# ---------------------------------------------------------------------------
# linear multi-touch attribution (exact integer credit split)
# ---------------------------------------------------------------------------

_ATTR_WIN_MIN = 30

_ATTR_ORACLE = f"""
WITH clicks AS (
  SELECT user_id, ts AS cts
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, ts
), p AS (
  SELECT event_id, user_id, ts,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events WHERE event_type = 'purchase'
), touch AS (
  SELECT p.event_id, p.user_id, p.vc, c.cts,
         row_number() OVER (
           PARTITION BY p.event_id ORDER BY c.cts, c.user_id
         ) AS rk,
         count(*) OVER (PARTITION BY p.event_id) AS n_touch
  FROM p JOIN clicks c
    ON c.user_id = p.user_id
   AND c.cts <= p.ts
   AND c.cts >= p.ts - INTERVAL {_ATTR_WIN_MIN} MINUTE
)
SELECT user_id, cts AS click_ts,
       CAST(count(*) AS BIGINT) AS n_conversions,
       CAST(sum(vc // n_touch
                + CASE WHEN rk <= vc % n_touch THEN 1 ELSE 0 END)
            AS BIGINT) AS credit_cents
FROM touch
GROUP BY user_id, cts
"""


@register("q_attribution_linear", oracle=_ATTR_ORACLE)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase's value splits
    equally across the user's clicks in the prior 30 minutes, and each
    click accumulates credit over all conversions it touched — the
    marketing-analytics workhorse between last-touch (the as-of join)
    and data-driven models.

    Exactness: credit is an INTEGER largest-remainder split (vc div n
    per touch, the first vc mod n touches by click time get the extra
    cent), so per-purchase credits sum to the purchase value EXACTLY
    and the cross-engine hash can't drift — the same apportionment
    trick as q_curation_temperature_mix. The candidate join is an
    equi-join on user_id with a time-band filter (user cardinality
    spreads the shuffle; the band prunes inside the join), then two
    windows over the per-purchase partitioning."""
    e = table(spark, sf_dir, "events")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("cts"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .drop("_n")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    win_us = _ATTR_WIN_MIN * 60 * 1_000_000
    touch = p.join(clicks, "user_id").filter(
        (F.unix_micros(F.col("cts")) <= F.unix_micros(F.col("ts")))
        & (
            F.unix_micros(F.col("cts"))
            >= F.unix_micros(F.col("ts")) - win_us
        )
    )
    wp = W.partitionBy("event_id")
    ranked = touch.select(
        "user_id",
        "cts",
        "vc",
        F.row_number().over(wp.orderBy("cts", "user_id")).alias("rk"),
        F.count(F.lit(1)).over(wp).alias("n_touch"),
    )
    credit = F.expr("vc div n_touch") + F.when(
        F.col("rk") <= F.col("vc") % F.col("n_touch"), 1
    ).otherwise(0)
    return ranked.groupBy("user_id", F.col("cts").alias("click_ts")).agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions"),
        F.sum(credit).cast("long").alias("credit_cents"),
    )
