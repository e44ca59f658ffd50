"""Percentile / approximate aggregates and grouping sets.

Exact percentiles are cross-engine comparable (linear interpolation on
the sorted multiset). ENGINE-NATIVE sketches (HLL++ distinct,
t-digest-ish quantiles) are engine-specific by construction, so
q_agg_approx registers without an oracle (driver records rows-only) —
its *exact* twins serve as the accuracy reference in
tests/test_approx.py. q_agg_hll_distinct is the verifiable
counterexample: an HLL built on md5-derived registers whose estimate
replays bit-identically in DuckDB, giving a sketch a full hash-green
driver row.

At 100 TB the approx forms are the ones you actually run: a single pass,
fixed-size sketch state, map-side mergeable, no sort — versus exact
percentile's per-group sorted materialization.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.catalog import local_frame, table
from end_to_end_aws_data_pipeline_spark.functions import hll
from end_to_end_aws_data_pipeline_spark.functions.aggs import stable_round
from end_to_end_aws_data_pipeline_spark.registry import register

_PCT_ORACLE = """
SELECT
  l_returnflag,
  floor(quantile_cont(l_extendedprice, 0.5) * 1000000 + 0.5) / 1000000
    AS median_price,
  floor(quantile_cont(l_extendedprice, 0.95) * 1000000 + 0.5) / 1000000
    AS p95_price,
  floor(quantile_cont(l_quantity, 0.25) * 1000000 + 0.5) / 1000000
    AS q1_qty,
  floor(min(l_extendedprice) * 1000000 + 0.5) / 1000000 AS min_price,
  floor(max(l_extendedprice) * 1000000 + 0.5) / 1000000 AS max_price
FROM lineitem
GROUP BY l_returnflag
"""


# Cap on per-group row count for the buffer-materializing exact
# percentile: Spark's `percentile` holds every (value -> count) of a
# group in one aggregation buffer, so a 100 TB fact table grouped 3
# ways concentrates the whole column into 3 states and OOMs long before
# the cluster is the constraint. Past the cap, use the binned exact
# algorithm below (bounded state at any scale) or percentile_approx.
_MAX_EXACT_GROUP_ROWS = 10_000_000


def guard_exact_percentile(
    df: DataFrame, group_col: str, max_rows: int = _MAX_EXACT_GROUP_ROWS
) -> None:
    """Refuse the buffer-materializing exact percentile when any group
    exceeds ``max_rows`` (mirrors the exact-cosine guard in dedup.py:
    exactness baselines are allowed, silently OOM-prone plans are not).

    Fast path: if the TOTAL row count (parquet-footer metadata for a
    bare scan — no data read) is under the cap, no group can exceed it
    and the per-group count is skipped; only genuinely large inputs pay
    one map-side-combinable count pass before the refusal decision."""
    if df.count() <= max_rows:
        return
    top = (
        df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max("__n"))
        .first()[0]
    )
    if top is not None and top > max_rows:
        raise ValueError(
            f"largest group holds {top} rows (> {max_rows}): the exact "
            "percentile aggregate materializes every group value in one "
            "buffer. Use binned_exact_percentiles (exact, bounded "
            "state) or percentile_approx (sketch)."
        )


@register("q_agg_percentiles", oracle=_PCT_ORACLE)
def q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (median / p95 / q1).

    Both price percentiles come from ONE array-percentile aggregate —
    one sorted materialization of the column per group instead of two.
    Guarded by ``guard_exact_percentile``: past 10M rows in a group this
    plan refuses and routes to the binned exact twin
    (``q_agg_percentiles_binned``) or the sketch (``q_agg_approx``).
    """
    li = table(spark, sf_dir, "lineitem")
    guard_exact_percentile(li, "l_returnflag")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, array(0.5, 0.95))").alias("__p"),
            stable_round(F.expr("percentile(l_quantity, 0.25)"), 6).alias(
                "q1_qty"
            ),
            stable_round(F.min("l_extendedprice"), 6).alias("min_price"),
            stable_round(F.max("l_extendedprice"), 6).alias("max_price"),
        )
        .select(
            "l_returnflag",
            stable_round(F.element_at("__p", 1), 6).alias("median_price"),
            stable_round(F.element_at("__p", 2), 6).alias("p95_price"),
            "q1_qty",
            "min_price",
            "max_price",
        )
    )


def binned_exact_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ps: list[float],
    bins: int = 4096,
    collect_cap: int = 8192,
    max_groups: int = 10_000,
) -> dict:
    """Single-column convenience wrapper over
    :func:`binned_exact_percentiles_multi` (see there for the
    algorithm). Returns {group: {p: exact_percentile_value}}."""
    pcts, _ = binned_exact_percentiles_multi(
        df,
        group_col,
        {value_col: ps},
        bins=bins,
        collect_cap=collect_cap,
        max_groups=max_groups,
    )
    return pcts[value_col]


# histogram rounds before the final candidate fetch: bucket
# populations shrink ~bins× a round, so 100 TB needs ~3
_MAX_ROUNDS = 16

# distinct _bucket_key values: ±(1 … 128·16), zero and NaN
_BUCKET_KEYS = 2 * 128 * 16 + 2


def _bucket_key() -> Column:
    """The fused pass-1 bucket of the stacked value column ``v``.

    Pass 1 groups by a data-independent bucketing that is strictly
    MONOTONE in v — sign × (clamped binade × 16 mantissa sub-buckets),
    zero in its own bucket — so ONE scan yields both the per-(column,
    group) (n, lo, hi) (summed/min'd/max'd over buckets on the driver)
    and, per rank, the exact bucket containing its order statistic
    with exact local rank and exact [bucket-min, bucket-max] interval:
    the narrowing round 1 used to buy costs no extra scan.
    Monotonicity is FP-robust: within a binade av/2^e and (frac−1)·16
    are exact (power-of-two divisor), and floor∘log2 is monotone even
    if a binade boundary misrounds by an ulp (the misplaced value is
    still ordered against both neighbor buckets), so cumulative bucket
    counts in key order locate every rank correctly; interval
    endpoints come from the DATA (per-bucket min/max), never from
    bucket boundaries, so exactness is untouched. Driver rows are
    occupied buckets only: value magnitudes span b binades → ≤ 16·b +
    3 rows per (column, group) — bounded by the same
    low-cardinality-grouping contract as the rest of the driver state
    (max_groups). NaN gets its own bucket above every finite key (and
    ±inf): Spark and DuckDB sort NaN last, and the binade arithmetic
    would otherwise hand it a finite key and break the monotone order
    the rank location relies on. A constant key degenerates the fused
    pass to the plain (n, lo, hi) pass 1, with round 1 as its own
    scan."""
    av = F.abs(F.col("v"))
    e = F.greatest(F.lit(-64.0), F.least(F.lit(63.0), F.floor(F.log2(av))))
    sub = F.greatest(
        F.lit(0.0),
        F.least(
            F.lit(15.0),
            F.floor((av / F.pow(F.lit(2.0), e) - F.lit(1.0)) * 16),
        ),
    )
    mag = (e + F.lit(64.0)) * 16 + sub
    return (
        # finite keys stop at mag's max 127·16 + 15, plus 1
        F.when(F.isnan("v"), F.lit(128 * 16 + 1.0))
        .when(F.col("v") == 0, F.lit(0.0))
        .when(F.col("v") > 0, mag + 1)
        .otherwise(-mag - 1)
        .cast("long")
    )


def binned_exact_percentiles_multi(
    df: DataFrame,
    group_col: str,
    specs: dict[str, list[float]],
    bins: int = 4096,
    collect_cap: int = 8192,
    max_groups: int = 10_000,
) -> tuple[dict, dict]:
    """EXACT interpolated percentiles with bounded memory at any scale:
    iterative histogram refinement instead of materializing each group's
    values in an aggregation buffer. ``specs`` maps value column →
    percentile list; ALL columns share each round's scan, so asking for
    percentiles of k columns costs the same number of passes as one.

    Pass 1 computes per-(column, group) (count, min, max); each
    percentile then needs the order statistics at ranks
    floor/ceil((n-1)*p). Each round histograms every still-active
    (column, group, rank) search interval into ``bins`` buckets in ONE
    scan (map-side combinable counts — executor state is
    #active_states × bins longs, independent of data size), narrows the
    interval to the bucket containing the rank, and repeats until ≤
    ``collect_cap`` candidate values remain; those are fetched and the
    exact order statistic read off. Bucket populations shrink ~``bins``×
    per round, so 100 TB needs ~3 rounds; a stalled interval (all mass
    on adjacent representable doubles) falls back to a value-level
    count, which such an interval bounds to a handful of distinct
    values.

    Driver state is per-GROUP metadata only (guard: intended for
    low-cardinality groupings; high-cardinality groupings don't have the
    per-group-volume problem and should use the plain aggregate).
    Returns ``(pcts, stats)`` where ``pcts[col][group][p]`` is the exact
    percentile with the same lower + frac*(higher-lower) interpolation
    Spark's `percentile` and DuckDB's `quantile_cont` use, and
    ``stats[col][group] = (n, min, max)`` from pass 1 (free min/max/
    count for callers that would otherwise re-scan).
    """
    import math

    cols = list(specs)
    # stack the k value columns into (g, cidx, v) rows: one scan feeds
    # every column's histogram; nulls drop per-column
    base = (
        df.select(
            F.col(group_col).alias("g"),
            *[
                F.col(c).cast("double").alias(f"_v{i}")
                for i, c in enumerate(cols)
            ],
        )
        .select(
            "g",
            F.expr(
                f"stack({len(cols)}, "
                + ", ".join(f"{i}, _v{i}" for i in range(len(cols)))
                + ") AS (cidx, v)"
            ),
        )
        .filter(F.col("v").isNotNull())
    )
    # deliberately NOT persisted: base is consumed by pass 1, each
    # histogram round, and the candidate fetch, but re-deriving the
    # columnar scan+stack per consumer A/B-measured FASTER (5.0 s vs
    # 6.0 s for the two percentile consumers at sf0.1) than paying the
    # corpus-sized cache materialization — the "don't persist a
    # corpus-sized relation to save cheap scans" rule (SCALING.md).
    #
    # FUSED pass 1 + round 1: see _bucket_key. A (column, group) fills
    # at most _BUCKET_KEYS rows, so more than that many per allowed
    # (column, group) prove more than max_groups groups: the fetch
    # stops there and the guard below raises on what it holds
    fused_rows = (
        base.groupBy("cidx", "g", _bucket_key().alias("b0"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .limit(max_groups * len(cols) * _BUCKET_KEYS + 1)
        .collect()
    )
    buckets: dict[tuple, list] = {}
    for r in fused_rows:
        buckets.setdefault((r["cidx"], r["g"]), []).append(
            (r["b0"], r["n"], r["lo"], r["hi"])
        )
    all_stats = {}
    for key, bs in buckets.items():
        bs.sort()
        # buckets are in value order, so the extremes are the first
        # bucket's min and the last one's max (NaN when present, as in
        # Spark's max)
        all_stats[key] = (sum(b[1] for b in bs), bs[0][2], bs[-1][3])
    n_groups = len({g for (_, g) in all_stats})
    if n_groups > max_groups:
        raise ValueError(
            f"at least {n_groups} groups (> {max_groups}): binned refinement "
            "keeps per-GROUP search state on the driver, so it targets "
            "low-cardinality groupings (where per-group volume is the "
            "hazard). High-cardinality groupings fit the plain "
            "percentile aggregate — each group's multiset is small."
        )
    # state-table schema mirrors the group column's actual type (a
    # hardcoded string type would break long/int group keys)
    g_type = df.schema[group_col].dataType.simpleString()
    _state_schema = f"sid int, c_s int, g_s {g_type}, lo double, hi double"
    # search states: one per needed order statistic
    # state: [cidx, g, rank, lo, hi, k_local, population, value_or_None,
    #         point_suspect]
    # Each state initializes from its rank's FUSED bucket: exact local
    # rank (k − cumulative count of earlier buckets), exact population,
    # and the bucket's observed [min, max] as the interval. A bucket
    # whose min == max holds one distinct value — the order statistic
    # itself — resolving the state with no further scan.
    states: dict[tuple, list] = {}
    for (ci, g), (n, lo, hi) in all_stats.items():
        bs = buckets[(ci, g)]
        for p in specs[cols[ci]]:
            pos = p * (n - 1)
            for k in {int(math.floor(pos)), int(math.ceil(pos))}:
                if (ci, g, k) in states:
                    continue
                cum = 0
                st = [ci, g, k, lo, hi, k, n, None, 0]
                for _b0, bc, blo, bhi in bs:
                    if k < cum + bc:
                        st[3], st[4] = blo, bhi
                        st[5], st[6] = k - cum, bc
                        # one distinct value (NaN's bucket holds only NaN)
                        if blo == bhi or math.isnan(blo):
                            st[7] = blo
                        break
                    cum += bc
                states[(ci, g, k)] = st

    spark = df.sparkSession

    def _in_states(sts: list) -> DataFrame:
        """``base`` rows inside each state's [lo, hi], tagged with the
        state's index ``sid`` in ``sts``."""
        st = local_frame(
            spark,
            [(sid, s[0], s[1], float(s[3]), float(s[4])) for sid, s in enumerate(sts)],
            _state_schema,
        )
        return base.join(
            F.broadcast(st),
            (F.col("cidx") == F.col("c_s"))
            & (F.col("g") == F.col("g_s"))
            & F.col("v").between(F.col("lo"), F.col("hi")),
        )

    def _active():
        return [s for s in states.values() if s[7] is None and s[6] > collect_cap]

    def _value_count(stalled: list, bounded: bool) -> None:
        """ONE batched scan resolving states by per-distinct-value
        counts (instead of a scan per state). `bounded` limits the
        fetch to collect_cap distinct values per state — used for
        point-mass suspects, where a big result disproves the
        suspicion and the state goes back to histogram refinement."""
        from pyspark.sql import Window as W

        per_v = (
            _in_states(stalled)
            .groupBy("sid", "v")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        if bounded:
            w = W.partitionBy("sid").orderBy("v")
            per_v = (
                per_v.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= collect_cap + 1)
            )
        got: dict[int, list] = {}
        for r in per_v.orderBy("sid", "v").collect():
            got.setdefault(r["sid"], []).append((r["v"], r["c"]))
        for sid, s in enumerate(stalled):
            vals = got.get(sid, [])
            if bounded and len(vals) > collect_cap:
                # not a point mass after all: resume refinement and
                # never re-trigger the suspect path for this state
                s[8] = -(10**9)
                continue
            cum, kl = 0, s[5]
            for v, c in vals:
                if kl < cum + c:
                    s[7] = v
                    break
                cum += c

    for _ in range(_MAX_ROUNDS):
        act = _active()
        if not act:
            break
        rows = []
        stalled, suspects = [], []
        for s in act:
            ci, g, k, lo, hi, kl, popn, _, susp = s
            if lo == hi or (hi - lo) / bins <= 0.0:
                stalled.append(s)  # float64 can't subdivide: few values
            elif susp >= 1:
                suspects.append(s)  # whole population in one bucket
            else:
                rows.append(s)
        if stalled:
            _value_count(stalled, bounded=False)
        if suspects:
            _value_count(suspects, bounded=True)
            rows.extend(s for s in suspects if s[7] is None and s[8] < 0)
        if not rows:
            continue
        hist_states = rows
        # one scan: histogram every active interval; a row can feed
        # multiple (nested) intervals via the range join.
        # The narrowed interval comes from each bin's OBSERVED min/max
        # (same aggregate, same shuffle), never from recomputed bin
        # edges: at large dynamic range (e.g. [-1e18, 3.5]) the edge
        # arithmetic lo + (b+1)·w can round BELOW a value the binning
        # expression placed in bin b, producing an interval that
        # excludes its own order statistic (r12 latent bug, caught by
        # tests/test_round13_opt.py). The bin index is monotone in v
        # (fixed lo/w: subtract, divide, floor, clamp — each monotone),
        # so cumulative bin counts still locate every rank exactly, and
        # data-derived endpoints are always consistent with the counts.
        hist = (
            _in_states(hist_states)
            .select(
                "sid",
                F.least(
                    F.floor(
                        (F.col("v") - F.col("lo"))
                        / ((F.col("hi") - F.col("lo")) / bins)
                    ).cast("int"),
                    F.lit(bins - 1),
                ).alias("b"),
                "v",
            )
            .groupBy("sid", "b")
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.min("v").alias("bmin"),
                F.max("v").alias("bmax"),
            )
            .collect()
        )
        by_sid: dict[int, dict[int, tuple]] = {}
        for r in hist:
            by_sid.setdefault(r["sid"], {})[r["b"]] = (
                r["c"],
                r["bmin"],
                r["bmax"],
            )
        for sid, s in enumerate(hist_states):
            if s[7] is not None or (s[3] == s[4]):
                continue
            ci, g, k, lo, hi, kl, popn, _, susp = s
            if sid not in by_sid:
                continue
            cum = 0
            for b in sorted(by_sid[sid]):
                c, bmin, bmax = by_sid[sid][b]
                if kl < cum + c:
                    s[3] = bmin
                    s[4] = bmax
                    s[5] = kl - cum
                    s[6] = c
                    if bmin == bmax:
                        # every value in the bin is identical — the
                        # order statistic itself, no further scan
                        s[7] = bmin
                    # the ENTIRE remaining population in one bucket is
                    # the signature of a point mass (e.g. integer-valued
                    # doubles): route to a bounded value-count next
                    # round instead of shrinking the interval 4096x a
                    # round until float64 underflows (~4 wasted scans)
                    elif susp >= 0:
                        s[8] = susp + 1 if c == popn and len(by_sid[sid]) == 1 else 0
                    break
                cum += c

    # final: fetch the few remaining candidates per state in one scan
    rest = [s for s in states.values() if s[7] is None]
    if rest:
        _value_count(rest, bounded=False)

    pcts: dict = {c: {} for c in cols}
    stats_out: dict = {c: {} for c in cols}
    for (ci, g), (n, lo, hi) in all_stats.items():
        col = cols[ci]
        stats_out[col][g] = (n, lo, hi)
        out_g = pcts[col].setdefault(g, {})
        for p in specs[col]:
            pos = p * (n - 1)
            k1, k2 = int(math.floor(pos)), int(math.ceil(pos))
            v1, v2 = states[(ci, g, k1)][7], states[(ci, g, k2)][7]
            # Spark Percentile.getPercentile / DuckDB quantile_cont form
            out_g[p] = v1 + (pos - k1) * (v2 - v1)
    return pcts, stats_out


@register("q_agg_percentiles_binned", oracle=_PCT_ORACLE)
def q_agg_percentiles_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100×-scale exact-percentile path: same oracle (and the same
    answers, to the bit) as q_agg_percentiles, computed by iterative
    histogram refinement — per-round executor state is bins×states
    longs, never a group's full value multiset. This is the query to
    run when guard_exact_percentile refuses the plain aggregate."""
    li = table(spark, sf_dir, "lineitem")
    # both columns refine against the SAME per-round scan; min/max come
    # free from pass 1 — ~4 jobs total instead of ~10
    pcts, stats = binned_exact_percentiles_multi(
        li,
        "l_returnflag",
        {"l_extendedprice": [0.5, 0.95], "l_quantity": [0.25]},
    )
    price = pcts["l_extendedprice"]
    qty = pcts["l_quantity"]
    rows = [
        (
            g,
            price[g][0.5],
            price[g][0.95],
            qty[g][0.25],
            stats["l_extendedprice"][g][1],
            stats["l_extendedprice"][g][2],
        )
        for g in sorted(price)
    ]
    raw = local_frame(
        spark, rows,
        "l_returnflag: string, median_price: double, p95_price: double, "
        "q1_qty: double, min_price: double, max_price: double",
    )
    # round through Spark expressions (HALF_UP), matching the plain
    # exact query's rounding exactly
    return raw.select(
        "l_returnflag",
        stable_round("median_price", 6).alias("median_price"),
        stable_round("p95_price", 6).alias("p95_price"),
        stable_round("q1_qty", 6).alias("q1_qty"),
        stable_round("min_price", 6).alias("min_price"),
        stable_round("max_price", 6).alias("max_price"),
    )


# ---------------------------------------------------------------------------
# HyperLogLog with REPLAYABLE registers: an oracle-verifiable sketch
# ---------------------------------------------------------------------------

_HLL_M = 256  # registers; standard error 1.04/sqrt(m) ~ 6.5%


def _hll_est_duck(t: str, pad: str) -> str:
    """DuckDB text of the estimate published to 2 digits, over the
    columns ``{t}denom_ne`` and ``{t}v_cnt``; lines after the first are
    indented by ``pad``."""
    m, num = _HLL_M, repr(hll.num(_HLL_M))
    tab = "[" + ", ".join(repr(x) for x in hll.lntab(m)) + "]"
    den = f"""
           ({t}denom_ne + ({m} - {t}v_cnt)
            * (CAST(1 AS BIGINT) << {hll.CAP}))"""
    est = f"""floor((CASE WHEN ({m} - {t}v_cnt) > 0 AND {num} /{den} <= {2.5 * m}
      THEN {float(m)!r} * ({tab})[{m} - {t}v_cnt]
      ELSE {num} /{den}
      END) * 100 + 0.5) / 100"""
    return est.replace("\n", "\n" + pad)


def _hll_estimate(regs: DataFrame, *keys: str) -> DataFrame:
    """``keys`` + ``hll``: the estimate per key over a long-format
    register table (keys, bucket, m_j), published to 2 digits."""
    agg = regs.groupBy(*keys).agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {hll.CAP} - m_j)")
        ).alias("denom_ne"),
        F.count(F.lit(1)).alias("v_cnt"),
    )
    est = F.expr(hll.estimate_sql("denom_ne", "v_cnt", _HLL_M))
    return agg.select(*keys, stable_round(est, 2).alias("hll"))


# lineitem's per-row (l_returnflag, bucket, rho), replayed by both
# l_partkey sketch oracles
_HLL_RB_SQL = f"""
WITH h AS (
  SELECT l_returnflag, l_partkey, md5(CAST(l_partkey AS VARCHAR)) AS hx
  FROM lineitem
), rb AS (
  SELECT l_returnflag,
         ('0x' || substr(hx, 1, 2))::BIGINT AS bucket,
         least(CASE WHEN w = 0 THEN {hll.WBITS + 1}
               ELSE {hll.WBITS + 1} - length(bin(w)) END,
               {hll.CAP}) AS rho
  FROM (
    SELECT l_returnflag, hx,
           ('0x' || substr(hx, 3, 14))::BIGINT AS w
    FROM h
  )
"""

_HLL_ORACLE = _HLL_RB_SQL + f"""), regs AS (
  SELECT l_returnflag, bucket, max(rho) AS m_j
  FROM rb GROUP BY l_returnflag, bucket
), agg AS (
  SELECT l_returnflag,
         sum(CAST(1 AS BIGINT) << ({hll.CAP} - m_j)) AS denom_ne,
         count(*) AS v_cnt
  FROM regs GROUP BY l_returnflag
), ex AS (
  SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts
  FROM lineitem GROUP BY l_returnflag
)
SELECT a.l_returnflag,
       ex.exact_parts,
       {_hll_est_duck("a.", "       ")} AS hll_parts
FROM agg a JOIN ex USING (l_returnflag)
"""


@register("q_agg_hll_distinct", oracle=_HLL_ORACLE)
def q_agg_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count whose registers REPLAY in the oracle —
    the verifiable counterpart to q_agg_approx's engine-native HLL++.

    Classic HLL (Flajolet et al., AofA'07) from first principles as
    pure expressions: md5(key) supplies the hash both engines compute
    identically; hex chars 1-2 pick one of m=256 registers, the next 56
    bits' leading-zero count (via length(bin(w)) — no floats) gives
    rho; registers are a map-side-combinable MAX aggregate (the whole
    sketch is 256 small ints per group — single-pass, mergeable,
    bounded state at any corpus size, the same execution shape as the
    native sketch). The harmonic-mean estimate is computed from an
    INTEGER-scaled sum (2^(48-rho) terms, exact in int64) with one
    shared pre-computed double constant, so Spark and DuckDB derive
    bit-identical estimates — a sketch with a full rows/schema/hash
    driver row instead of rows-only. The small-range linear-counting
    correction (m*ln(m/V)) applies WITHOUT libm divergence: ln has only
    m possible inputs here, so the table is evaluated once in Python
    and injected into both engines as literals. Accuracy vs the exact
    twin is asserted in tests/test_approx.py.
    """
    li = table(spark, sf_dir, "lineitem")
    bucket, rho = hll.register_address(F.col("l_partkey"), _HLL_M)
    regs = li.select(
        "l_returnflag", bucket.alias("bucket"), rho.alias("rho")
    ).groupBy("l_returnflag", "bucket").agg(F.max("rho").alias("m_j"))
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").cast("long").alias("exact_parts")
    )
    return (
        _hll_estimate(regs, "l_returnflag")
        .join(exact, "l_returnflag")
        .select("l_returnflag", "exact_parts", F.col("hll").alias("hll_parts"))
    )


@register("q_agg_approx")  # sketches are engine-specific: rows-only check
def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass sketch aggregates: HLL++ distinct + approx quantiles.

    Accuracy vs the exact twins is asserted in tests/test_approx.py
    (HLL++ rsd 5%, quantile within 1% rank error).
    """
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.05).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("approx_p95"),
    )


_GSETS_ORACLE = """
SELECT
  o_orderstatus,
  o_orderpriority,
  count(*) AS n_orders,
  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@register("q_agg_grouping_sets", oracle=_GSETS_ORACLE)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (distinct from rollup/cube shapes)."""
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__gs_orders")
    return spark.sql(
        """
        SELECT
          o_orderstatus,
          o_orderpriority,
          count(*) AS n_orders,
          count(DISTINCT o_custkey) AS n_custs
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# ---------------------------------------------------------------------------
# verifiable Count-Min sketch (bounded-memory frequency estimation)
# ---------------------------------------------------------------------------

# Cormode & Muthukrishnan '05: d independent hash rows of w counters;
# est(k) = min_j counter[j][h_j(k)] >= true count, overestimate bounded
# by e*N/w with prob 1-(1/e)^d. Hashes are md5-derived (row index
# prefixed into the hashed string) so DuckDB replays the sketch build
# and the estimates bit-for-bit — the same verifiable-sketch pattern as
# q_agg_hll_distinct.
_CMS_D = 4
_CMS_W = 64

_CMS_ORACLE = f"""
WITH rows_h AS (
  SELECT user_id,
         j,
         ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||
                             CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
           % {_CMS_W} AS bucket
  FROM (SELECT DISTINCT user_id FROM events)
  CROSS JOIN (SELECT unnest(range({_CMS_D})) AS j)
), sketch AS (
  SELECT j, bucket, CAST(count(*) AS BIGINT) AS c
  FROM (
    SELECT e.user_id, r.j, r.bucket
    FROM events e JOIN rows_h r ON r.user_id = e.user_id
  ) GROUP BY j, bucket
), est AS (
  SELECT r.user_id, min(s.c) AS est
  FROM rows_h r JOIN sketch s ON s.j = r.j AND s.bucket = r.bucket
  GROUP BY r.user_id
), exact AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY user_id
)
SELECT e.user_id, x.n AS exact_count, CAST(e.est AS BIGINT) AS cms_estimate,
       CAST(e.est - x.n AS BIGINT) AS overestimate
FROM est e JOIN exact x USING (user_id)
"""


@register("q_agg_countmin", oracle=_CMS_ORACLE)
def q_agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation with its own in-engine
    audit: build a d×w counter sketch over the event stream, estimate
    every key's frequency as the min across rows, and join back against
    the exact counts so the overestimate (always ≥ 0, bounded by eN/w
    w.h.p.) is MEASURED, not assumed.

    Scale story: the sketch is the d×w=256-cell aggregate of the full
    stream — constant memory at any N, mergeable across partitions by
    cell-wise addition (exactly what the groupBy's map-side partials
    do), which is why CMS is the standard distributed heavy-hitter
    primitive. The estimate join is distinct-keys-sized, not
    stream-sized. md5-derived row hashes make the whole build replay in
    the DuckDB oracle — the verifiable-sketch pattern (cf.
    q_agg_hll_distinct); engine-native CMS would be a private-seed
    sketch the driver could only rows-check."""

    def _bucket(j_col, key_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", j_col.cast("string"), key_col.cast("string")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % _CMS_W
        )

    ev = table(spark, sf_dir, "events").select("user_id")
    # sketch BUILD from the raw stream: explode d rows per event and
    # bucket by expression — no join against a distinct-keys table (at
    # 100 TB the key set can itself be huge; the stream side must stay
    # scan+explode+aggregate with map-side partials only)
    exploded = ev.select(
        "user_id",
        F.explode(F.array(*[F.lit(j) for j in range(_CMS_D)])).alias("j"),
    )
    sketch = (
        exploded.select("j", _bucket(F.col("j"), F.col("user_id")).alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # ESTIMATE side: distinct keys × d rows against the broadcast
    # 256-cell sketch (constant size at any N)
    keys_h = ev.distinct().select(
        "user_id",
        F.explode(F.array(*[F.lit(j) for j in range(_CMS_D)])).alias("j"),
    )
    keys_h = keys_h.select(
        "user_id", "j", _bucket(F.col("j"), F.col("user_id")).alias("bucket")
    )
    est = (
        keys_h.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("user_id")
        .agg(F.min("c").alias("est"))
    )
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return exact.join(est, "user_id").select(
        "user_id",
        F.col("n").alias("exact_count"),
        F.col("est").cast("long").alias("cms_estimate"),
        (F.col("est") - F.col("n")).cast("long").alias("overestimate"),
    )


_HLL_MERGE_ORACLE = _HLL_RB_SQL + f"""), group_regs AS (
  SELECT l_returnflag, bucket, max(rho) AS m_j
  FROM rb GROUP BY l_returnflag, bucket
), merged_regs AS (
  SELECT bucket, max(m_j) AS m_j FROM group_regs GROUP BY bucket
), direct_regs AS (
  SELECT bucket, max(rho) AS m_j FROM rb GROUP BY bucket
), est AS (
  SELECT which,
         {_hll_est_duck("", "         ")} AS hll_parts
  FROM (
    SELECT 'merged' AS which,
           sum(CAST(1 AS BIGINT) << ({hll.CAP} - m_j)) AS denom_ne,
           count(*) AS v_cnt
    FROM merged_regs
    UNION ALL
    SELECT 'direct',
           sum(CAST(1 AS BIGINT) << ({hll.CAP} - m_j)),
           count(*)
    FROM direct_regs
  )
)
SELECT e1.hll_parts AS hll_merged,
       e2.hll_parts AS hll_direct,
       e1.hll_parts = e2.hll_parts AS merge_lossless,
       (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) FROM lineitem)
         AS exact_parts
FROM est e1, est e2
WHERE e1.which = 'merged' AND e2.which = 'direct'
"""


@register("q_agg_hll_merge", oracle=_HLL_MERGE_ORACLE)
def q_agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY, proven in-engine: the global HLL built by
    MAX-merging the per-group register tables equals the HLL built
    directly from the union of values — register-for-register, hence
    estimate-for-estimate (`merge_lossless` is computed in the result,
    not asserted offline). This is THE property that lets 100 TB
    distinct counts run as per-partition/per-day sketches rolled up
    later (cube/rollup of sketches, incremental daily merges) instead
    of re-scanning history: max() is associative, commutative and
    idempotent, so any merge tree over any partitioning of the data
    yields the identical 256-register sketch.

    Same replayable-register recipe as q_agg_hll_distinct (md5 hash,
    bin() leading-zero rho, integer-scaled harmonic sum, shared
    injected constants), so DuckDB replays both the per-group sketches
    and the merge and the driver hash-checks all of it.
    """
    li = table(spark, sf_dir, "lineitem")
    bucket, rho = hll.register_address(F.col("l_partkey"), _HLL_M)
    rb = li.select("l_returnflag", bucket.alias("bucket"), rho.alias("rho"))
    group_regs = rb.groupBy("l_returnflag", "bucket").agg(
        F.max("rho").alias("m_j")
    )
    merged_regs = group_regs.groupBy("bucket").agg(F.max("m_j").alias("m_j"))
    direct_regs = rb.groupBy("bucket").agg(F.max("rho").alias("m_j"))
    exact = li.agg(
        F.countDistinct("l_partkey").cast("long").alias("exact_parts")
    )
    m = _hll_estimate(merged_regs).withColumnRenamed("hll", "hll_merged")
    d = _hll_estimate(direct_regs).withColumnRenamed("hll", "hll_direct")
    return (
        m.crossJoin(d)
        .crossJoin(exact)
        .select(
            "hll_merged",
            "hll_direct",
            (F.col("hll_merged") == F.col("hll_direct")).alias(
                "merge_lossless"
            ),
            "exact_parts",
        )
    )


# ---------------------------------------------------------------------------
# winsorized mean: robust aggregation with exact rank-based bounds
# ---------------------------------------------------------------------------

_WINSOR_ORACLE = """
WITH v AS (
  SELECT l_returnflag AS g,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS vc
  FROM lineitem
), b AS (
  SELECT g,
         quantile_cont(CAST(vc AS DOUBLE), 0.1) AS lo,
         quantile_cont(CAST(vc AS DOUBLE), 0.9) AS hi
  FROM v GROUP BY g
)
SELECT v.g AS l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       floor(b.lo * 1000000 + 0.5) / 1000000 AS p10_c,
       floor(b.hi * 1000000 + 0.5) / 1000000 AS p90_c,
       floor((CAST(sum(CASE WHEN vc >= b.lo AND vc <= b.hi
                            THEN vc ELSE 0 END) AS DOUBLE)
              + sum(CASE WHEN vc < b.lo THEN 1 ELSE 0 END) * b.lo
              + sum(CASE WHEN vc > b.hi THEN 1 ELSE 0 END) * b.hi)
             / (100.0 * count(*)) * 1000000 + 0.5) / 1000000
         AS winsorized_mean,
       floor(CAST(sum(vc) AS DOUBLE) / (100.0 * count(*))
             * 1000000 + 0.5) / 1000000 AS raw_mean
FROM v JOIN b ON v.g = b.g
GROUP BY v.g, b.lo, b.hi
"""


@register("q_agg_winsorized", oracle=_WINSOR_ORACLE)
def q_agg_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (clipped) mean per group — the robust aggregate that
    tames heavy tails without discarding rows: values beyond the
    p10/p90 quantiles are clamped to those bounds before averaging.

    The bounds come from the iterative-histogram machinery
    (`binned_exact_percentiles`, the q_agg_percentiles_binned engine)
    — NOT from a per-group rank window. A row_number window partitions
    by the group key, so a 3-group fact table sorts in 3 giant
    single-threaded partitions (the first cut of this query measured
    4.5x on the 10x step for exactly that reason); the binned search
    instead runs a fixed number of fully-parallel histogram scans with
    executor state independent of group volume, and matches DuckDB's
    quantile_cont interpolation exactly (the property the binned
    percentile query's own driver row already proves).

    With the two bound VALUES in hand, winsorization is one
    conditional aggregate: integer sums for the mid-range, clamp
    counts times the (double) bounds for the tails, one division per
    group on identical operands — exact cross-engine, no window
    anywhere.
    """
    li = table(spark, sf_dir, "lineitem")
    vc = F.round(F.col("l_extendedprice") * 100).cast("long")
    v = li.select(F.col("l_returnflag").alias("g"), vc.alias("vc"))
    bounds = binned_exact_percentiles(v, "g", "vc", [0.1, 0.9])
    brows = [
        (g, float(ps[0.1]), float(ps[0.9])) for g, ps in sorted(bounds.items())
    ]
    b = F.broadcast(
        local_frame(v.sparkSession, brows, "g string, lo double, hi double")
    )
    j = v.join(b, "g")
    in_mid = (F.col("vc") >= F.col("lo")) & (F.col("vc") <= F.col("hi"))
    agg = j.groupBy("g", "lo", "hi").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(in_mid, F.col("vc")).otherwise(0))
        .cast("long")
        .alias("mid_sum"),
        F.sum(F.when(F.col("vc") < F.col("lo"), 1).otherwise(0))
        .cast("long")
        .alias("n_lo"),
        F.sum(F.when(F.col("vc") > F.col("hi"), 1).otherwise(0))
        .cast("long")
        .alias("n_hi"),
        F.sum("vc").cast("long").alias("raw_sum"),
    )
    return agg.select(
        F.col("g").alias("l_returnflag"),
        "n_rows",
        stable_round(F.col("lo"), 6).alias("p10_c"),
        stable_round(F.col("hi"), 6).alias("p90_c"),
        stable_round(
            (
                F.col("mid_sum").cast("double")
                + F.col("n_lo") * F.col("lo")
                + F.col("n_hi") * F.col("hi")
            )
            / (100.0 * F.col("n_rows")),
            6,
        ).alias("winsorized_mean"),
        stable_round(
            F.col("raw_sum").cast("double") / (100.0 * F.col("n_rows")), 6
        ).alias("raw_mean"),
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch — third verifiable sketch
# after the replayable HLL and Count-Min
# ---------------------------------------------------------------------------

_KMV_K = 256
_KMV_SALTS = 32  # phase-1 fan-out: per-(group, salt) local top-k

_KMV_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT l_returnflag AS g,
         ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT
           AS hv
  FROM lineitem
), ranked AS (
  SELECT g, hv,
         row_number() OVER (PARTITION BY g ORDER BY hv) AS rk
  FROM h
), kth AS (
  SELECT g, max(hv) AS h_k, CAST(count(*) AS BIGINT) AS n_kept
  FROM ranked WHERE rk <= {_KMV_K} GROUP BY g
), ex AS (
  SELECT l_returnflag AS g,
         CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts
  FROM lineitem GROUP BY g
)
SELECT kth.g AS l_returnflag, ex.exact_parts,
       CAST(kth.h_k AS BIGINT) AS h_k,
       floor((CASE WHEN kth.n_kept < {_KMV_K}
             THEN CAST(kth.n_kept AS DOUBLE)
             ELSE ({_KMV_K} - 1.0) * 1152921504606846976.0
                  / CAST(kth.h_k AS DOUBLE) END) * 100 + 0.5) / 100
         AS kmv_parts
FROM kth JOIN ex ON kth.g = ex.g
"""


@register("q_agg_kmv_distinct", oracle=_KMV_ORACLE)
def q_agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct sketch, the third
    fully-verifiable sketch in the family (HLL registers, Count-Min
    cells, now order statistics of a hash): keep the k smallest
    60-bit md5 hashes per group; the k-th smallest estimates density
    (D̂ = (k−1)·2⁶⁰ / h_k — Bar-Yossef et al., RANDOM'02), and when
    fewer than k distinct hashes exist the sketch IS the exact count.

    Scale shape is the point: "k smallest" is mergeable (the min-k of
    min-k unions is the global min-k), so the plan fans out as a
    per-(group, salt) local top-k window over 32 hash-derived
    salts — each sorting 1/32 of a group — then a final top-k
    over the ≤ 32·k survivors. No group-sized sort anywhere; at
    100 TB each phase-1 partition stays reducer-sized by
    construction. The estimate's single division runs on identical
    exact operands, so the driver hash pins the sketch AND the
    estimator. KMV's extra trick vs HLL: bottom-k sets support set
    OPERATIONS (intersection/Jaccard estimates) the HLL can't do
    without inclusion-exclusion blowup.
    """
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem")
    hv = F.conv(
        F.substring(F.md5(F.col("l_partkey").cast("string")), 1, 15), 16, 10
    ).cast("long")
    h = li.select(
        F.col("l_returnflag").alias("g"), hv.alias("hv")
    ).distinct()
    salted = h.withColumn("salt", F.pmod(F.col("hv"), F.lit(_KMV_SALTS)))
    w1 = W.partitionBy("g", "salt").orderBy("hv")
    local = (
        salted.withColumn("rk", F.row_number().over(w1))
        .filter(F.col("rk") <= _KMV_K)
        .drop("rk", "salt")
    )
    w2 = W.partitionBy("g").orderBy("hv")
    kth = (
        local.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= _KMV_K)
        .groupBy("g")
        .agg(
            F.max("hv").alias("h_k"),
            F.count(F.lit(1)).cast("long").alias("n_kept"),
        )
    )
    exact = li.groupBy(F.col("l_returnflag").alias("g")).agg(
        F.countDistinct("l_partkey").cast("long").alias("exact_parts")
    )
    est = F.when(
        F.col("n_kept") < _KMV_K, F.col("n_kept").cast("double")
    ).otherwise(
        (_KMV_K - 1.0) * 1152921504606846976.0 / F.col("h_k").cast("double")
    )
    return kth.join(exact, "g").select(
        F.col("g").alias("l_returnflag"),
        "exact_parts",
        F.col("h_k").cast("long").alias("h_k"),
        stable_round(est, 2).alias("kmv_parts"),
    )


# ---------------------------------------------------------------------------
# KMV set operations: union / intersection / Jaccard from bottom-k sketches
# ---------------------------------------------------------------------------

_KMV_SEG_A = "BUILDING"
_KMV_SEG_B = "MACHINERY"

_KMV_SETOP_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT c.c_mktsegment AS g,
         ('0x' || substr(md5(CAST(l.l_partkey AS VARCHAR)), 1, 15))::BIGINT
           AS hv
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE c.c_mktsegment IN ('{_KMV_SEG_A}', '{_KMV_SEG_B}')
), sk AS (
  SELECT g, hv FROM (
    SELECT g, hv, row_number() OVER (PARTITION BY g ORDER BY hv) AS rk
    FROM h
  ) WHERE rk <= {_KMV_K}
), u AS (
  SELECT hv FROM (
    SELECT hv, row_number() OVER (ORDER BY hv) AS rk
    FROM (SELECT DISTINCT hv FROM sk)
  ) WHERE rk <= {_KMV_K}
), ustat AS (
  SELECT max(hv) AS h_u, CAST(count(*) AS BIGINT) AS n_u FROM u
), both_cnt AS (
  SELECT CAST(count(*) AS BIGINT) AS n_both FROM (
    SELECT u.hv FROM u
    JOIN sk ON sk.hv = u.hv
    GROUP BY u.hv HAVING count(DISTINCT sk.g) = 2
  )
), ex AS (
  SELECT
    CAST(count(DISTINCT hv) AS BIGINT) AS union_exact,
    CAST(sum(CASE WHEN ng = 2 THEN 1 ELSE 0 END) AS BIGINT) AS inter_exact
  FROM (SELECT hv, count(DISTINCT g) AS ng FROM h GROUP BY hv)
)
SELECT ex.union_exact, ex.inter_exact,
       CAST(ustat.n_u AS BIGINT) AS n_u,
       CAST(both_cnt.n_both AS BIGINT) AS n_both,
       floor((CASE WHEN ustat.n_u < {_KMV_K}
             THEN CAST(ustat.n_u AS DOUBLE)
             ELSE ({_KMV_K} - 1.0) * 1152921504606846976.0
                  / CAST(ustat.h_u AS DOUBLE) END) * 100 + 0.5) / 100
         AS union_est,
       floor(CAST(both_cnt.n_both AS DOUBLE) / ustat.n_u
             * 1000000 + 0.5) / 1000000 AS jaccard_est,
       floor((CAST(both_cnt.n_both AS DOUBLE) / ustat.n_u
             * CASE WHEN ustat.n_u < {_KMV_K}
               THEN CAST(ustat.n_u AS DOUBLE)
               ELSE ({_KMV_K} - 1.0) * 1152921504606846976.0
                    / CAST(ustat.h_u AS DOUBLE) END) * 100 + 0.5) / 100
         AS inter_est
FROM ex, ustat, both_cnt
"""


@register("q_agg_kmv_setops", oracle=_KMV_SETOP_ORACLE)
def q_agg_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set OPERATIONS on KMV sketches — the capability that justifies
    bottom-k over HLL (q_agg_kmv_distinct's docstring promises it;
    this query delivers): estimate |A∪B|, |A∩B| and Jaccard between
    the distinct part sets purchased by two market segments from two
    256-hash sketches, never rescanning the corpus.  Beyer et al.
    (SIGMOD'07): the bottom-k of K_A ∪ K_B is exactly the bottom-k of
    A ∪ B (min-k is mergeable), its k-th value estimates the union;
    the fraction of those k that appear in BOTH input sketches
    estimates Jaccard; intersection = ρ̂·Û.  When the union has fewer
    than k distinct hashes the sketch degenerates to the exact sets
    and all three estimates are exact — the same convention as the
    base sketch.

    Scale shape: the only corpus-sized work is the segment-filtered
    distinct (one shuffle); each sketch is ≤256 rows, so the set
    algebra — union ranking, two-sketch membership, the estimator
    division — runs on KB-sized data regardless of corpus size.  At
    100 TB you'd persist per-day/per-segment sketch TABLES and answer
    any pairwise overlap question from sketch joins alone; exact
    columns here exist to let the oracle pin the estimator against
    ground truth."""
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin(_KMV_SEG_A, _KMV_SEG_B))
        .select("c_custkey", "c_mktsegment")
    )
    hv = F.conv(
        F.substring(F.md5(F.col("l_partkey").cast("string")), 1, 15), 16, 10
    ).cast("long")
    h = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(F.col("c_mktsegment").alias("g"), hv.alias("hv"))
        .distinct()
    )
    from end_to_end_aws_data_pipeline_spark.cache import persisted

    # same salted two-phase bottom-k as q_agg_kmv_distinct: local top-k
    # per (g, salt) keeps every phase-1 sort reducer-sized; the final
    # per-g top-k ranks <= SALTS*k survivors
    salted = h.withColumn("salt", F.pmod(F.col("hv"), F.lit(_KMV_SALTS)))
    local = (
        salted.withColumn(
            "rk",
            F.row_number().over(W.partitionBy("g", "salt").orderBy("hv")),
        )
        .filter(F.col("rk") <= _KMV_K)
        .drop("rk", "salt")
    )
    sk = persisted(
        local.withColumn(
            "rk", F.row_number().over(W.partitionBy("g").orderBy("hv"))
        )
        .filter(F.col("rk") <= _KMV_K)
        .drop("rk")
    )
    # the union rank runs over the MERGED SKETCHES (<= 2k rows of KB
    # size, never the corpus), so the single-partition window
    # (WindowExec's warning) is the design, bounded by 2k. persisted:
    # it feeds ustat AND the two-sketch membership count — unpersisted,
    # each consumer re-ranks the union (measured ~2x fixed cost)
    u = persisted(
        sk.select("hv")
        .distinct()
        .withColumn("rk", F.row_number().over(W.orderBy("hv")))
        .filter(F.col("rk") <= _KMV_K)
        .drop("rk")
    )
    ustat = u.agg(
        F.max("hv").alias("h_u"), F.count(F.lit(1)).cast("long").alias("n_u")
    )
    n_both = (
        u.join(sk, "hv")
        .groupBy("hv")
        .agg(F.countDistinct("g").alias("ng"))
        .filter(F.col("ng") == 2)
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    ex = (
        h.groupBy("hv")
        .agg(F.countDistinct("g").alias("ng"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("union_exact"),
            F.sum(F.when(F.col("ng") == 2, 1).otherwise(0))
            .cast("long")
            .alias("inter_exact"),
        )
    )
    union_est = F.when(
        F.col("n_u") < _KMV_K, F.col("n_u").cast("double")
    ).otherwise(
        (_KMV_K - 1.0) * 1152921504606846976.0 / F.col("h_u").cast("double")
    )
    jac = F.col("n_both").cast("double") / F.col("n_u")
    return (
        ex.crossJoin(ustat)
        .crossJoin(n_both)
        .select(
            "union_exact",
            "inter_exact",
            F.col("n_u").cast("long").alias("n_u"),
            F.col("n_both").cast("long").alias("n_both"),
            stable_round(union_est, 2).alias("union_est"),
            stable_round(jac, 6).alias("jaccard_est"),
            stable_round(jac * union_est, 2).alias("inter_est"),
        )
    )


# ---------------------------------------------------------------------------
# bitmap-exact distinct count (bit_or-mergeable, dense-domain path)
# ---------------------------------------------------------------------------

_BM_BITS = 62  # bits per word: keeps 1 << bit inside signed int64


_BITMAP_ORACLE = f"""
WITH b AS (
  SELECT l_returnflag AS g,
         l_partkey // {_BM_BITS} AS word,
         bit_or(1::BIGINT << (l_partkey % {_BM_BITS})) AS bm
  FROM lineitem
  GROUP BY g, word
)
SELECT g AS l_returnflag,
       CAST(sum(bit_count(bm)) AS BIGINT) AS distinct_parts,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(word * bit_count(bm)) AS BIGINT) AS word_checksum
FROM b GROUP BY g
"""


@register("q_agg_bitmap_distinct", oracle=_BITMAP_ORACLE)
def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct count over a dense integer domain via bitmap
    words: key k sets bit k mod 62 of word k div 62; words
    combine with BIT_OR — an associative, idempotent, map-side-
    combinable aggregate — and the distinct count is the popcount
    sum. This is the poor-man's roaring bitmap: where count(DISTINCT)
    shuffles every distinct VALUE, the bitmap shuffles
    domain/62 words regardless of row count, and the same words
    roll up across partitions/days by OR (the HLL-merge argument,
    but EXACT — the trade is requiring a bounded integer domain,
    which surrogate keys are).

    The word checksum pins which words are populated, not just how
    many bits survived; 62-bit words keep every shift inside
    signed int64 in both engines.
    """
    li = table(spark, sf_dir, "lineitem")
    b = li.groupBy(
        F.col("l_returnflag").alias("g"),
        F.expr(f"l_partkey div {_BM_BITS}").alias("word"),
    ).agg(
        F.bit_or(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), l_partkey % {_BM_BITS})")
        ).alias("bm")
    )
    return b.groupBy("g").agg(
        F.sum(F.bit_count("bm")).cast("long").alias("distinct_parts"),
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.col("word") * F.bit_count("bm"))
        .cast("long")
        .alias("word_checksum"),
    ).select(
        F.col("g").alias("l_returnflag"),
        "distinct_parts",
        "n_words",
        "word_checksum",
    )


# ---------------------------------------------------------------------------
# rolling-window HLL: mergeability over sliding time windows
# ---------------------------------------------------------------------------

_RHLL_DAYS = 7

_RHLL_ORACLE = f"""
WITH du AS (
  SELECT CAST(ts AS DATE) AS day, user_id,
         md5(CAST(user_id AS VARCHAR)) AS hx
  FROM events
), rb AS (
  SELECT day,
         ('0x' || substr(hx, 1, 2))::BIGINT AS bucket,
         least(CASE WHEN w = 0 THEN {hll.WBITS + 1}
               ELSE {hll.WBITS + 1} - length(bin(w)) END,
               {hll.CAP}) AS rho
  FROM (SELECT day, hx, ('0x' || substr(hx, 3, 14))::BIGINT AS w FROM du)
), day_regs AS (
  SELECT day, bucket, max(rho) AS m_j FROM rb GROUP BY day, bucket
), days AS (SELECT DISTINCT day FROM du),
merged AS (
  SELECT d.day AS tday, r.bucket, max(r.m_j) AS m_j
  FROM days d JOIN day_regs r
    ON r.day BETWEEN d.day - {_RHLL_DAYS - 1} AND d.day
  GROUP BY d.day, r.bucket
), agg AS (
  SELECT tday,
         sum(CAST(1 AS BIGINT) << ({hll.CAP} - m_j)) AS denom_ne,
         count(*) AS v_cnt
  FROM merged GROUP BY tday
), ex AS (
  SELECT d.day AS tday,
         CAST(count(DISTINCT e.user_id) AS BIGINT) AS exact_users_7d
  FROM days d JOIN (SELECT DISTINCT day, user_id FROM du) e
    ON e.day BETWEEN d.day - {_RHLL_DAYS - 1} AND d.day
  GROUP BY d.day
)
SELECT CAST(a.tday AS VARCHAR) AS day,
       ex.exact_users_7d,
       {_hll_est_duck("a.", "       ")} AS hll_users_7d
FROM agg a JOIN ex USING (tday)
"""


@register("q_window_rolling_hll", oracle=_RHLL_ORACLE)
def q_window_rolling_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day as a SKETCH MERGE — the
    100 TB path for q_window_rolling_distinct (sweep.py): at web scale
    the exact explode-and-re-distinct shuffles the (day,user) pair
    corpus 7×, while this touches the corpus ONCE to build per-day HLL
    registers and then merges register tables whose size is days×m
    (30×256 here) — the sliding window becomes arithmetic on a
    calendar-bounded table. This is mergeability, the property that
    makes sketches the right rollup currency: day sketches compose
    into ANY window (7d, 28d, MTD) without rescanning.

    Same replayable-register recipe as q_agg_hll_distinct (md5 →
    bucket/rho, MAX-combinable, integer-scaled harmonic estimator,
    shared literal constants and ln table) so the estimate — not just
    the registers — hash-matches the DuckDB replay; the exact rolling
    count rides along per row for an in-result error check. Reference ancestor: delta_load.py:98's
    drop_duplicates() row-dedup (SURVEY §2.A row 5) is the exact
    distinct this approximates at scale.
    """
    e = table(spark, sf_dir, "events")
    bucket, rho = hll.register_address(F.col("user_id"), _HLL_M)
    du = e.select(
        F.col("ts").cast("date").alias("day"),
        "user_id",
        bucket.alias("bucket"),
        rho.alias("rho"),
    )
    # ONE corpus pass → day-level registers (days × m rows)
    day_regs = du.groupBy("day", "bucket").agg(F.max("rho").alias("m_j"))
    days = du.select("day").distinct()
    # register-table explode: ≤7 target days per (day, bucket) row —
    # fan-out on the BOUNDED sketch table, never on the corpus
    merged = (
        day_regs.select(
            F.explode(
                F.sequence(
                    F.col("day"), F.date_add(F.col("day"), _RHLL_DAYS - 1)
                )
            ).alias("tday"),
            "bucket",
            "m_j",
        )
        .join(F.broadcast(days.select(F.col("day").alias("tday"))), "tday")
        .groupBy("tday", "bucket")
        .agg(F.max("m_j").alias("m_j"))
    )
    # exact twin for the in-result error check (cheap at any SF: the
    # (day,user) distinct is the same shuffle the exact query pays)
    exact = (
        du.select("day", "user_id")
        .distinct()
        .select(
            F.explode(
                F.sequence(
                    F.col("day"), F.date_add(F.col("day"), _RHLL_DAYS - 1)
                )
            ).alias("tday"),
            "user_id",
        )
        .join(F.broadcast(days.select(F.col("day").alias("tday"))), "tday")
        .distinct()
        .groupBy("tday")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_users_7d"))
    )
    return (
        _hll_estimate(merged, "tday")
        .join(exact, "tday")
        .select(
            F.col("tday").cast("string").alias("day"),
            "exact_users_7d",
            F.col("hll").alias("hll_users_7d"),
        )
    )


# ---------------------------------------------------------------------------
# equi-width histogram per group (adaptive bounds from a 1-row probe)
# ---------------------------------------------------------------------------

_HISTO_BINS = 16

_HISTO_ORACLE = f"""
WITH v AS MATERIALIZED (
  SELECT l_returnflag AS g,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS vc
  FROM lineitem
), b AS MATERIALIZED (
  SELECT min(vc) AS lo, max(vc) AS hi,
         (max(vc) - min(vc)) // {_HISTO_BINS} + 1 AS w
  FROM v
)
SELECT v.g AS l_returnflag,
       CAST(least((vc - b.lo) // b.w, {_HISTO_BINS - 1}) AS INT) AS bin,
       CAST(b.lo + least((vc - b.lo) // b.w, {_HISTO_BINS - 1}) * b.w
            AS BIGINT) AS bin_lo_c,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(vc) AS BIGINT) AS sum_c
FROM v CROSS JOIN b
GROUP BY v.g, bin, bin_lo_c
"""


@register("q_agg_histogram", oracle=_HISTO_ORACLE)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram per group — the generic
    distribution-shape readout behind every profiler bar chart, with
    ADAPTIVE bounds: a one-row global min/max probe fixes
    16 integer-cent bins (width = span//bins + 1 — exact
    integer, no float edges, so bin assignment replays in any engine),
    then one combinable pass counts and sums per (group, bin). The
    fixed-band lesson (scale-lessons: a $100 band collapsed a
    deviation pass) is why bounds adapt instead of being constants.

    Scale shape: probe (1 row) + one map-side-combinable groupBy whose
    key space is groups x 16 — never data-sized; executor
    state is a handful of int64 counters per task."""
    li = table(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_returnflag").alias("g"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("vc"),
    )
    lo_v, hi_v = v.agg(F.min("vc"), F.max("vc")).first()
    w = (hi_v - lo_v) // _HISTO_BINS + 1
    # integer div, not floor(double /): double division loses exactness
    # past 2^53 cents while `div` replays DuckDB's `//` at any magnitude
    bin_ = F.least(
        F.expr(f"(vc - {lo_v}L) div {w}L"), F.lit(_HISTO_BINS - 1)
    ).cast("int")
    return (
        v.groupBy("g", bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("vc").cast("long").alias("sum_c"),
        )
        .select(
            F.col("g").alias("l_returnflag"),
            "bin",
            (F.lit(lo_v) + F.col("bin").cast("long") * F.lit(w))
            .cast("long")
            .alias("bin_lo_c"),
            "n_rows",
            "sum_c",
        )
    )


# ---------------------------------------------------------------------------
# mergeable rank/quantile sketch (MRL/KLL family, deterministic compaction)
# ---------------------------------------------------------------------------

KLL_K = 256  # per-sketch capacity: rank error ~ (groups + max stratum)/N
KLL_QS = (250_000, 500_000, 750_000, 950_000)  # q in ppm
_KLL_QS_SQL = ", ".join(f"({q})" for q in KLL_QS)



def kll_oracle_sql(source: str, extra_cols: str = "") -> str:
    """The KLL construction, merge, estimation and rank-error audit in
    DuckDB over ``source`` (the body of a SELECT of group ``g``, value
    ``vc`` and tie-break ``uniq``); ``extra_cols`` lines go into the
    output just before ``weight_exact``. The batch oracle below and the
    stream twin (streaming/sketch.py) differ only in these."""
    return f"""
WITH v AS MATERIALIZED (
{source}
), powers AS MATERIALIZED (
  SELECT CAST(1 AS BIGINT) << CAST(p AS INT) AS sp FROM range(0, 41) t(p)
), gr AS MATERIALIZED (
  SELECT g, vc, uniq,
         row_number() OVER (PARTITION BY g ORDER BY vc, uniq) AS rk
  FROM v
), gm AS MATERIALIZED (
  SELECT g, n_g,
         (SELECT min(sp) FROM powers
          WHERE sp >= (n_g + {KLL_K - 1}) // {KLL_K}) AS s
  FROM (SELECT g, CAST(count(*) AS BIGINT) AS n_g FROM v GROUP BY g)
), l1 AS MATERIALIZED (
  SELECT gr.g, gr.vc, gr.uniq,
         CAST(least(gm.s, gm.n_g - gr.rk + 1) AS BIGINT) AS w
  FROM gr JOIN gm USING (g)
  WHERE (gr.rk - 1) % gm.s = 0
), s2t AS MATERIALIZED (
  SELECT m_items, wsum,
         (SELECT min(sp) FROM powers
          WHERE sp >= (m_items + {KLL_K - 1}) // {KLL_K}) AS s2
  FROM (SELECT CAST(count(*) AS BIGINT) AS m_items,
               CAST(sum(w) AS BIGINT) AS wsum FROM l1)
), items AS MATERIALIZED (
  SELECT vc, uniq, w,
         row_number() OVER (ORDER BY vc, uniq) AS idx
  FROM l1
), strata AS MATERIALIZED (
  SELECT (idx - 1) // s2t.s2 AS st, min(idx) AS first_idx,
         CAST(sum(w) AS BIGINT) AS w2
  FROM items CROSS JOIN s2t GROUP BY 1
), kept AS MATERIALIZED (
  SELECT i.vc, i.uniq, s.w2,
         CAST(sum(s.w2) OVER (ORDER BY i.vc, i.uniq) AS BIGINT) AS cw
  FROM strata s JOIN items i ON i.idx = s.first_idx
), nn AS MATERIALIZED (
  SELECT CAST(sum(n_g) AS BIGINT) AS n FROM gm
), bound AS MATERIALIZED (
  SELECT (SELECT CAST(sum(s - 1) AS BIGINT) FROM gm)
         + (SELECT CAST(max(w2) AS BIGINT) FROM strata) AS b
), spec AS MATERIALIZED (
  SELECT q.q_ppm, nn.n, (q.q_ppm * nn.n + 999999) // 1000000 AS t
  FROM nn CROSS JOIN (VALUES {_KLL_QS_SQL}) q(q_ppm)
), est AS MATERIALIZED (
  SELECT s.q_ppm, s.n, s.t,
         (SELECT min(vc) FROM kept WHERE cw >= s.t) AS est_vc
  FROM spec s
), audit AS MATERIALIZED (
  SELECT e.q_ppm, e.n, e.t, e.est_vc,
         1 + sum(CASE WHEN x.vc < e.est_vc THEN 1 ELSE 0 END) AS lo,
         sum(CASE WHEN x.vc <= e.est_vc THEN 1 ELSE 0 END) AS hi
  FROM v x CROSS JOIN est e
  GROUP BY e.q_ppm, e.n, e.t, e.est_vc
)
SELECT CAST(a.q_ppm AS BIGINT) AS q_ppm,
       CAST(a.t AS BIGINT) AS target_rank,
       CAST(a.est_vc AS BIGINT) AS est_vc,
       CAST(CASE WHEN a.t < a.lo THEN a.lo - a.t
                 WHEN a.t > a.hi THEN a.t - a.hi
                 ELSE 0 END AS BIGINT) AS rank_err,
       CAST(b.b AS BIGINT) AS err_bound,
       (CASE WHEN a.t < a.lo THEN a.lo - a.t
             WHEN a.t > a.hi THEN a.t - a.hi
             ELSE 0 END) <= b.b AS within_bound,
       CAST(a.n AS BIGINT) AS n_rows,
       CAST(s2t.m_items AS BIGINT) AS merged_items,
       (SELECT CAST(count(*) AS BIGINT) FROM strata) AS sketch_items,
{extra_cols}       s2t.wsum = a.n AS weight_exact
FROM audit a CROSS JOIN bound b CROSS JOIN s2t
ORDER BY q_ppm
"""


_KLL_ORACLE = kll_oracle_sql(
    """  SELECT year(l_shipdate) * 12 + month(l_shipdate) AS g,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS vc,
         l_orderkey * 8 + l_linenumber AS uniq
  FROM lineitem"""
)


@register("q_agg_kll_quantiles", oracle=_KLL_ORACLE)
def q_agg_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (MRL/KLL compactor family — Manku,
    Rajagopalan & Lindsay SIGMOD'98; Agarwal et al. "Mergeable
    Summaries" PODS'12) with DETERMINISTIC compaction, completing the
    sketch suite beside HLL/KMV/CMS: per-calendar-month price sketches
    of ≤256 (KLL_K) weighted items are MERGED into one global sketch that
    answers any quantile with a PROVEN rank-error bound — the artifact
    that lets a 100 TB percentile dashboard roll daily/monthly sketches
    up into arbitrary date-range quantiles without ever rescanning
    history.

    Construction is the canonical (order-free) form of the compactor:
    within each group, rows are ranked by the total order (value,
    uniq) and every s_g-th rank is kept — s_g = the power of two that
    caps the group at 256 items — carrying weight = its stratum's
    EXACT row count (strata tile [1..N_g], so per-group weights sum to
    N_g exactly and the merged sketch's total weight equals N — the
    `weight_exact` column proves it in-engine). The merge is one more
    identical compaction over the weighted items. Because selection
    depends only on canonical rank, the sketch of a multiset is unique
    — classic streaming KLL's coin-flips are replaced by rank parity —
    so DuckDB replays construction, merge and estimation bit-for-bit
    (the HLL register playbook, applied to rank sketches).

    Estimation: quantile q -> the first kept value whose cumulative
    weight reaches t = ceil(q*N). Published with the REALIZED rank
    error — the exact rank interval of the estimate comes from one
    conditional-count aggregate over the corpus (count of values
    below/at est; no second rank shuffle — a full global-rank audit
    pass A/B-measured ~2 s of pure window shuffle at sf0.1 for
    information the counts already carry) — against the in-plan bound
    B = sum_g(s_g - 1) + max stratum weight (at most one level-1
    stratum per group straddles any cut, plus the merge stratum's
    quantization); `within_bound` is computed, not asserted offline.
    A production build is the construction pass alone.

    Scale shape: per-group ranks via segmented_group_rank (value-band
    local windows + per-group band prefix sums — a month of a 100 TB
    table never becomes one window partition); everything after the
    rank-parity filter runs on <= months x 256 rows, and the two
    unpartitioned windows are construction-bounded (gated by
    numOutputRows in the boundedness test). k = 256 gives rank
    error ~ (months + merge stratum)/N — one part in ~10^2 of N here,
    shrinking relatively as N grows at fixed group count.
    """
    from pyspark.sql import Window as W

    from end_to_end_aws_data_pipeline_spark.cache import persisted
    from end_to_end_aws_data_pipeline_spark.operators.sweep import (
        segmented_group_rank,
    )

    k = KLL_K
    li = table(spark, sf_dir, "lineitem")
    v = li.select(
        (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
        .cast("long")
        .alias("g"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("vc"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber"))
        .cast("long")
        .alias("uniq"),
    )
    # ONE bounded probe pass feeds every scalar the construction needs:
    # per-group sizes (-> compaction steps), value span (-> band), group
    # count, N. The per-group step is smallest power of two with
    # ceil(n_g / s) <= k — scalar arithmetic on a months-sized fetch
    # (the binned-percentile driver-state pattern); a powers-table join
    # chain for the same algebra benched ~1.5 s of pure broadcast-job
    # overhead at sf0.1.
    per_g = v.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.min("vc").alias("lo"),
        F.max("vc").alias("hi"),
    ).collect()

    def _pow2ceil(c: int) -> int:
        s = 1
        while s * k < c:
            s *= 2
        return s

    steps = {int(r["g"]): _pow2ceil(int(r["n_g"])) for r in per_g}
    n_rows = sum(int(r["n_g"]) for r in per_g)
    b1 = sum(s - 1 for s in steps.values())
    span = max(int(r["hi"]) for r in per_g) - min(int(r["lo"]) for r in per_g)
    band = span * max(len(per_g), 1) // 4096 + 1
    gm = local_frame(
        spark, sorted(steps.items()), "g long, s long"
    )
    ranked_g, _sizes = segmented_group_rank(v, "g", "vc", ["uniq"], band)
    l1 = persisted(
        ranked_g.join(F.broadcast(gm), "g")
        .where(F.expr("(rk - 1) % s = 0"))
        .select(
            "vc",
            "uniq",
            F.least(F.col("s"), F.col("n_g") - F.col("rk") + 1)
            .cast("long")
            .alias("w"),
        )
    )
    m_items, wsum = (
        l1.agg(F.count(F.lit(1)), F.sum("w").cast("long")).first()
    )
    s2 = _pow2ceil(int(m_items))
    sketch_items = -(-int(m_items) // s2)
    # merge = the same compaction over the weighted union: bounded
    # global windows (<= months x k rows by construction, gated)
    items = l1.select(
        "vc",
        "uniq",
        "w",
        F.row_number().over(W.orderBy("vc", "uniq")).alias("idx"),
    )
    strata = persisted(
        items.groupBy(F.expr(f"(idx - 1) div {s2}").alias("st"))
        .agg(
            F.min("idx").alias("first_idx"),
            F.sum("w").cast("long").alias("w2"),
        )
    )
    kept_cw = (
        strata.join(items, strata["first_idx"] == items["idx"])
        .select(
            "vc",
            "w2",
            F.sum("w2")
            .over(
                W.orderBy("vc", "uniq").rowsBetween(W.unboundedPreceding, 0)
            )
            .cast("long")
            .alias("cw"),
        )
    )
    spec = local_frame(
        spark,
        [(q, (q * n_rows + 999_999) // 1_000_000) for q in KLL_QS],
        "q_ppm long, t long",
    )
    est = (
        F.broadcast(spec)
        .crossJoin(kept_cw)
        .where(F.col("cw") >= F.col("t"))
        .groupBy("q_ppm", "t")
        .agg(F.min("vc").alias("est_vc"))
    )
    bound = strata.agg(
        (F.lit(b1) + F.max("w2")).cast("long").alias("b")
    )
    # error audit: the estimate's EXACT rank interval needs only
    # conditional COUNTS vs est_vc — one scan + one combinable
    # aggregate, no second rank shuffle (a full segmented-global-rank
    # audit pass A/B-measured ~2 s of pure window shuffle at sf0.1 for
    # information the counts already carry)
    audit = (
        v.crossJoin(F.broadcast(est))
        .groupBy("q_ppm", "t", "est_vc")
        .agg(
            (
                F.lit(1)
                + F.sum(
                    F.when(F.col("vc") < F.col("est_vc"), 1).otherwise(0)
                )
            ).alias("lo"),
            F.sum(
                F.when(F.col("vc") <= F.col("est_vc"), 1).otherwise(0)
            ).alias("hi"),
        )
    )
    rank_err = (
        F.when(F.col("t") < F.col("lo"), F.col("lo") - F.col("t"))
        .when(F.col("t") > F.col("hi"), F.col("t") - F.col("hi"))
        .otherwise(F.lit(0))
        .cast("long")
    )
    return (
        audit.crossJoin(F.broadcast(bound))
        .select(
            F.col("q_ppm").cast("long").alias("q_ppm"),
            F.col("t").cast("long").alias("target_rank"),
            F.col("est_vc").cast("long").alias("est_vc"),
            rank_err.alias("rank_err"),
            F.col("b").cast("long").alias("err_bound"),
            (rank_err <= F.col("b")).alias("within_bound"),
            F.lit(n_rows).cast("long").alias("n_rows"),
            F.lit(int(m_items)).cast("long").alias("merged_items"),
            F.lit(sketch_items).cast("long").alias("sketch_items"),
            F.lit(int(wsum) == n_rows).alias("weight_exact"),
        )
        .orderBy("q_ppm")
    )


# ---------------------------------------------------------------------------
# mergeable heavy-hitters summary (top-K per partition, provable bounds)
# ---------------------------------------------------------------------------

HH_K = 64   # per-group summary capacity
HH_TOP = 20  # published global heavy hitters



def hh_oracle_sql(source: str, key: str) -> str:
    """The heavy-hitters summary, merge and exact audit in DuckDB over
    ``source`` (the body of a SELECT of group ``g`` and key ``k``),
    publishing the key as ``key``. The batch oracle below and the
    stream twin (streaming/sketch.py) differ only in these."""
    return f"""
WITH v AS MATERIALIZED (
{source}
), c AS MATERIALIZED (
  SELECT g, k, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY g, k
), r AS MATERIALIZED (
  SELECT g, k, cnt,
         row_number() OVER (PARTITION BY g ORDER BY cnt DESC, k) AS rk
  FROM c
), tg AS MATERIALIZED (
  SELECT g,
         CAST(coalesce(max(CASE WHEN rk = {HH_K} THEN cnt END), 0)
              AS BIGINT) AS t
  FROM r GROUP BY g
), tt AS MATERIALIZED (
  SELECT CAST(sum(t) AS BIGINT) AS total_t FROM tg
), kept AS MATERIALIZED (
  SELECT r.k, r.cnt, tg.t
  FROM r JOIN tg USING (g) WHERE r.rk <= {HH_K}
), cand AS MATERIALIZED (
  SELECT k, CAST(sum(cnt) AS BIGINT) AS lo, CAST(sum(t) AS BIGINT) AS tcov,
         CAST(count(*) AS BIGINT) AS groups_present
  FROM kept GROUP BY k
), top AS MATERIALIZED (
  SELECT k, lo, CAST(lo + tt.total_t - tcov AS BIGINT) AS hi,
         groups_present
  FROM cand CROSS JOIN tt
  ORDER BY lo DESC, k LIMIT {HH_TOP}
), ex AS MATERIALIZED (
  SELECT v.k, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM v JOIN top ON top.k = v.k GROUP BY v.k
)
SELECT top.k AS {key}, top.lo AS est_lo, top.hi AS est_hi,
       ex.exact_cnt, top.groups_present,
       (top.lo <= ex.exact_cnt AND ex.exact_cnt <= top.hi)
         AS within_bound
FROM top JOIN ex ON ex.k = top.k
ORDER BY est_lo DESC, {key}
"""


_HH_ORACLE = hh_oracle_sql(
    """  SELECT year(l_shipdate) * 12 + month(l_shipdate) AS g,
         l_partkey AS k
  FROM lineitem""",
    "l_partkey",
)


@register("q_agg_heavy_hitters_merge", oracle=_HH_ORACLE)
def q_agg_heavy_hitters_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HEAVY-HITTERS summaries with provable bounds — the
    frequent-items member of the mergeable-summary family beside the
    HLL register merge (distinct counts) and the KLL compaction merge
    (ranks): each calendar month keeps only its exact top-64 (HH_K)
    part counts plus the K-th count t_g, and any rollup of months
    answers "global top parts" from the summaries alone with a
    DETERMINISTIC error interval — an item absent from a month's
    summary occurred at most t_g times there (Misra-Gries/SpaceSaving
    bound, computed offline so the summary of a multiset is canonical
    and order-free), so est in [sum of kept counts, + sum of absent
    months' t_g]. The published top-20 (HH_TOP) carry their exact global
    counts next to the interval and `within_bound` is computed
    in-engine, not asserted offline.

    This is how a 100 TB deployment serves "top items over any date
    range" without rescanning: per-day summaries are tiny (K rows +
    one threshold), merging is associative count addition, and the
    bound degrades gracefully with the number of merged partitions.

    Scale shape: one corpus-sized (month, part) count shuffle; the
    per-month top-K rank window partitions by month over PART-DICTIONARY
    sized input (distinct parts per month — catalog-bounded, not event-
    volume-bounded); everything after the rk <= 64 filter runs on
    <= months x 64 rows; the exact-count audit is one corpus pass
    semi-joined to the 20 published keys. A histogram-threshold
    selection variant (find the K-th count from the bounded
    (month, count) tally, filter, rank only the threshold ties) was
    A/B-measured and LOST at every scale — 6.5 vs 2.3 s at sf0.1,
    32.6 vs 29.7 s at sf10 — its extra passes over a persisted
    corpus-sized count table and driver round-trips cost more than the
    dictionary-bounded sort they avoid; it becomes the right shape only
    when a single month's catalog outgrows one task's sort budget."""
    from pyspark.sql import Window as W

    from end_to_end_aws_data_pipeline_spark.cache import persisted

    li = table(spark, sf_dir, "lineitem")
    v = li.select(
        (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
        .cast("long")
        .alias("g"),
        F.col("l_partkey").cast("long").alias("k"),
    )
    c = v.groupBy("g", "k").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    r = c.select(
        "g",
        "k",
        "cnt",
        F.row_number()
        .over(W.partitionBy("g").orderBy(F.col("cnt").desc(), "k"))
        .alias("rk"),
    ).where(F.col("rk") <= HH_K)
    # kept summaries are months x K rows — persist: the threshold
    # table, candidate rollup and bound total all read them
    kept = persisted(r)
    tg = kept.groupBy("g").agg(
        F.coalesce(
            F.max(F.when(F.col("rk") == HH_K, F.col("cnt"))), F.lit(0)
        )
        .cast("long")
        .alias("t")
    )
    total_t = tg.agg(F.sum("t").cast("long").alias("total_t"))
    cand = (
        kept.join(F.broadcast(tg), "g")
        .groupBy("k")
        .agg(
            F.sum("cnt").cast("long").alias("lo"),
            F.sum("t").cast("long").alias("tcov"),
            F.count(F.lit(1)).cast("long").alias("groups_present"),
        )
    )
    top = (
        cand.crossJoin(F.broadcast(total_t))
        .select(
            "k",
            "lo",
            (F.col("lo") + F.col("total_t") - F.col("tcov"))
            .cast("long")
            .alias("hi"),
            "groups_present",
        )
        .orderBy(F.col("lo").desc(), "k")
        .limit(HH_TOP)
    )
    ex = (
        v.join(F.broadcast(top.select("k")), "k")
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
    )
    return (
        top.join(ex, "k")
        .select(
            F.col("k").alias("l_partkey"),
            F.col("lo").alias("est_lo"),
            F.col("hi").alias("est_hi"),
            "exact_cnt",
            "groups_present",
            (
                (F.col("lo") <= F.col("exact_cnt"))
                & (F.col("exact_cnt") <= F.col("hi"))
            ).alias("within_bound"),
        )
        .orderBy(F.col("est_lo").desc(), "l_partkey")
    )