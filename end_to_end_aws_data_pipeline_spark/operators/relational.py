"""Relational core: scan → filter → aggregate → sort pipelines.

These are the engine's bread-and-butter operators, replacing the
reference's single-node pandas row loop (ref: delta_load.py:62-98) with
declarative DataFrame plans that Catalyst compiles to vectorized,
whole-stage-codegen'd physical plans with parquet predicate pushdown
and map-side partial aggregation.

Scale posture: every groupBy here aggregates partially before the
shuffle (Catalyst does this automatically for algebraic aggregates);
group-by cardinality is tiny relative to input, so the single shuffle
moves only the partial states. Filters sit directly on scan columns so
they reach the parquet reader (`PushedFilters` in explain output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.catalog import table
from end_to_end_aws_data_pipeline_spark.functions.aggs import (
    davg,
    davg_sql,
    dsum,
    dsum_sql,
)
from end_to_end_aws_data_pipeline_spark.functions.aggs import stable_round
from end_to_end_aws_data_pipeline_spark.registry import register

# ---------------------------------------------------------------------------
# flagship: TPC-H-Q1-style pricing summary
# ---------------------------------------------------------------------------

_Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {dsum_sql('l_quantity', 2)} AS sum_qty,
  {dsum_sql('l_extendedprice', 2)} AS sum_base_price,
  {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
  {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
  {davg_sql('l_quantity')} AS avg_qty,
  {davg_sql('l_extendedprice')} AS avg_price,
  {davg_sql('l_discount')} AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", oracle=_Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report: filter → hash agg (8 aggregates) → sort.

    Covers SURVEY.md §2.B aggregation row 1 (partial+final hash agg) and
    generalizes the reference's only whole-table pass
    (ref: delta_load.py:67-98) into a distributed aggregate.
    """
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", 2).alias("sum_qty"),
            dsum("l_extendedprice", 2).alias("sum_base_price"),
            dsum(disc_price, 4).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# projection / filter / predicate algebra
# ---------------------------------------------------------------------------

_FILTER_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
FROM orders
WHERE o_orderstatus IN ('O', 'F')
  AND o_totalprice BETWEEN 1000.0 AND 50000.0
  AND o_orderpriority LIKE '%URGENT%'
  AND o_custkey IS NOT NULL
  AND NOT (o_orderkey % 7 = 0 AND o_totalprice < 2000.0)
"""


@register("q_filter_predicates", oracle=_FILTER_ORACLE)
def q_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full predicate algebra: isin / between / like / null-check / boolean ops.

    Covers SURVEY.md §2.B projection/filter row; the conjunctive
    predicates are pushed into the parquet scan by Catalyst.
    (Null handling generalizes ref delta_load.py:67,98.)
    """
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    ).filter(
        F.col("o_orderstatus").isin("O", "F")
        & F.col("o_totalprice").between(1000.0, 50000.0)
        & F.col("o_orderpriority").like("%URGENT%")
        & F.col("o_custkey").isNotNull()
        & ~((F.col("o_orderkey") % 7 == 0) & (F.col("o_totalprice") < 2000.0))
    )


# ---------------------------------------------------------------------------
# aggregation variants: distinct, approx, rollup, cube, top-k groups
# ---------------------------------------------------------------------------

_AGG_DISTINCT_ORACLE = f"""
SELECT
  o_orderpriority,
  count(DISTINCT o_custkey) AS n_customers,
  CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses,
  count(*) AS n_orders,
  {dsum_sql('o_totalprice', 2)} AS sum_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("q_agg_distinct", oracle=_AGG_DISTINCT_ORACLE)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates alongside plain aggregates (expand-based plan)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct("o_orderstatus").alias("n_statuses"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", 2).alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


_ROLLUP_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {dsum_sql('l_quantity', 2)} AS sum_qty,
  count(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@register("q_agg_rollup", oracle=_ROLLUP_ORACLE)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP (grand total + per-flag subtotals)."""
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_CUBE_ORACLE = f"""
SELECT
  o_orderstatus,
  o_orderpriority,
  {dsum_sql('o_totalprice', 2)} AS sum_price,
  count(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@register("q_agg_cube", oracle=_CUBE_ORACLE)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping-set combinations via CUBE."""
    o = table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        dsum("o_totalprice", 2).alias("sum_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


_SORT_LIMIT_ORACLE = """
SELECT o_orderkey, o_totalprice, o_orderdate
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 25
"""


@register("q_sort_limit", oracle=_SORT_LIMIT_ORACLE)
def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-N: Spark plans TakeOrderedAndProject (per-partition
    top-N + driver merge — no full sort, no full shuffle). The unique
    o_orderkey tiebreaker makes the result set deterministic."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
    )


_SET_OPS_ORACLE = """
WITH big_spenders AS (
  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 30000.0
), urgent AS (
  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
SELECT custkey, 'both' AS bucket FROM (
  SELECT DISTINCT custkey FROM big_spenders
  INTERSECT
  SELECT DISTINCT custkey FROM urgent
)
UNION ALL
SELECT custkey, 'big_only' AS bucket FROM (
  SELECT DISTINCT custkey FROM big_spenders
  EXCEPT
  SELECT DISTINCT custkey FROM urgent
)
"""


@register("q_set_ops", oracle=_SET_OPS_ORACLE)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL / INTERSECT / EXCEPT composition over derived key sets."""
    o = table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 30000.0).select(
        F.col("o_custkey").alias("custkey")
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    both = big.distinct().intersect(urgent.distinct()).withColumn("bucket", F.lit("both"))
    big_only = (
        big.distinct().exceptAll(urgent.distinct()).withColumn("bucket", F.lit("big_only"))
    )
    return both.unionAll(big_only)


_DISTINCT_ORACLE = """
SELECT DISTINCT c_mktsegment, c_nationkey
FROM customer
"""


@register("q_distinct", oracle=_DISTINCT_ORACLE)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT projection (shuffle on the distinct key set, AQE-coalesced)."""
    c = table(spark, sf_dir, "customer")
    return c.select("c_mktsegment", "c_nationkey").distinct()


# ---------------------------------------------------------------------------
# skew-salted two-phase aggregation (result-invariance demo)
# ---------------------------------------------------------------------------

_SALTED_ORACLE = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       {dsum_sql('value', 2)} AS total_value,
       floor(min(value) * 100 + 0.5) / 100 AS min_value,
       floor(max(value) * 100 + 0.5) / 100 AS max_value
FROM events
GROUP BY event_type
"""


@register("q_agg_salted_skew", oracle=_SALTED_ORACLE)
def q_agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a LOW-cardinality group key
    (event_type: a handful of values over every event row — the exact
    shape where one reducer would otherwise receive a whole key's
    partition at 100 TB).

    Phase 1 aggregates on (event_type, salt16): each hot key's rows
    spread over 16 reducers; phase 2 merges 16 tiny partials per key.
    The oracle is the PLAIN single-phase GROUP BY — hash-green means the
    salting is an identity on results, which is the whole point: the
    decomposition must be invisible. Exact-decimal sums make the
    re-aggregation order-independent (float partial merge would differ
    in ulps between phase orders; see functions/aggs.py).

    Note Spark's own map-side partial aggregation already does 90% of
    this for algebraic aggregates; explicit salting is for the cases
    partials can't fix — e.g. when phase 1 is a distinct or collect
    whose per-key state is itself huge."""
    from end_to_end_aws_data_pipeline_spark.plans.scale import salted_agg

    ev = table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("value").cast("double").alias("value")
    )
    out = salted_agg(
        ev,
        ["event_type"],
        aggs=lambda: [
            F.count("*").alias("__n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("__sv"),
            F.min("value").alias("__mn"),
            F.max("value").alias("__mx"),
        ],
        merge_aggs=lambda: [
            F.sum("__n").cast("long").alias("n_events"),
            # decimal-domain round BEFORE the double cast, matching
            # dsum_sql's publish recipe exactly
            F.round(F.sum("__sv"), 2).cast("double").alias("total_value"),
            stable_round(F.min("__mn"), 2).alias("min_value"),
            stable_round(F.max("__mx"), 2).alias("max_value"),
        ],
    )
    return out
