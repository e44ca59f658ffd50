"""SQL-text entry point: the same query surface as the DataFrame
operators, but entering through ``spark.sql`` over registered temp
views — exercising Spark's SQL parser/analyzer path end to end.

The reference has no query language at all (SURVEY.md §3 — its "API"
is S3 object keys); this module is the engine's ANSI-SQL front door.
Each query here is written in the dialect subset BOTH Spark SQL and
DuckDB parse, and the literal same string is registered as its own
oracle — so the correctness gate proves not just equal results but
equal *interpretation* of one SQL text by two independent engines.

Scale posture: ``spark.sql`` compiles to the identical Catalyst plans
as the DataFrame API (same pushdown/pruning/AQE) — there is no
performance cliff between the two entries; plan-quality gates in
tests/test_plans.py apply unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from end_to_end_aws_data_pipeline_spark.catalog import load_tables
from end_to_end_aws_data_pipeline_spark.registry import register


def run_sql(spark: SparkSession, sf_dir: str, sql_text: str) -> DataFrame:
    """Register the canonical tables as temp views and run a SQL text.

    Views are (re)registered per call — cheap (lazy scans), and it
    keeps the entry safe on a bare driver-provided session.
    """
    load_tables(spark, sf_dir)
    return spark.sql(sql_text)


def _sql_query(name: str, sql_text: str):
    """Register a dual-dialect SQL text as both the Spark query and its
    own DuckDB oracle."""

    @register(name, oracle=sql_text)
    def _q(spark: SparkSession, sf_dir: str, _sql=sql_text) -> DataFrame:
        return run_sql(spark, sf_dir, _sql)

    _q.__name__ = name
    _q.__doc__ = f"SQL-text entry (spark.sql == DuckDB on one string):\n{sql_text}"
    return _q


# Q1 pricing-summary shape through the SQL parser (decimal-exact sums
# per the cross-engine float rules in functions/aggs.py)
q_sql_pricing_summary = _sql_query(
    "q_sql_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       floor(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
         * 100 + 0.5) / 100 AS sum_qty,
       floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         * 100 + 0.5) / 100 AS sum_base_price,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1995-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)

# dim join + top-n with deterministic tiebreak
q_sql_suppliers_per_nation = _sql_query(
    "q_sql_suppliers_per_nation",
    """
SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
       floor(CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         * 100 + 0.5) / 100 AS total_bal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_suppliers DESC, n_name
LIMIT 10
""",
)

# ranking window through the parser (CAST aligns Spark int vs DuckDB
# bigint row_number output)
q_sql_window_rank = _sql_query(
    "q_sql_window_rank",
    """
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ) AS INT) AS rn
FROM orders
WHERE o_totalprice > 250000.0
""",
)

# CTEs + INTERSECT + re-aggregation
q_sql_cte_setops = _sql_query(
    "q_sql_cte_setops",
    """
WITH big AS (
  SELECT o_custkey AS k FROM orders WHERE o_totalprice > 150000.0
), urgent AS (
  SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
)
SELECT k, CAST(count(*) AS BIGINT) AS n_big_urgent
FROM (SELECT k FROM big INTERSECT SELECT k FROM urgent) AS both_sets
JOIN orders ON o_custkey = k
WHERE o_totalprice > 150000.0 AND o_orderpriority = '1-URGENT'
GROUP BY k
""",
)

# correlated EXISTS subquery (decorrelated to a semi join by both
# planners)
q_sql_exists_subquery = _sql_query(
    "q_sql_exists_subquery",
    """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0
)
""",
)

# conditional aggregation via CASE through the parser
q_sql_case_agg = _sql_query(
    "q_sql_case_agg",
    """
SELECT l_linestatus,
       CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_discounted,
       CAST(sum(CASE WHEN l_discount > 0.05 THEN 0 ELSE 1 END) AS BIGINT)
         AS n_full_price
FROM lineitem
GROUP BY l_linestatus
""",
)

# recursive CTE through both parsers (Spark 4 gained WITH RECURSIVE —
# SPARK-24497): walk the implicit customer "org forest" where each
# key's parent is floor(key/10), roots are keys < 10. Depth is bounded
# by log10(max key), so the iteration count is tiny and deterministic.
# Dialect-neutral integer division: floor(x / 10.0) is exact in DOUBLE
# for any key < 2^53, so both engines derive identical parents.
q_sql_recursive_cte = _sql_query(
    "q_sql_recursive_cte",
    """
WITH RECURSIVE chain AS (
  SELECT c_custkey AS k, 0 AS depth
  FROM customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, chain.depth + 1
  FROM customer c
  JOIN chain ON CAST(floor(c.c_custkey / 10.0) AS BIGINT) = chain.k
  WHERE c.c_custkey >= 10
)
SELECT CAST(depth AS BIGINT) AS depth,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(k) AS BIGINT) AS key_checksum
FROM chain
GROUP BY depth
""",
)

# correlated LATERAL subquery with LIMIT through both parsers: top-2
# customers per nation without a window function — the plan Spark
# rewrites to a ranked join (DomainJoin), DuckDB to a lateral
# dependent join; one text, two engines, identical rows
q_sql_lateral_topk = _sql_query(
    "q_sql_lateral_topk",
    """
SELECT n.n_name, l.c_name, l.bal_c
FROM nation n, LATERAL (
  SELECT c_name, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
  FROM customer WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name LIMIT 2
) l
""",
)

# GROUP BY ALL (DuckDB-originated sugar, adopted by Spark 4): every
# non-aggregate select item becomes a grouping key — pinned here so
# both engines agree on WHICH items those are
q_sql_group_by_all = _sql_query(
    "q_sql_group_by_all",
    """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS price_c
FROM lineitem
GROUP BY ALL
""",
)
