"""Oracle-checkable queries for the ETL-parity operators (SURVEY.md
§2.A rows 3-5, 8, 10-11), expressed over the canonical tables.

The canonical testdata has no nulls/duplicates, so each query first
*derives* a deterministic dirty view (CASE-nulling, projection to
low-cardinality columns) identically on both engines, then applies the
engine operator vs its relational definition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.cache import persisted
from end_to_end_aws_data_pipeline_spark.catalog import local_frame, table
from end_to_end_aws_data_pipeline_spark.ingest.clean import clean
from end_to_end_aws_data_pipeline_spark.ingest.merge import upsert
from end_to_end_aws_data_pipeline_spark.ingest.watermark import gate_strictly_newer
from end_to_end_aws_data_pipeline_spark.functions.aggs import stable_round
from end_to_end_aws_data_pipeline_spark.registry import register


def _dirty_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dirty view: null value on errors, null type for
    user_id % 7 == 0, value bucketized so exact duplicates exist."""
    e = table(spark, sf_dir, "events")
    return e.select(
        "user_id",
        F.when(F.col("user_id") % 7 != 0, F.col("event_type")).alias("etype"),
        F.when(
            F.col("event_type") != "error",
            # floor returns LONG in Spark but DOUBLE in DuckDB — pin the
            # published type to double on both sides
            F.floor(F.col("value") + 0.5).cast("double"),
        ).alias("value_bucket"),
    )


_DIRTY_SQL = """
  SELECT
    user_id,
    CASE WHEN user_id % 7 <> 0 THEN event_type END AS etype,
    CASE WHEN event_type <> 'error' THEN floor(value + 0.5) END
      AS value_bucket
  FROM events
"""

_CLEAN_ORACLE = f"""
WITH dirty AS ({_DIRTY_SQL})
SELECT DISTINCT user_id, etype, value_bucket
FROM dirty
WHERE user_id IS NOT NULL AND etype IS NOT NULL AND value_bucket IS NOT NULL
"""


@register("q_etl_clean", oracle=_CLEAN_ORACLE)
def q_etl_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clean() = dropna(any) + full-row dedup ≡ WHERE no-null + DISTINCT
    (ref delta_load.py:97-98)."""
    return clean(_dirty_events(spark, sf_dir))


_AUDIT_ORACLE = f"""
WITH dirty AS ({_DIRTY_SQL})
SELECT
  count(*) AS n_rows,
  CAST(count(*) FILTER (WHERE user_id IS NULL OR etype IS NULL
                           OR value_bucket IS NULL) AS BIGINT) AS n_bad_rows,
  CAST(count(*) FILTER (WHERE etype IS NULL) AS BIGINT) AS null_etype,
  CAST(count(*) FILTER (WHERE value_bucket IS NULL) AS BIGINT) AS null_value_bucket
FROM dirty
"""


@register("q_etl_null_audit", oracle=_AUDIT_ORACLE)
def q_etl_null_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized null audit: one aggregation pass replaces the
    reference's per-row isnull loop + per-row SNS publish
    (ref delta_load.py:67-84)."""
    d = _dirty_events(spark, sf_dir)
    any_null = (
        F.col("user_id").isNull() | F.col("etype").isNull() | F.col("value_bucket").isNull()
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(any_null.cast("long")).alias("n_bad_rows"),
        F.sum(F.col("etype").isNull().cast("long")).alias("null_etype"),
        F.sum(F.col("value_bucket").isNull().cast("long")).alias("null_value_bucket"),
    )


_UPSERT_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice AS price
  FROM orders WHERE o_orderkey % 3 <> 0
), upd AS (
  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice * 1.1 AS price
  FROM orders WHERE o_orderkey % 2 = 0
)
SELECT
  coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
  coalesce(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
  coalesce(u.price, b.price) AS price
FROM base b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey
"""


@register("q_etl_upsert_merge", oracle=_UPSERT_ORACLE)
def q_etl_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed upsert (MERGE semantics): updates replace matching keys,
    new keys append — the set-based form of the reference's row-by-row
    ON DUPLICATE KEY UPDATE (ref delta_load.py:182-186). Relationally
    ≡ FULL OUTER JOIN + COALESCE, which the oracle states."""
    o = table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_orderstatus", F.col("o_totalprice").alias("price")
    )
    updates = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.1).alias("price"),
    )
    return upsert(base, updates, keys=["o_orderkey"])


_GATE_ORACLE = """
WITH wm AS (
  SELECT o_custkey AS table_key, max(o_orderdate) AS folder_ts
  FROM orders WHERE o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
  GROUP BY o_custkey
)
SELECT o_orderkey, o_custkey, o_orderdate
FROM orders o LEFT JOIN wm ON o.o_custkey = wm.table_key
WHERE wm.folder_ts IS NULL OR o.o_orderdate > wm.folder_ts
"""


@register("q_etl_incremental_gate", oracle=_GATE_ORACLE)
def q_etl_incremental_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-newer incremental gate (ref second_lambda_function.py:
    76-88): per-key watermark built from 'already loaded' deliveries;
    only strictly newer arrivals pass, unknown keys pass."""
    o = table(spark, sf_dir, "orders")
    wm = (
        o.filter(F.col("o_orderdate") < F.to_timestamp(F.lit("1995-07-01 00:00:00")))
        .groupBy(F.col("o_custkey").alias("table_key"))
        .agg(F.max("o_orderdate").alias("folder_ts"))
    )
    gated = gate_strictly_newer(
        o, wm, key_col="o_custkey", ts_col="o_orderdate",
        wm_key_col="table_key",
    )
    return gated.select("o_orderkey", "o_custkey", "o_orderdate")


_INFER_ORACLE = """
SELECT * FROM (VALUES
  ('TeacherId',    'INTEGER'),
  ('TeacherName',  'VARCHAR(255)'),
  ('DateOfJoining','VARCHAR(255)'),
  ('Salary',       'FLOAT'),
  ('LeadingZero',  'INTEGER'),
  ('NegativeInt',  'FLOAT'),
  ('EmptyFirst',   'VARCHAR(255)')
) AS t(column_name, data_type)
"""


@register("q_etl_schema_infer", oracle=_INFER_ORACLE)
def q_etl_schema_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference first-row type inference policy on its documented edge
    cases (ref first_lambda_function.py:62-69; FIXTURES.md §B "type
    traps"): digits→INTEGER (leading zeros too), negative ints→FLOAT
    (isdigit is False), empty-first-row→VARCHAR, dates→VARCHAR.
    Oracle = the hand-computed expected DDL types."""
    from end_to_end_aws_data_pipeline_spark.ingest.infer import (
        SPARK_TO_REF,
        infer_schema_first_row,
    )

    header = [
        "﻿TeacherId",  # BOM on first header cell (stripped)
        "TeacherName",
        "DateOfJoining",
        "Salary",
        "LeadingZero",
        "NegativeInt",
        "EmptyFirst",
    ]
    first_row = ["101", "Asha", "03-06-2016", "50000.5", "00123", "-5", ""]
    schema = infer_schema_first_row(header, first_row)
    rows = [(f.name, SPARK_TO_REF[f.dataType.simpleString()]) for f in schema.fields]
    return local_frame(spark, rows, "column_name string, data_type string")


# ---------------------------------------------------------------------------
# table profiling: per-column cardinality/null/extent audit in ONE pass
# (the reference's null audit generalized to the summary a data
# catalog publishes for every ingested table)
# ---------------------------------------------------------------------------

_PROFILE_ORACLE = """
WITH a AS (
  SELECT count(*) AS n,
         count(o_orderkey) AS nn_k, count(DISTINCT o_orderkey) AS nd_k,
         floor(min(o_orderkey) * 100 + 0.5) / 100 AS mn_k,
         floor(max(o_orderkey) * 100 + 0.5) / 100 AS mx_k,
         count(o_custkey) AS nn_c, count(DISTINCT o_custkey) AS nd_c,
         floor(min(o_custkey) * 100 + 0.5) / 100 AS mn_c,
         floor(max(o_custkey) * 100 + 0.5) / 100 AS mx_c,
         count(o_totalprice) AS nn_p, count(DISTINCT o_totalprice) AS nd_p,
         floor(min(o_totalprice) * 100 + 0.5) / 100 AS mn_p,
         floor(max(o_totalprice) * 100 + 0.5) / 100 AS mx_p,
         count(o_orderstatus) AS nn_s, count(DISTINCT o_orderstatus) AS nd_s,
         min(o_orderstatus) AS mn_s, max(o_orderstatus) AS mx_s,
         count(o_orderpriority) AS nn_o, count(DISTINCT o_orderpriority) AS nd_o,
         min(o_orderpriority) AS mn_o, max(o_orderpriority) AS mx_o,
         count(o_orderdate) AS nn_d, count(DISTINCT o_orderdate) AS nd_d
  FROM orders
)
SELECT 'o_orderkey' AS col, CAST(n AS BIGINT) AS n,
       CAST(nn_k AS BIGINT) AS n_nonnull, CAST(nd_k AS BIGINT) AS n_distinct,
       CAST(mn_k AS DOUBLE) AS min_num, CAST(mx_k AS DOUBLE) AS max_num,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
FROM a
UNION ALL SELECT 'o_custkey', n, nn_c, nd_c, mn_c, mx_c, NULL, NULL FROM a
UNION ALL SELECT 'o_totalprice', n, nn_p, nd_p, mn_p, mx_p, NULL, NULL FROM a
UNION ALL SELECT 'o_orderstatus', n, nn_s, nd_s, NULL, NULL, mn_s, mx_s FROM a
UNION ALL SELECT 'o_orderpriority', n, nn_o, nd_o, NULL, NULL, mn_o, mx_o FROM a
UNION ALL SELECT 'o_orderdate', n, nn_d, nd_d, NULL, NULL, NULL, NULL FROM a
"""


@register("q_etl_profile", oracle=_PROFILE_ORACLE)
def q_etl_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column table profile — row count, non-null count, exact
    distinct count, numeric/string extents — in ONE aggregation pass
    (multiple DISTINCT aggregates plan as one Expand + aggregate, not
    one scan per column), then a stack() to long form.

    This is the catalog-facing generalization of the reference's
    per-row null audit (ref delta_load.py:66-84): the summary an
    ingest pipeline publishes per table version for drift detection
    (n_distinct collapse, extent jumps, null-rate spikes). At 100 TB
    swap the exact distinct counts for the oracle-verified HLL in
    operators/percentiles.py — same shape, bounded state; timestamp
    extents are omitted here because engines format them differently
    (counts are the drift signal)."""
    o = table(spark, sf_dir, "orders")

    def _num(c: str):
        return [
            F.count(c).cast("long").alias(f"nn_{c}"),
            F.count_distinct(F.col(c)).cast("long").alias(f"nd_{c}"),
            stable_round(F.min(c), 2).cast("double").alias(f"mn_{c}"),
            stable_round(F.max(c), 2).cast("double").alias(f"mx_{c}"),
        ]

    def _str(c: str):
        return [
            F.count(c).cast("long").alias(f"nn_{c}"),
            F.count_distinct(F.col(c)).cast("long").alias(f"nd_{c}"),
        ]

    a = o.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *_num("o_orderkey"),
        *_num("o_custkey"),
        *_num("o_totalprice"),
        *_str("o_orderstatus"),
        *_str("o_orderpriority"),
        F.count("o_orderdate").cast("long").alias("nn_d"),
        F.count_distinct(F.col("o_orderdate")).cast("long").alias("nd_d"),
    )
    # STRING min/max in an aggregation buffer forces SortAggregate —
    # which sorted the full multi-distinct Expand (7x rows) and
    # dominated the query (2.9 s -> 1.x s at sf0.1). Instead: hash-agg
    # each low-cardinality string column to its dictionary (a pure
    # HashAggregate), fetch the bounded dictionary to the driver, and
    # attach extents as literals. A lazy min/max OVER the dictionary
    # does not work: RemoveRedundantAggregates sees the outer agg only
    # touches the grouping key, elides the inner groupBy, and the
    # string min/max lands back on a SortAggregate over the full scan.
    # Boundedness: these are enum columns (order status 3 values,
    # priority 5) — the same class of bounded driver fetch as the
    # per-round graph stats; the cap asserts it. Extents compare by
    # UTF-8 bytes to match both engines' binary string collation.
    for c in ("o_orderstatus", "o_orderpriority"):
        dic = [
            r[0]
            for r in o.groupBy(c).agg(F.count(F.lit(1))).collect()
            if r[0] is not None
        ]
        assert len(dic) <= 10_000, f"profile: {c} is not an enum column"
        key = lambda s: s.encode("utf-8")  # noqa: E731
        mn = min(dic, key=key) if dic else None
        mx = max(dic, key=key) if dic else None
        a = a.withColumn(f"mn_{c}", F.lit(mn).cast("string")).withColumn(
            f"mx_{c}", F.lit(mx).cast("string")
        )
    rows = ", ".join(
        [
            "'o_orderkey', n, nn_o_orderkey, nd_o_orderkey, "
            "mn_o_orderkey, mx_o_orderkey, "
            "CAST(NULL AS STRING), CAST(NULL AS STRING)",
            "'o_custkey', n, nn_o_custkey, nd_o_custkey, "
            "mn_o_custkey, mx_o_custkey, "
            "CAST(NULL AS STRING), CAST(NULL AS STRING)",
            "'o_totalprice', n, nn_o_totalprice, nd_o_totalprice, "
            "mn_o_totalprice, mx_o_totalprice, "
            "CAST(NULL AS STRING), CAST(NULL AS STRING)",
            "'o_orderstatus', n, nn_o_orderstatus, nd_o_orderstatus, "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "mn_o_orderstatus, mx_o_orderstatus",
            "'o_orderpriority', n, nn_o_orderpriority, nd_o_orderpriority, "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "mn_o_orderpriority, mx_o_orderpriority",
            "'o_orderdate', n, nn_d, nd_d, "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "CAST(NULL AS STRING), CAST(NULL AS STRING)",
        ]
    )
    return a.select(
        F.expr(
            f"stack(6, {rows}) AS "
            "(col, n, n_nonnull, n_distinct, min_num, max_num, "
            "min_str, max_str)"
        )
    )


# ---------------------------------------------------------------------------
# incremental materialized-view maintenance
# ---------------------------------------------------------------------------

_MV_SPLIT = "1997-01-01"

# The oracle is the FULL recompute over base ∪ delta — hash-equality
# proves the partial-merge maintenance below is an identity on results.
_MV_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
         AS qty_c,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS price_c
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


@register("q_etl_mv_incremental", oracle=_MV_ORACLE)
def q_etl_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the stored MV holds
    ALGEBRAIC partials (count + integer-cent sums) per group; a new
    batch is folded in by aggregating ONLY the delta and merging
    partials group-wise — never touching base fact rows again. The
    oracle recomputes the aggregate from the full fact table, so
    hash-equality is a proof that partial-merge maintenance ≡ full
    recompute (the algebraic-aggregate contract of classic
    view-maintenance literature and of every streaming aggregation).

    Here the split is l_shipdate < 1997-01-01 (~75% base / 25% delta) —
    both derived from the same lineitem table so the identity is
    checkable at any SF.

    Scale shape: the expensive base-side aggregation happens ONCE when
    the MV is first built (here: one pass); each refresh costs one
    scan + partial-agg of the DELTA plus a merge keyed on the (tiny)
    group domain. Work per refresh is O(delta + |MV|), independent of
    the fact-table size — the only maintenance posture that survives
    a 100 TB fact table with hourly refreshes. Counts and sums travel
    as BIGINT (cents), so the merge is exact and commutative: refresh
    order cannot change the result.
    """
    li = table(spark, sf_dir, "lineitem")
    keys = ["l_returnflag", "l_linestatus"]

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(*keys).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
            .cast("long")
            .alias("qty_c"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("price_c"),
        )

    split = F.lit(_MV_SPLIT).cast("timestamp")
    mv = partials(li.filter(F.col("l_shipdate") < split))
    delta = partials(li.filter(F.col("l_shipdate") >= split))
    return (
        mv.unionByName(delta)
        .groupBy(*keys)
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("qty_c").cast("long").alias("qty_c"),
            F.sum("price_c").cast("long").alias("price_c"),
        )
    )


# ---------------------------------------------------------------------------
# declarative data-quality expectations (Deequ/dbt-test-style
# constraint verification) evaluated in one pass + one FK anti-join
# ---------------------------------------------------------------------------

_EXPECT_ORACLE = """
WITH scan AS (
  SELECT
    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS v_notnull_custkey,
    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS v_range_totalprice,
    CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
      AS BIGINT) AS v_accepted_status,
    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
      AS v_unique_orderkey,
    CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1992-01-01'
                   AND o_orderdate < TIMESTAMP '1999-01-01'
              THEN 0 ELSE 1 END) AS BIGINT) AS v_date_window
  FROM orders
), fk AS (
  SELECT CAST(count(*) AS BIGINT) AS v_fk_custkey
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_custkey IS NULL
)
SELECT rule, n_violations, passed FROM (
  SELECT 'not_null(o_custkey)' AS rule, v_notnull_custkey AS n_violations,
         v_notnull_custkey = 0 AS passed FROM scan
  UNION ALL
  SELECT 'unique(o_orderkey)', v_unique_orderkey, v_unique_orderkey = 0
  FROM scan
  UNION ALL
  SELECT 'range(o_totalprice > 0)', v_range_totalprice,
         v_range_totalprice = 0 FROM scan
  UNION ALL
  SELECT 'accepted_values(o_orderstatus)', v_accepted_status,
         v_accepted_status = 0 FROM scan
  UNION ALL
  SELECT 'in_window(o_orderdate)', v_date_window, v_date_window = 0
  FROM scan
  UNION ALL
  SELECT 'fk(o_custkey -> customer)', v_fk_custkey, v_fk_custkey = 0 FROM fk
)
"""


@register("q_etl_expectations", oracle=_EXPECT_ORACLE)
def q_etl_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations — the constraint-suite
    shape of AWS Deequ / dbt tests / Great Expectations, and the
    warehouse-grade generalization of the reference's per-file null
    audit (ref delta_load.py:66-84): not-null, uniqueness, value
    range, accepted values, and date-window rules all evaluate in ONE
    aggregation pass over the table (each rule is a conditional-sum
    column of the same scan — adding a rule adds an expression, not a
    pass), plus one left-anti join for the referential-integrity rule.
    Output is the audit artifact: one row per rule with its violation
    count and pass flag.

    At 100 TB this is the difference between a usable expectations
    engine and an unusable one: N rules cost one scan + one shuffle-
    free conditional aggregate (the FK rule alone shuffles, keyed on
    the FK), not N scans. The uniqueness rule rides the same pass as
    count(*) - count(DISTINCT key) rather than a groupBy-having
    detour.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    scan = o.agg(
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("v_notnull"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("long")
        .alias("v_range"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        )
        .cast("long")
        .alias("v_accepted"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("o_orderkey")))
        .cast("long")
        .alias("v_unique"),
        F.sum(
            F.when(
                (F.col("o_orderdate") >= F.lit("1992-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")),
                0,
            ).otherwise(1)
        )
        .cast("long")
        .alias("v_window"),
    )
    fk = (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("v_fk"))
    )
    rules = scan.crossJoin(fk).select(
        F.expr(
            "stack(6,"
            " 'not_null(o_custkey)', v_notnull,"
            " 'unique(o_orderkey)', v_unique,"
            " 'range(o_totalprice > 0)', v_range,"
            " 'accepted_values(o_orderstatus)', v_accepted,"
            " 'in_window(o_orderdate)', v_window,"
            " 'fk(o_custkey -> customer)', v_fk"
            ") AS (rule, n_violations)"
        )
    )
    return rules.select(
        "rule", "n_violations", (F.col("n_violations") == 0).alias("passed")
    )


# ---------------------------------------------------------------------------
# robust multi-format timestamp parsing (try-parse chain + dead letter)
# ---------------------------------------------------------------------------

_TSPARSE_ORACLE = """
WITH raw AS (
  SELECT o_orderkey AS k,
         CASE o_orderkey % 4
           WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
           WHEN 1 THEN strftime(o_orderdate, '%d-%m-%Y')
           WHEN 2 THEN CAST(CAST(floor(epoch(o_orderdate)) AS BIGINT)
                            AS VARCHAR)
           ELSE 'not-a-date'
         END AS s,
         o_orderkey % 4 AS fmt
  FROM orders
), parsed AS (
  SELECT k, fmt,
         coalesce(
           try_strptime(s, '%Y-%m-%d'),
           try_strptime(s, '%d-%m-%Y'),
           CASE WHEN TRY_CAST(s AS BIGINT) IS NOT NULL
                THEN to_timestamp(TRY_CAST(s AS BIGINT))::TIMESTAMP END
         ) AS ts
  FROM raw
)
SELECT CAST(fmt AS INT) AS fmt,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_failed,
       CAST(coalesce(sum(CAST(floor(epoch(ts)) AS BIGINT)), 0) AS BIGINT)
         AS epoch_checksum
FROM parsed
GROUP BY fmt
"""


@register("q_etl_timestamp_parse", oracle=_TSPARSE_ORACLE)
def q_etl_timestamp_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust timestamp ingestion: a try-parse chain over the formats
    real feeds actually mix — ISO dates, the reference's European
    dd-MM-yyyy (ref fixture TEACHER_DETAILS dates, SURVEY.md §3),
    and raw epoch seconds — with unparseable rows surviving as NULLs
    to be counted into a dead-letter bucket rather than aborting the
    load (the q_source_csv_malformed posture applied to time).

    Order matters and is pinned by the oracle: a dd-MM-yyyy string
    must FALL THROUGH the ISO pattern (4-digit-year position makes
    the day field invalid) rather than mis-parse — the classic
    ambiguity trap this chain's priority order resolves identically
    in both engines. Self-contained round-trip fixture: each row
    formats its own o_orderdate by key mod 4, parses it back, and the
    epoch checksum per format pins value-level agreement.
    """
    o = table(spark, sf_dir, "orders")
    raw = o.select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % 4).cast("int").alias("fmt"),
        F.when(
            F.col("o_orderkey") % 4 == 0,
            F.date_format("o_orderdate", "yyyy-MM-dd"),
        )
        .when(
            F.col("o_orderkey") % 4 == 1,
            F.date_format("o_orderdate", "dd-MM-yyyy"),
        )
        .when(
            F.col("o_orderkey") % 4 == 2,
            F.unix_timestamp("o_orderdate").cast("string"),
        )
        .otherwise(F.lit("not-a-date"))
        .alias("s"),
    )
    parsed = raw.select(
        "k",
        "fmt",
        F.coalesce(
            F.try_to_timestamp(F.col("s"), F.lit("yyyy-MM-dd")),
            F.try_to_timestamp(F.col("s"), F.lit("dd-MM-yyyy")),
            F.expr("try_cast(s AS BIGINT)").cast("timestamp"),
        ).alias("ts"),
    )
    return parsed.groupBy("fmt").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_failed"),
        F.coalesce(
            F.sum(F.floor(F.unix_timestamp("ts")).cast("long")), F.lit(0)
        )
        .cast("long")
        .alias("epoch_checksum"),
    )


# ---------------------------------------------------------------------------
# functional-dependency discovery: does A determine B?  The profiling
# step behind key detection, normalization advice, and constraint
# monitors (Metanome/Deequ-style), over a fixed candidate set
# ---------------------------------------------------------------------------

_FD_CANDIDATES = (
    # (name, table, lhs, rhs) — mix of true keys, true FDs, and violations
    ("orders.o_orderkey->o_custkey", "orders", "o_orderkey", "o_custkey"),
    ("orders.o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
    ("customer.c_custkey->c_nationkey", "customer", "c_custkey", "c_nationkey"),
    ("customer.c_nationkey->c_mktsegment", "customer", "c_nationkey", "c_mktsegment"),
    ("nation.n_nationkey->n_regionkey", "nation", "n_nationkey", "n_regionkey"),
    ("lineitem.l_orderkey->l_returnflag", "lineitem", "l_orderkey", "l_returnflag"),
)


def _fd_oracle() -> str:
    parts = []
    for name, tbl, lhs, rhs in _FD_CANDIDATES:
        parts.append(
            f"""
SELECT '{name}' AS fd,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating,
       CAST(max(nd) AS BIGINT) AS max_rhs_card,
       sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM (SELECT count(DISTINCT {rhs}) AS nd FROM {tbl} GROUP BY {lhs})"""
        )
    return "\nUNION ALL\n".join(parts)


@register("q_etl_fd_discovery", oracle=_fd_oracle())
def q_etl_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency check A→B over a fixed candidate set —
    the data-profiling primitive behind primary-key detection,
    normalization advice, and constraint monitoring (the Deequ /
    Metanome pattern). Publishes, per candidate: determinant-group
    count, violating-group count, worst right-hand-side cardinality,
    and the verdict.

    Scale shape: each candidate is one map-side-combinable
    two-level aggregate (groupBy(lhs).countDistinct(rhs) partially
    aggregates as groupBy(lhs, rhs) first — Spark plans exact distinct
    aggregates as a two-phase expand, no row ever leaves its shuffle
    partition twice), reduced to a 1-row verdict; candidates union
    into a |candidates|-row report. Candidate generation at lattice
    scale (all column pairs) is a loop over this same kernel."""
    outs = []
    for name, tbl, lhs, rhs in _FD_CANDIDATES:
        g = (
            table(spark, sf_dir, tbl)
            .groupBy(lhs)
            .agg(F.countDistinct(rhs).alias("nd"))
        )
        outs.append(
            g.agg(
                F.lit(name).alias("fd"),
                F.count(F.lit(1)).cast("long").alias("n_groups"),
                F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
                .cast("long")
                .alias("n_violating"),
                F.max("nd").cast("long").alias("max_rhs_card"),
                (
                    F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)) == 0
                ).alias("holds"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res


# ---------------------------------------------------------------------------
# GDPR/CCPA erasure cascade: right-to-be-forgotten impact analysis
# ---------------------------------------------------------------------------

_GDPR_MOD = 211  # deletion request set: customers with c_custkey % 211 == 7

_GDPR_ORACLE = f"""
WITH req AS (
  SELECT c_custkey FROM customer WHERE c_custkey % {_GDPR_MOD} = 7
), ord AS (
  SELECT o_orderkey, o_custkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM req)
), li AS (
  SELECT l.l_orderkey, l.l_linenumber FROM lineitem l
  WHERE l.l_orderkey IN (SELECT o_orderkey FROM ord)
)
SELECT 'customer' AS tbl,
       (SELECT CAST(count(*) AS BIGINT) FROM req) AS n_delete,
       (SELECT CAST(count(*) AS BIGINT) FROM customer)
         - (SELECT count(*) FROM req) AS n_survive,
       (SELECT CAST(coalesce(sum(c_custkey), 0) AS BIGINT) FROM req)
         AS key_checksum
UNION ALL
SELECT 'orders',
       (SELECT CAST(count(*) AS BIGINT) FROM ord),
       (SELECT CAST(count(*) AS BIGINT) FROM orders)
         - (SELECT count(*) FROM ord),
       (SELECT CAST(coalesce(sum(o_orderkey), 0) AS BIGINT) FROM ord)
UNION ALL
SELECT 'lineitem',
       (SELECT CAST(count(*) AS BIGINT) FROM li),
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem)
         - (SELECT count(*) FROM li),
       (SELECT CAST(coalesce(sum(l_orderkey * 8 + l_linenumber), 0)
          AS BIGINT) FROM li)
"""


@register("q_etl_gdpr_erasure", oracle=_GDPR_ORACLE)
def q_etl_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten erasure cascade: given a deletion-request
    set (customers), resolve the full referential closure — their
    orders, and those orders' line items — and publish, per table, the
    delete count, the surviving count, and a key checksum pinning
    EXACTLY which rows the cascade touches (an auditor's evidence that
    the erasure neither over- nor under-deletes). This is the impact
    report every GDPR/CCPA pipeline runs before (and after) the
    physical delete; the delete itself is the partition-scoped
    anti-join MERGE that ingest/merge.py already executes.

    Scale shape: the cascade is two semi-joins down the foreign-key
    chain (request set -> orders -> lineitem), each a broadcast while
    request sets are small (AQE decides at runtime); counts and
    checksums are combinable aggregates. The lineitem checksum folds
    the composite key as orderkey*8 + linenumber (linenumber <= 7 in
    TPC-H, so the fold is collision-free int64)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    req = persisted(
        c.filter(F.col("c_custkey") % _GDPR_MOD == 7).select("c_custkey")
    )
    ords = persisted(
        o.join(
            req, o["o_custkey"] == req["c_custkey"], "left_semi"
        ).select("o_orderkey")
    )
    lis = li.join(
        ords, li["l_orderkey"] == ords["o_orderkey"], "left_semi"
    ).select("l_orderkey", "l_linenumber")

    def _row(name: str, hit: DataFrame, total: DataFrame, ck) -> DataFrame:
        return hit.agg(
            F.count(F.lit(1)).cast("long").alias("n_delete"),
            F.coalesce(F.sum(ck), F.lit(0)).cast("long").alias(
                "key_checksum"
            ),
        ).crossJoin(
            total.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
        ).select(
            F.lit(name).alias("tbl"),
            "n_delete",
            (F.col("n_total") - F.col("n_delete")).alias("n_survive"),
            "key_checksum",
        )
    return (
        _row("customer", req, c, F.col("c_custkey"))
        .unionAll(_row("orders", ords, o, F.col("o_orderkey")))
        .unionAll(
            _row(
                "lineitem",
                lis,
                li,
                F.col("l_orderkey") * 8 + F.col("l_linenumber"),
            )
        )
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit: orphan detection across every FK chain
# ---------------------------------------------------------------------------

_RI_CHECKS = (
    # (name, child, fk, parent, pk)
    ("orders.o_custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
     "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey",
     "region", "r_regionkey"),
)


def _ri_oracle() -> str:
    rows = []
    for name, child, fk, parent, pk in _RI_CHECKS:
        rows.append(f"""
SELECT '{name}' AS fk,
       (SELECT CAST(count(*) AS BIGINT) FROM {child}) AS n_child,
       (SELECT CAST(count(*) AS BIGINT) FROM {child}
        WHERE {fk} NOT IN (SELECT {pk} FROM {parent})) AS n_orphans,
       (SELECT CAST(count(DISTINCT {fk}) AS BIGINT) FROM {child})
         AS n_fk_values,
       (SELECT CAST(count(*) AS BIGINT) FROM {parent}) AS n_parent""")
    return "\nUNION ALL".join(rows)


@register("q_etl_referential_integrity", oracle=_ri_oracle())
def q_etl_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over every foreign-key chain in the
    schema: per FK, the child row count, ORPHAN count (child rows whose
    key has no parent — the broken-pipeline signal every warehouse
    monitors after partial loads), distinct FK cardinality, and parent
    count. The complement to q_etl_fd_discovery (which finds column
    DEPENDENCIES) and q_etl_gdpr_erasure (which walks the closure DOWN
    the chain): this proves the chain itself is intact.

    Scale shape: each check is one left_anti join (AQE broadcasts the
    parent key projection when it fits) plus combinable counts; the
    distinct-FK count is a two-phase aggregate. Checks run as
    independent plans unioned at the end, so a 100 TB audit
    parallelizes across chains as well as within them. Note nulls:
    NOT IN with a null-free parent PK equals the anti join; TPC-H keys
    are non-null by construction, which the child counts pin."""
    rows = []
    for name, child, fk, parent, pk in _RI_CHECKS:
        c = table(spark, sf_dir, child)
        p = table(spark, sf_dir, parent).select(pk)
        orphans = c.join(
            p, c[fk] == p[pk], "left_anti"
        ).agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
        stats = c.agg(
            F.count(F.lit(1)).cast("long").alias("n_child"),
            F.count_distinct(F.col(fk)).cast("long").alias("n_fk_values"),
        )
        par = p.agg(F.count(F.lit(1)).cast("long").alias("n_parent"))
        rows.append(
            stats.crossJoin(orphans)
            .crossJoin(par)
            .select(
                F.lit(name).alias("fk"),
                "n_child",
                "n_orphans",
                "n_fk_values",
                "n_parent",
            )
        )
    res = rows[0]
    for r in rows[1:]:
        res = res.unionAll(r)
    return res


# ---------------------------------------------------------------------------
# k-anonymity audit (privacy governance): quasi-identifier group sizes
# ---------------------------------------------------------------------------

_KANON_K = 5  # groups smaller than this re-identify their members

_KANON_ORACLE = f"""
WITH qi AS (
  SELECT c_nationkey,
         c_mktsegment,
         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
         count(*) AS n
  FROM customer
  GROUP BY 1, 2, 3
)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
       CAST(count(*) FILTER (WHERE n < {_KANON_K}) AS BIGINT)
         AS n_unsafe_groups,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(sum(n) FILTER (WHERE n < {_KANON_K}) AS BIGINT)
         AS n_unsafe_rows,
       CAST(min(n) AS BIGINT) AS k_anonymity,
       floor(sum(n) FILTER (WHERE n < {_KANON_K})
             / CAST(sum(n) AS DOUBLE) * 1000000 + 0.5) / 1000000
         AS suppression_rate
FROM qi
"""


@register("q_etl_k_anonymity", oracle=_KANON_ORACLE)
def q_etl_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier triple
    (nation, market segment, $1000 balance band) — the privacy
    measurement a governed release runs before publishing: the
    table's k (smallest group size), how many groups and rows fall
    below k = 5 (re-identifiable), and the suppression rate a
    k-threshold release would pay. Companion to the GDPR erasure
    cascade (right-to-be-forgotten) — this is the aggregate-disclosure
    side of the same governance surface (Sweeney, IJUFKS 2002).

    One map-side-combinable groupBy to the QI-group table (bounded by
    the QI DOMAIN — nations × segments × bands — not by rows), then a
    one-row conditional aggregate; nothing shuffles twice, nothing is
    corpus-sized after the first pass."""
    c = table(spark, sf_dir, "customer")
    qi = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("n"))
    unsafe = F.col("n") < _KANON_K
    return qi.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(unsafe.cast("long")).cast("long").alias("n_unsafe_groups"),
        F.sum("n").cast("long").alias("n_rows"),
        F.sum(F.when(unsafe, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_unsafe_rows"),
        F.min("n").cast("long").alias("k_anonymity"),
        stable_round(
            F.sum(F.when(unsafe, F.col("n")).otherwise(0))
            / F.sum("n").cast("double"),
            6,
        ).alias("suppression_rate"),
    )


# ---------------------------------------------------------------------------
# incremental JOIN-view maintenance (the join member of the MV family)
# ---------------------------------------------------------------------------

_MVJ_ORACLE = f"""
SELECT CASE WHEN o.o_orderdate <  TIMESTAMP '{_MV_SPLIT}'
             AND l.l_shipdate  <  TIMESTAMP '{_MV_SPLIT}' THEN 'base'
            WHEN o.o_orderdate <  TIMESTAMP '{_MV_SPLIT}' THEN 'delta_fact'
            WHEN l.l_shipdate  <  TIMESTAMP '{_MV_SPLIT}' THEN 'delta_dim'
            ELSE 'delta_both' END AS term,
       year(o.o_orderdate) * 100 + month(o.o_orderdate) AS ym,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS rev_c
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2
"""


@register("q_etl_mv_join_delta", oracle=_MVJ_ORACLE)
def q_etl_mv_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance — the join member of the MV
    family beside q_etl_mv_incremental's algebraic aggregates: a stored
    join view J = A ⋈ B is refreshed under arrivals ΔA, ΔB by the delta
    decomposition  ΔJ = ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB  (the
    classic count-algebra identity of incremental view maintenance),
    never by re-joining the bases. Here the split is the same
    1997-01-01 watermark as the aggregate MV (orders by o_orderdate,
    lineitem by l_shipdate), Spark computes the FOUR terms as four
    separate joins and publishes per-(term, order-month) row counts and
    exact cent revenue; the oracle computes the plain full join and
    tags each result row by which side of the watermark its inputs
    fell. Hash equality is therefore a proof that
    base ∪ delta-terms ≡ full recompute — the identity a 100 TB
    deployment banks on when it refreshes hourly.

    Scale shape: at refresh time only the three Δ-terms run —
    each joins an ARRIVAL-BOUNDED delta against a base (or the other
    delta), so refresh cost is O(|Δ|·fanout + |Δ|²-term), independent
    of the accumulated fact size; a day's delta fits a broadcast, so
    the Δ-side joins need no base shuffle at all (AQE picks this up
    from the delta's size — no hint, so a backfill-sized "delta"
    degrades to a shuffle join instead of an OOM). The base ⋈ base
    term is the STORED view (recomputed here only to make the identity
    checkable in one artifact); predicate pushdown splits each table
    at the scan, so no row is read twice within a term.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice"
    )
    split = F.lit(_MV_SPLIT).cast("timestamp")
    oo, on = o.filter(F.col("o_orderdate") < split), o.filter(
        ~(F.col("o_orderdate") < split)
    )
    lo, ln = li.filter(F.col("l_shipdate") < split), li.filter(
        ~(F.col("l_shipdate") < split)
    )

    def term(tag: str, a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.join(b, a["o_orderkey"] == b["l_orderkey"])
            .groupBy(
                (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
                .cast("long")
                .alias("ym")
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(
                    F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                        "long"
                    )
                )
                .cast("long")
                .alias("rev_c"),
            )
            .select(F.lit(tag).alias("term"), "ym", "n_rows", "rev_c")
        )

    return (
        term("base", oo, lo)
        .unionAll(term("delta_fact", oo, ln))
        .unionAll(term("delta_dim", on, lo))
        .unionAll(term("delta_both", on, ln))
    )
