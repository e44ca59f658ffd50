"""Join operators: equi / outer / semi / anti / cross / non-equi (range).

The reference pipeline is single-table (zero joins — SURVEY.md §2.B
"Joins"); this module supplies the full join surface a relational engine
needs, expressed declaratively so Catalyst + AQE choose the physical
strategy (broadcast-hash for small dims, sort-merge for fact-fact,
runtime skew splitting).

Scale notes, per query:
- only genuinely fixed-cardinality dims (region=5, nation=25, literal
  band tables, lexicons) carry an explicit `F.broadcast(...)` hint —
  at 100 TB the fact side never shuffles for them.
- sf-scaling tables (customer/supplier/part/orders/lineitem) are NEVER
  force-broadcast: a forced hint bypasses AQE's size check and OOMs
  executors once the table outgrows memory. AQE still picks a
  broadcast-hash join at small SF (runtime size stats), and falls back
  to shuffle joins at scale — the safe default either way.
  `tests/test_plans.py::test_no_forced_broadcast_on_scaling_tables`
  gates this invariant.
- fact-fact joins (orders ⋈ lineitem) shuffle on the join key once;
  AQE coalesces post-shuffle partitions. On a real lake these tables
  would be bucketed by orderkey to remove even that shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.catalog import local_frame, table
from end_to_end_aws_data_pipeline_spark.functions.aggs import dsum, dsum_sql
from end_to_end_aws_data_pipeline_spark.functions.aggs import stable_round
from end_to_end_aws_data_pipeline_spark.registry import register

# ---------------------------------------------------------------------------
# TPC-H-Q3-style: shipping priority (fact ⋈ fact ⋈ dim, filtered, top-k)
# ---------------------------------------------------------------------------

_Q3_ORACLE = f"""
SELECT
  l_orderkey,
  {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
  o_orderdate,
  o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register("q_join_shipping_priority", oracle=_Q3_ORACLE)
def q_join_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + filtered agg + top-k (TPC-H Q3 shape).

    customer scales with SF, so no forced broadcast — AQE broadcasts it
    at small SF from runtime stats and shuffle-joins at scale;
    orders⋈lineitem shuffles once on orderkey; final top-10 is
    TakeOrderedAndProject.
    """
    cutoff = F.to_timestamp(F.lit("1995-03-15 00:00:00"))
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H-Q5-style: revenue per nation (5-way join through two dim hops)
# ---------------------------------------------------------------------------

_Q5_ORACLE = f"""
SELECT
  n_name,
  {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
  count(*) AS n_items
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@register("q_join_orders_per_nation", oracle=_Q5_ORACLE)
def q_join_orders_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier volume (TPC-H Q5 shape): two facts + two
    sf-scaling joins (customer/supplier — AQE picks the strategy) +
    two fixed-size broadcast dims (nation/region) + a second
    equi-condition (c_nationkey = s_nationkey)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


# ---------------------------------------------------------------------------
# outer joins
# ---------------------------------------------------------------------------

_LEFT_ORACLE = f"""
SELECT
  c_custkey,
  c_name,
  CAST(count(o_orderkey) AS BIGINT) AS n_orders,
  {dsum_sql('coalesce(o_totalprice, 0.0)', 2)} AS total_spend
FROM customer
LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
"""


@register("q_join_left_outer", oracle=_LEFT_ORACLE)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving order-less customers (count=0, spend=0)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum(F.coalesce(F.col("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spend"
            ),
        )
    )


_FULL_ORACLE = """
WITH cust AS (
  SELECT c_nationkey AS nationkey, count(*) AS n_customers
  FROM customer GROUP BY c_nationkey
), supp AS (
  SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
  FROM supplier GROUP BY s_nationkey
)
SELECT
  coalesce(cust.nationkey, supp.nationkey) AS nationkey,
  coalesce(n_customers, 0) AS n_customers,
  coalesce(n_suppliers, 0) AS n_suppliers
FROM cust FULL OUTER JOIN supp ON cust.nationkey = supp.nationkey
"""


@register("q_join_full_outer", oracle=_FULL_ORACLE)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregates keyed by nation."""
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    cust = c.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    supp = s.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    return (
        cust.alias("c")
        .join(supp.alias("s"), F.col("c.nationkey") == F.col("s.nationkey"), "full")
        .select(
            F.coalesce(F.col("c.nationkey"), F.col("s.nationkey")).alias("nationkey"),
            F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
            F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
        )
    )


# ---------------------------------------------------------------------------
# semi / anti (EXISTS / NOT EXISTS) — also the incremental-gate primitive
# ---------------------------------------------------------------------------

_SEMI_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE c_custkey IN (
  SELECT o_custkey FROM orders WHERE o_totalprice > 40000.0
)
"""


@register("q_join_semi", oracle=_SEMI_ORACLE)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers with at least one big order."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 40000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


_ANTI_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


@register("q_join_anti", oracle=_ANTI_ORACLE)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers with no orders at all.

    Same primitive that backs the reference's incremental watermark gate
    (ref: second_lambda_function.py:76-88) in batch mode — see
    ingest/watermark.py.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# cross join
# ---------------------------------------------------------------------------

_CROSS_ORACLE = """
SELECT r_name, n_name, (r_regionkey = n_regionkey) AS same_region
FROM region CROSS JOIN nation
"""


@register("q_join_cross", oracle=_CROSS_ORACLE)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product of two dims (BroadcastNestedLoopJoin)."""
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    return r.crossJoin(n).select(
        "r_name",
        "n_name",
        (F.col("r_regionkey") == F.col("n_regionkey")).alias("same_region"),
    )


# ---------------------------------------------------------------------------
# non-equi / range join: banded dimension
# ---------------------------------------------------------------------------

_BANDS = [
    ("budget", 0.0, 500.0),
    ("standard", 500.0, 1000.0),
    ("premium", 1000.0, 1500.0),
    ("luxury", 1500.0, 2500.0),
]

_RANGE_ORACLE = f"""
WITH bands(band, lo, hi) AS (
  VALUES {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _BANDS)}
)
SELECT
  band,
  count(*) AS n_parts,
  {dsum_sql('p_retailprice', 2)} AS sum_price
FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY band
"""


@register("q_join_range_bands", oracle=_RANGE_ORACLE)
def q_join_range_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (non-equi) join against a banded dimension.

    The tiny band table broadcasts, so the physical plan is a
    BroadcastNestedLoopJoin — the right strategy at any fact scale as
    long as the band side is small. (For two large range sides, see
    operators/asof.py which bucketizes the range key first.)
    """
    p = table(spark, sf_dir, "part")
    bands = local_frame(spark, _BANDS, "band string, lo double, hi double")
    return (
        p.join(
            F.broadcast(bands),
            (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            dsum("p_retailprice", 2).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# pure theta join (inequality-only predicate)
# ---------------------------------------------------------------------------

_THETA_ORACLE = """
SELECT a.s_suppkey AS supp_a, b.s_suppkey AS supp_b,
       floor((b.s_acctbal - a.s_acctbal) * 100 + 0.5) / 100 AS bal_gap
FROM supplier a JOIN supplier b
  ON a.s_nationkey = b.s_nationkey
 AND a.s_suppkey < b.s_suppkey
 AND b.s_acctbal > a.s_acctbal + 500.0
"""


@register("q_join_theta", oracle=_THETA_ORACLE)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: equi part (nation) carries the shuffle; the
    inequality predicates evaluate as post-join filters — the planner
    shape for any mixed equi/non-equi condition."""
    s = table(spark, sf_dir, "supplier")
    a = s.select(
        F.col("s_suppkey").alias("supp_a"),
        F.col("s_nationkey").alias("nat_a"),
        F.col("s_acctbal").alias("bal_a"),
    )
    b = s.select(
        F.col("s_suppkey").alias("supp_b"),
        F.col("s_nationkey").alias("nat_b"),
        F.col("s_acctbal").alias("bal_b"),
    )
    return (
        a.join(
            b,
            (F.col("nat_a") == F.col("nat_b"))
            & (F.col("supp_a") < F.col("supp_b"))
            & (F.col("bal_b") > F.col("bal_a") + 500.0),
        )
        .select(
            "supp_a",
            "supp_b",
            stable_round(F.col("bal_b") - F.col("bal_a"), 2).alias(
                "bal_gap"
            ),
        )
    )


# ---------------------------------------------------------------------------
# null-aware anti join (NOT IN with a nullable subquery column)
# ---------------------------------------------------------------------------

_NAAJ_ORACLE = """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(c_custkey) AS BIGINT) AS key_checksum
FROM customer
WHERE c_custkey NOT IN (
  SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0
)
GROUP BY c_mktsegment
"""


@register("q_join_null_aware_anti", oracle=_NAAJ_ORACLE)
def q_join_null_aware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN over a NULLABLE subquery column — semantically distinct
    from a plain anti join: if the subquery produced even one NULL,
    three-valued logic would make every NOT IN test UNKNOWN and the
    result empty. Because parquet columns are nullable-typed, Spark
    cannot prove no-null statically and plans its dedicated
    single-column null-aware anti join (BroadcastHashJoin
    isNullAware=true) instead of a regular anti — the plan shape this
    query pins (see the fifth-wave plan gate).

    At scale the null-aware variant broadcasts the subquery side and
    short-circuits on the first NULL it finds in the build set; the
    streamed side never shuffles. DuckDB evaluates the same NOT IN
    text with identical three-valued semantics, so the hash match
    checks the semantics, not just the row count.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    load = {"customer": c, "orders": o}
    for name, df in load.items():
        df.createOrReplaceTempView(f"__naaj_{name}")
    return c.sparkSession.sql(
        _NAAJ_ORACLE.replace("FROM customer", "FROM __naaj_customer").replace(
            "FROM orders", "FROM __naaj_orders"
        )
    )


# ---------------------------------------------------------------------------
# fuzzy self-join via deletion neighborhoods (FastSS, edit distance <= 1)
# ---------------------------------------------------------------------------

_FUZZY_ORACLE = """
WITH names AS (
  SELECT c_custkey AS k, c_name AS s, c_nationkey AS nk FROM customer
), dels AS (
  SELECT k, s, nk, i,
         substr(s, 1, i - 1) || substr(s, i + 1) AS d
  FROM names, unnest(range(1, length(s) + 1)) AS u(i)
), verified AS (
  -- substitution pairs: differ at exactly one position, so they share
  -- exactly ONE (i, d) key -> the join emits each pair once, no dedupe
  SELECT a.k AS ka, a.nk AS nka, b.k AS kb
  FROM dels a JOIN dels b ON a.i = b.i AND a.d = b.d AND a.s < b.s
  UNION ALL
  -- insert/delete pairs (disjoint from the above: lengths differ);
  -- repeated characters make several deletions coincide -> DISTINCT
  SELECT DISTINCT a.k, a.nk, n.k
  FROM dels a JOIN names n
    ON a.d = n.s AND a.s < n.s AND levenshtein(a.s, n.s) <= 1
  UNION ALL
  SELECT DISTINCT n.k, n.nk, b.k
  FROM names n JOIN dels b
    ON n.s = b.d AND n.s < b.s AND levenshtein(n.s, b.s) <= 1
)
SELECT nka AS c_nationkey,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(ka + kb) AS BIGINT) AS key_checksum
FROM verified
GROUP BY nka
"""


@register("q_join_fuzzy_editdist", oracle=_FUZZY_ORACLE)
def q_join_fuzzy_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join (edit distance <= 1) via POSITION-TAGGED
    deletion neighborhoods — the FastSS / SymSpell method with the
    refinement that keeps candidate volume ~= true-pair volume:

    - SUBSTITUTION (and equal) pairs join on (position, deletion):
      two same-length strings share (i, s minus char i) iff they
      differ ONLY at position i — so this branch emits exactly the
      true substitution pairs, no false candidates. The untagged
      variant is quadratically worse on clustered keyspaces: on the
      zero-padded customer IDs, deleting any leading zero collapses
      huge name groups into one bucket (measured 97.7M raw candidates
      for 150k names at sf1, 36 s); position tags cap each bucket at
      |alphabet| sources.
    - INSERT/DELETE pairs (length +-1) join one side's deletions
      against the other side's identity — the identity side is unique
      per string, so this branch is output-linear too.

    No global dedup pass is needed: the three branches are disjoint
    (same-length vs length±1), and a substitution pair shares exactly
    ONE tagged key — at every other deletion position the two strings
    still differ — so the tagged join emits each pair exactly once.
    Only the (tiny) insert/delete branches dedupe repeated-character
    deletions, with a belt-and-suspenders levenshtein in the join
    condition.

    MULTIPLICITY FACTORING (the second scale decade's lesson): the
    deletion-neighborhood machinery runs over DISTINCT names only, and
    row multiplicities re-enter algebraically at the end.  Fuzzy-match
    corpora are duplicate-heavy by nature — entity resolution exists
    because the same name recurs — and at the row level every name
    pair with m_a and m_b copies costs m_a·m_b candidate rows (the
    sf1→sf10 step measured 43× wall for 10× rows, pure R² duplicate
    blowup while the result stayed 25 rows).  Factored, the pairwise
    work is bounded by the distinct-name vocabulary regardless of
    corpus size, and each name pair contributes m_a·m_b pairs and
    m_b·Σk_a + m_a·Σk_b to the checksum via two tiny group joins.
    Measured at the sf1→sf10 step: 185 s → 10 s wall and a 43× scale
    ratio → 1.7×, for ~1.8 s of extra grouping shuffle at sf1 where
    names are mostly unique.
    """
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("s"),
        F.col("c_nationkey").alias("nk"),
    )
    from end_to_end_aws_data_pipeline_spark.cache import persisted

    # per-(name, nation) groups carry the a-side multiplicities; the
    # b-side needs per-name totals (the pair tuple keeps only a's nation)
    ga = persisted(
        c.groupBy("s", "nk").agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum("k").cast("long").alias("ks"),
        )
    )
    gb = ga.groupBy("s").agg(
        F.sum("m").alias("m"), F.sum("ks").alias("ks")
    )
    names = gb.select("s")
    dels = names.select(
        "s",
        F.explode(
            F.expr(
                "transform(sequence(1, length(s)), i -> struct(i AS i, "
                "concat(substring(s, 1, i - 1), "
                "substring(s, i + 1, length(s))) AS d))"
            )
        ).alias("e"),
    ).select("s", F.col("e.i").alias("i"), F.col("e.d").alias("d"))
    da = dels.select("i", "d", F.col("s").alias("sa"))
    db = dels.select("i", "d", F.col("s").alias("sb"))
    sub = da.join(db, ["i", "d"]).filter(F.col("sa") < F.col("sb")).select(
        "sa", "sb"
    )
    na = names.select(F.col("s").alias("sa"))
    nb = names.select(F.col("s").alias("sb"))
    ins = (
        da.join(nb, da["d"] == nb["sb"])
        .filter(
            (F.col("sa") < F.col("sb")) & (F.levenshtein("sa", "sb") <= 1)
        )
        .select("sa", "sb")
        .distinct()
    )
    dele = (
        na.join(db, na["sa"] == db["d"])
        .filter(
            (F.col("sa") < F.col("sb")) & (F.levenshtein("sa", "sb") <= 1)
        )
        .select("sa", "sb")
        .distinct()
    )
    pairs = sub.unionByName(ins).unionByName(dele)
    # expand multiplicities: a-side split by nation, b-side name totals
    expanded = (
        pairs.join(
            ga.select(
                F.col("s").alias("sa"),
                F.col("nk").alias("nka"),
                F.col("m").alias("m_a"),
                F.col("ks").alias("ks_a"),
            ),
            "sa",
        )
        .join(
            gb.select(
                F.col("s").alias("sb"),
                F.col("m").alias("m_b"),
                F.col("ks").alias("ks_b"),
            ),
            "sb",
        )
    )
    return expanded.groupBy(F.col("nka").alias("c_nationkey")).agg(
        F.sum(F.col("m_a") * F.col("m_b")).cast("long").alias("n_pairs"),
        F.sum(
            F.col("m_b") * F.col("ks_a") + F.col("m_a") * F.col("ks_b")
        )
        .cast("long")
        .alias("key_checksum"),
    )


# ---------------------------------------------------------------------------
# salted skew join (oracle = the PLAIN join: the salt is an identity)
# ---------------------------------------------------------------------------

_SALTED_JOIN_ORACLE = """
WITH skewed AS (
  SELECT CASE WHEN o_orderkey % 10 < 9 THEN 0
         ELSE o_custkey % 100 END AS hot_key,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
  FROM orders
), dim AS (
  SELECT DISTINCT c_custkey % 100 AS hot_key,
         CASE WHEN c_custkey % 100 = 0 THEN 'hot' ELSE 'cold' END AS tier
  FROM customer
)
SELECT tier,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(price_c) AS BIGINT) AS price_checksum
FROM skewed JOIN dim USING (hot_key)
GROUP BY tier
"""


@register("q_join_salted_skew", oracle=_SALTED_JOIN_ORACLE)
def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join under deliberate 90% single-key skew, proven an
    IDENTITY on results: ~90% of fact rows collapse onto hot_key=0,
    the dimension replicates once per salt, the join runs on
    (key, salt) — and the oracle computes the PLAIN join, so the
    hash-green row is a proof that salting changed the partitioning,
    not the answer (the q_agg_salted_skew contract, extended to
    joins).

    Without salting, one reducer owns 90% of the probe side at any
    scale — AQE can re-split a sort-merge join's skewed partition,
    but not a join that must respect an existing layout. The salt
    spreads the hot key over n_salts reducers at the bounded price of
    replicating the (tiny) build side n_salts times.
    """
    from end_to_end_aws_data_pipeline_spark.plans.scale import salted_join

    o = table(spark, sf_dir, "orders")
    skewed = o.select(
        F.when(F.col("o_orderkey") % 10 < 9, 0)
        .otherwise(F.col("o_custkey") % 100)
        .alias("hot_key"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
    )
    c = table(spark, sf_dir, "customer")
    dim = c.select(
        (F.col("c_custkey") % 100).alias("hot_key"),
        F.when(F.col("c_custkey") % 100 == 0, "hot")
        .otherwise("cold")
        .alias("tier"),
    ).distinct()
    joined = salted_join(skewed, dim, "hot_key")
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("price_c").cast("long").alias("price_checksum"),
    )


# ---------------------------------------------------------------------------
# spatial distance join via grid-cell bucketing (geohash/S2 pattern)
# ---------------------------------------------------------------------------

_GEO_EXTENT = 1_000_000  # 1000 km square, meter-integer coordinates
_GEO_R = 5_000  # pair radius: 5 km
# cell size = R: any pair within R sits in the same or an adjacent
# cell, so the candidate join touches exactly the 3x3 neighborhood

_GEO_ORACLE = f"""
WITH pts AS (
  SELECT c_custkey AS id,
         ('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'x'), 1, 15))
           ::BIGINT % {_GEO_EXTENT} AS x,
         ('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'y'), 1, 15))
           ::BIGINT % {_GEO_EXTENT} AS y
  FROM customer
), pairs AS (
  SELECT a.id AS id_a, b.id AS id_b,
         (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
  FROM pts a JOIN pts b
    ON a.id < b.id
   AND abs(a.x - b.x) <= {_GEO_R}
   AND abs(a.y - b.y) <= {_GEO_R}
)
SELECT id_a, id_b,
       floor(sqrt(CAST(d2 AS DOUBLE)) * 100 + 0.5) / 100 AS dist_m
FROM pairs
WHERE d2 <= {_GEO_R} * {_GEO_R}
"""


@register("q_join_spatial_grid", oracle=_GEO_ORACLE)
def q_join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All customer pairs within 5 km on a synthetic 1000 km plane
    (md5-derived integer meter coordinates — deterministic, replayed
    by the oracle) — the grid-cell spatial join: each point lands in a
    cell of side R and probes only its 3×3 neighborhood, so candidate
    generation is a plain equi-join on cell ids, NEVER a cross join.
    This is the geohash/S2-cell pattern every distributed spatial
    engine uses; with integer coordinates the distance test is exact
    int64 arithmetic and the only float op is the final sqrt on
    identical operands.

    The ORACLE can afford the simpler band-predicate join (|Δx|,|Δy|
    ≤ R then exact filter) because DuckDB runs one node; the Spark
    side demonstrates the shape that scales — the cell-bucketed
    equi-join costs |cells touched| ∝ 9·N and shuffles 16-byte keys.
    Each true pair is emitted once: the probe explodes one side into
    its 3×3 neighborhood and keeps (a.id < b.id) after the cell
    match."""
    c = table(spark, sf_dir, "customer").select("c_custkey")

    def coord(tag: str) -> Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit(tag))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % _GEO_EXTENT
        )

    pts = c.select(
        F.col("c_custkey").alias("id"),
        coord("x").alias("x"),
        coord("y").alias("y"),
    )
    cell = lambda v: F.expr(f"{v} div {_GEO_R}")  # noqa: E731
    # build side: points keyed by their own cell
    build = pts.select(
        F.col("id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        cell("x").alias("cx"),
        cell("y").alias("cy"),
    )
    # probe side: each point exploded into its 3x3 cell neighborhood
    probe = (
        pts.select(
            F.col("id").alias("id_a"),
            F.col("x").alias("xa"),
            F.col("y").alias("ya"),
            cell("x").alias("cx0"),
            cell("y").alias("cy0"),
        )
        .withColumn("dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .select(
            "id_a",
            "xa",
            "ya",
            (F.col("cx0") + F.col("dx")).alias("cx"),
            (F.col("cy0") + F.col("dy")).alias("cy"),
        )
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        probe.join(build, ["cx", "cy"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(d2 <= _GEO_R * _GEO_R)
        .select(
            "id_a",
            "id_b",
            stable_round(F.sqrt(d2.cast("double")), 2).alias("dist_m"),
        )
    )
