"""Change-data-capture application and SCD2 dimension building.

The lakehouse ETL pair the reference's keyed upsert grows into at
warehouse scale (generalizing ingest/merge.py's set-based MERGE,
reference delta_load.py:169-202 row-by-row upserts):

- ``apply_cdc``: merge-on-read — apply an (op, seq)-stamped change feed
  (I/U upserts + D deletes, multiple changes per key) onto a snapshot,
  keeping the latest change per key. One window over the feed + one
  join against the snapshot: the snapshot is never rewritten per
  change, and the feed-side shuffle is proportional to the DELTA, not
  the table (the same delta-proportional posture as
  merge_into_parquet).
- ``scd2_build``: type-2 slowly-changing dimension — turn the same
  feed into validity intervals [valid_from, valid_to) per key with an
  is_current flag, via lead() over each key's change sequence.

Both are pure expression plans (window + join), exact in any engine —
the test feed is derived deterministically from `orders` so DuckDB
recomputes identical results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.catalog import table
from end_to_end_aws_data_pipeline_spark.registry import register


def apply_cdc(snapshot: DataFrame, changes: DataFrame, key: str) -> DataFrame:
    """Apply a change feed to a snapshot (merge-on-read semantics).

    ``changes`` rows carry ``op`` ('U' upsert / 'D' delete) and a
    monotone ``seq``; the LATEST change per key wins (ties broken by op
    descending so a same-seq delete loses to an upsert,
    deterministically). Keys present only in the feed are inserts;
    snapshot rows with no change pass through untouched.
    """
    w = W.partitionBy(key).orderBy(F.col("seq").desc(), F.col("op"))
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    payload = [c for c in snapshot.columns if c != key]
    merged = snapshot.alias("s").join(
        latest.alias("c"), on=key, how="full_outer"
    )
    keep = F.col("c.op").isNull() | (F.col("c.op") != "D")
    pick = [
        F.when(F.col("c.op").isNotNull(), F.col(f"c.{p}"))
        .otherwise(F.col(f"s.{p}"))
        .alias(p)
        for p in payload
    ]
    return merged.filter(keep).select(F.col(key), *pick)


def scd2_build(changes: DataFrame, key: str) -> DataFrame:
    """Type-2 SCD from a change feed: one row per (key, version) with
    [valid_from, valid_to) validity and an is_current flag — the
    standard warehouse shape for as-of dimension lookups (pairs with
    the as-of join in operators/asof.py)."""
    w = W.partitionBy(key).orderBy("seq")
    return changes.select(
        key,
        F.col("seq").alias("valid_from"),
        F.lead("seq").over(w).alias("valid_to"),
        F.lead("seq").over(w).isNull().alias("is_current"),
        *[c for c in changes.columns if c not in (key, "seq", "op")],
    )


# deterministic change feed derived from orders: keys % 3 == 0 get a
# seq-1 upsert; keys % 6 == 0 additionally a seq-2 change which is a
# DELETE when key % 12 == 0. Prices floor()ed to integers (floor is
# cross-engine safe; round() on doubles is not — see PLANS.md).
_FEED_SQL = """
  SELECT o_orderkey AS okey, 1 AS seq, 'U' AS op,
         CAST(floor(o_totalprice) AS BIGINT) + 10 AS price_i,
         o_orderstatus AS status
  FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT o_orderkey, 2,
         CASE WHEN o_orderkey % 12 = 0 THEN 'D' ELSE 'U' END,
         CAST(floor(o_totalprice) AS BIGINT) + 20,
         o_orderstatus
  FROM orders WHERE o_orderkey % 6 = 0
"""

_SNAP_SQL = """
  SELECT o_orderkey AS okey,
         CAST(floor(o_totalprice) AS BIGINT) AS price_i,
         o_orderstatus AS status
  FROM orders WHERE o_orderkey % 4 <> 3
"""


def _feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("okey"),
        F.floor("o_totalprice").cast("long").alias("price_flr"),
        F.col("o_orderstatus").alias("status"),
    )
    c1 = base.filter(F.col("okey") % 3 == 0).select(
        "okey",
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
        (F.col("price_flr") + 10).alias("price_i"),
        "status",
    )
    c2 = base.filter(F.col("okey") % 6 == 0).select(
        "okey",
        F.lit(2).alias("seq"),
        F.when(F.col("okey") % 12 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        (F.col("price_flr") + 20).alias("price_i"),
        "status",
    )
    return c1.unionByName(c2)


_CDC_ORACLE = f"""
WITH snap AS ({_SNAP_SQL}),
feed AS ({_FEED_SQL}),
latest AS (
  SELECT okey, op, price_i, status FROM (
    SELECT *, row_number() OVER (PARTITION BY okey
                                 ORDER BY seq DESC, op) AS rn
    FROM feed
  ) WHERE rn = 1
),
merged AS (
  SELECT coalesce(s.okey, c.okey) AS okey,
         CASE WHEN c.okey IS NOT NULL THEN c.price_i ELSE s.price_i END
           AS price_i,
         CASE WHEN c.okey IS NOT NULL THEN c.status ELSE s.status END
           AS status,
         c.op AS op
  FROM snap s FULL OUTER JOIN latest c ON s.okey = c.okey
)
SELECT o_orderpriority,
       count(*) AS n_rows,
       CAST(sum(okey) AS BIGINT) AS key_checksum,
       CAST(sum(price_i) AS BIGINT) AS price_checksum
FROM merged JOIN orders ON okey = o_orderkey
WHERE op IS NULL OR op <> 'D'
GROUP BY o_orderpriority
"""


@register("q_etl_cdc_apply", oracle=_CDC_ORACLE)
def q_etl_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge-on-read end-to-end: snapshot (75% of orders) + a
    two-generation change feed (upserts, inserts, deletes, multiple
    changes per key) → latest-per-key application → aggregate
    checksums per priority class (keeps the compared output compact
    while pinning exact row membership and applied values)."""
    o = table(spark, sf_dir, "orders")
    snap = o.filter(F.col("o_orderkey") % 4 != 3).select(
        F.col("o_orderkey").alias("okey"),
        F.floor("o_totalprice").cast("long").alias("price_i"),
        F.col("o_orderstatus").alias("status"),
    )
    result = apply_cdc(snap, _feed(spark, sf_dir), key="okey")
    pri = o.select(F.col("o_orderkey").alias("okey"), "o_orderpriority")
    return (
        result.join(pri, "okey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("okey").cast("long").alias("key_checksum"),
            F.sum("price_i").cast("long").alias("price_checksum"),
        )
    )


_SCD2_ORACLE = f"""
WITH feed AS ({_FEED_SQL})
SELECT okey,
       CAST(valid_from AS INT) AS valid_from,
       CAST(valid_to AS INT) AS valid_to,
       is_current, price_i, status
FROM (
  SELECT okey, seq AS valid_from,
         lead(seq) OVER (PARTITION BY okey ORDER BY seq) AS valid_to,
         lead(seq) OVER (PARTITION BY okey ORDER BY seq) IS NULL
           AS is_current,
         price_i, status
  FROM feed
)
"""


@register("q_etl_scd2_build", oracle=_SCD2_ORACLE)
def q_etl_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension build from the change feed: validity intervals
    per key version ([valid_from, valid_to), open-ended current row) —
    the dimension shape the as-of join consumes."""
    scd = scd2_build(_feed(spark, sf_dir), key="okey")
    return scd.select(
        "okey",
        F.col("valid_from").cast("int").alias("valid_from"),
        F.col("valid_to").cast("int").alias("valid_to"),
        "is_current",
        "price_i",
        "status",
    )


# ---------------------------------------------------------------------------
# snapshot diff (lakehouse table-version comparison)
# ---------------------------------------------------------------------------

# Deterministic derivation of two "table versions" from the orders
# table so the diff is reproducible at any SF: version A drops keys
# ≡ 3 (mod 10), version B drops keys ≡ 7 (mod 10) and bumps the price
# of keys ≡ 0 (mod 5) by 1.00 — so the diff contains all four states.
_SNAP_A_DROP = 3
_SNAP_B_DROP = 7
_SNAP_BUMP_MOD = 5

_SNAPDIFF_ORACLE = f"""
WITH a AS (
  SELECT o_orderkey AS k, o_totalprice AS p FROM orders
  WHERE o_orderkey % 10 <> {_SNAP_A_DROP}
), b AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % {_SNAP_BUMP_MOD} = 0
              THEN o_totalprice + 1.00 ELSE o_totalprice END AS p
  FROM orders WHERE o_orderkey % 10 <> {_SNAP_B_DROP}
), d AS (
  SELECT coalesce(a.k, b.k) AS k,
         CASE WHEN a.k IS NULL THEN 'added'
              WHEN b.k IS NULL THEN 'removed'
              WHEN a.p <> b.p THEN 'changed'
              ELSE 'unchanged' END AS status,
         CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL
              THEN b.p - a.p ELSE 0.0 END AS delta
  FROM a FULL OUTER JOIN b ON a.k = b.k
)
SELECT status,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(k) AS BIGINT) AS key_checksum,
       CAST(CAST(round(sum(CAST(delta AS DECIMAL(18,2))), 2) AS VARCHAR)
         AS DOUBLE) AS price_delta
FROM d GROUP BY status
"""


@register("q_etl_snapshot_diff", oracle=_SNAPDIFF_ORACLE)
def q_etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-version diff — the audit between two snapshots of the same
    keyed table (lakehouse time travel, pre/post-backfill validation,
    replication drift checks): full-outer join on the key, classify
    added / removed / changed / unchanged, and report per-state counts,
    a key checksum, and the exact net price delta.

    Scale shape: ONE shuffle each side on the join key (both versions
    of a real table are co-partitioned on disk in practice — bucketed
    layouts make this diff exchange-free), then a
    tiny 4-row aggregate. The delta sum goes through exact DECIMAL so
    'net drift of 0.00' is a bit-exact statement, not a float
    coincidence. Works unchanged at any version pair cardinality; the
    output is always |states| rows."""
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 10 != _SNAP_A_DROP).select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("pa")
    )
    bump = F.when(
        F.col("o_orderkey") % _SNAP_BUMP_MOD == 0, F.col("o_totalprice") + 1.00
    ).otherwise(F.col("o_totalprice"))
    b = o.filter(F.col("o_orderkey") % 10 != _SNAP_B_DROP).select(
        F.col("o_orderkey").alias("kb"), bump.alias("pb")
    )
    j = a.join(b, F.col("k") == F.col("kb"), "full_outer")
    status = (
        F.when(F.col("k").isNull(), "added")
        .when(F.col("kb").isNull(), "removed")
        .when(F.col("pa") != F.col("pb"), "changed")
        .otherwise("unchanged")
    )
    delta = F.when(
        F.col("k").isNotNull() & F.col("kb").isNotNull(),
        F.col("pb") - F.col("pa"),
    ).otherwise(F.lit(0.0))
    return (
        j.select(
            F.coalesce(F.col("k"), F.col("kb")).alias("key"),
            status.alias("status"),
            delta.alias("delta"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("key").cast("long").alias("key_checksum"),
            # decimal-domain round before the double cast (dsum recipe)
            F.round(
                F.sum(F.col("delta").cast("decimal(18,2)")), 2
            ).cast("double").alias("price_delta"),
        )
    )


# ---------------------------------------------------------------------------
# point-in-time (temporal) lookup over the SCD2 dimension
# ---------------------------------------------------------------------------

_PIT_ORACLE = f"""
WITH feed AS ({_FEED_SQL}),
scd AS (
  SELECT okey, seq AS valid_from,
         lead(seq) OVER (PARTITION BY okey ORDER BY seq) AS valid_to,
         op AS chg_op, price_i
  FROM feed
),
probe AS (
  SELECT o_orderkey AS pkey, o_orderpriority,
         1 + o_orderkey % 2 AS as_of
  FROM orders
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_hits,
       CAST(sum(pkey) AS BIGINT) AS key_checksum,
       CAST(sum(price_i) AS BIGINT) AS price_checksum,
       CAST(sum(valid_from) AS BIGINT) AS version_checksum
FROM probe JOIN scd
  ON pkey = okey
 AND valid_from <= as_of
 AND (valid_to IS NULL OR as_of < valid_to)
WHERE chg_op <> 'D'
GROUP BY o_orderpriority
"""


@register("q_cdc_point_in_time", oracle=_PIT_ORACLE)
def q_cdc_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) lookup: resolve, for every probe row,
    the dimension version that was valid at the probe's as-of instant —
    the read side of the SCD2 pair (q_etl_scd2_build writes the
    intervals; this query consumes them), and the batch shape of
    "reproduce yesterday's report" / ML feature time-travel.

    Probes carry as_of ∈ {{1, 2}} (named to dodge DuckDB's ASOF keyword) derived from the order key; the match
    condition is the half-open interval containment
    valid_from <= as_of < valid_to (NULL valid_to = current). A probe
    that resolves to a delete tombstone is a miss (the entity did not
    exist at that instant), so tombstone versions are filtered AFTER
    interval resolution — dropping them before the join would wrongly
    let an older 'U' version shadow the delete.

    Scale shape: the join is an EQUI join on the entity key with the
    interval containment as a residual filter — Spark hash-partitions
    both sides on the key (or broadcasts the dimension when it is
    small), and each key's version chain is short (bounded by change
    frequency), so the residual scan per probe is O(versions-per-key),
    never a cross product. Output aggregates to per-priority checksums
    to pin exact row membership, resolved values, AND the resolved
    version number (version_checksum catches a lookup that returns the
    right price via the wrong interval).
    """
    feed = _feed(spark, sf_dir).withColumnRenamed("op", "chg_op")
    w = W.partitionBy("okey").orderBy("seq")
    scd = feed.select(
        "okey",
        F.col("seq").alias("valid_from"),
        F.lead("seq").over(w).alias("valid_to"),
        "chg_op",
        "price_i",
    )
    o = table(spark, sf_dir, "orders")
    probe = o.select(
        F.col("o_orderkey").alias("pkey"),
        "o_orderpriority",
        (F.lit(1) + F.col("o_orderkey") % 2).alias("as_of"),
    )
    hits = (
        probe.join(
            scd,
            (F.col("pkey") == F.col("okey"))
            & (F.col("valid_from") <= F.col("as_of"))
            & (F.col("valid_to").isNull() | (F.col("as_of") < F.col("valid_to"))),
            "inner",
        )
        .filter(F.col("chg_op") != "D")
    )
    return hits.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.sum("pkey").cast("long").alias("key_checksum"),
        F.sum("price_i").cast("long").alias("price_checksum"),
        F.sum("valid_from").cast("long").alias("version_checksum"),
    )


# ---------------------------------------------------------------------------
# SCD2 compaction: collapse adjacent versions with identical payload
# ---------------------------------------------------------------------------

# redundant-version chain derived from orders: seq 1/2/3 per key where
# the seq-2 payload REPEATS seq-1 for keys % 2 = 0 (the no-op update
# every CDC feed emits) and seq-3 always changes
_COMPACT_FEED_SQL = """
  SELECT o_orderkey AS okey, s.seq AS seq,
         CAST(floor(o_totalprice) AS BIGINT)
           + CASE WHEN s.seq = 3 THEN 30
                  WHEN s.seq = 2 AND o_orderkey % 2 = 1 THEN 20
                  ELSE 10 END AS price_i
  FROM orders, (SELECT unnest([1, 2, 3]) AS seq) s
  WHERE o_orderkey % 5 = 0
"""

_COMPACT_ORACLE = f"""
WITH feed AS ({_COMPACT_FEED_SQL}),
marked AS (
  SELECT okey, seq, price_i,
         CASE WHEN lag(price_i) OVER (PARTITION BY okey ORDER BY seq)
                   IS DISTINCT FROM price_i THEN 1 ELSE 0 END AS is_new
  FROM feed
), islands AS (
  SELECT okey, seq, price_i,
         sum(is_new) OVER (PARTITION BY okey ORDER BY seq
                           ROWS UNBOUNDED PRECEDING) AS island
  FROM marked
), compacted AS (
  SELECT okey, price_i,
         CAST(min(seq) AS INT) AS valid_from,
         CAST(count(*) AS BIGINT) AS n_collapsed
  FROM islands GROUP BY okey, island, price_i
)
SELECT CAST(count(*) AS BIGINT) AS n_versions,
       CAST(sum(n_collapsed) AS BIGINT) AS n_raw_versions,
       CAST(sum(okey) AS BIGINT) AS key_checksum,
       CAST(sum(price_i * valid_from) AS BIGINT) AS payload_checksum
FROM compacted
"""


@register("q_cdc_scd2_compact", oracle=_COMPACT_ORACLE)
def q_cdc_scd2_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 version compaction: adjacent versions whose payload did
    not change collapse into one validity interval — the
    gaps-and-islands pass every dimension maintenance job needs,
    because upstream CDC feeds emit no-op updates (touch timestamps,
    replayed rows) that would otherwise bloat the version chain and
    slow every point-in-time lookup.

    Mechanics: lag() marks payload CHANGES per key (IS DISTINCT FROM
    so NULL payloads compare correctly), a running sum turns the
    marks into island ids, and a group-by per (key, island) keeps the
    earliest valid_from. The fixture plants a no-op seq-2 update on
    half the keys, so the compacted count is strictly between 2n and
    3n — and the payload checksum weights price by valid_from,
    pinning that each island kept its EARLIEST version boundary.

    One shuffle on the entity key serves the lag, the island sum, and
    the group-by; chains are short (bounded by change frequency), so
    partitions stay balanced at any table size.
    """
    from pyspark.sql import Window as W

    o = table(spark, sf_dir, "orders")
    seqs = F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("seq")
    feed = o.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("okey"),
        F.floor("o_totalprice").cast("long").alias("base"),
        seqs,
    ).select(
        "okey",
        "seq",
        (
            F.col("base")
            + F.when(F.col("seq") == 3, 30)
            .when((F.col("seq") == 2) & (F.col("okey") % 2 == 1), 20)
            .otherwise(10)
        ).alias("price_i"),
    )
    wk = W.partitionBy("okey").orderBy("seq")
    lagged = F.lag("price_i").over(wk)
    marked = feed.withColumn(
        "is_new",
        F.when(
            ~lagged.eqNullSafe(F.col("price_i")), 1
        ).otherwise(0),
    )
    islands = marked.withColumn(
        "island",
        F.sum("is_new").over(wk.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    compacted = islands.groupBy("okey", "island", "price_i").agg(
        F.min("seq").cast("int").alias("valid_from"),
        F.count(F.lit(1)).cast("long").alias("n_collapsed"),
    )
    return compacted.agg(
        F.count(F.lit(1)).cast("long").alias("n_versions"),
        F.sum("n_collapsed").cast("long").alias("n_raw_versions"),
        F.sum("okey").cast("long").alias("key_checksum"),
        F.sum(F.col("price_i") * F.col("valid_from"))
        .cast("long")
        .alias("payload_checksum"),
    )
