"""Streaming maintenance of the mergeable quantile sketch — the
rollup artifact q_agg_kll_quantiles builds in batch, maintained
INCREMENTALLY in foreachBatch and proven equal to the batch
construction by the oracle hash.

This is the missing streaming tie for the round-8 mergeable-summary
family: a 100 TB ingest never re-scans history to serve percentile
dashboards — each arriving micro-batch contributes a bounded level-1
sketch, the summary store is updated idempotently (partition-scoped
overwrite keyed by the batch's bucket — the exactly-once foreachBatch
upsert pattern, same contract as ingest/merge.py), and any rollup of
stored summaries answers quantiles with the proven
Σ(s_b−1) + max-merge-stratum rank bound. Because the round-8
compaction is DETERMINISTIC (rank-parity strata instead of KLL coin
flips, see operators/percentiles.py), the stream-maintained summary of
a multiset is canonical: the same rows arriving in any micro-batch
order, restarted or redelivered, produce the bit-identical sketch —
which is exactly what makes "stream-merged == batch-constructed"
testable by hash instead of by tolerance.

Reference anchor: the reference's ingest is incremental by design
(delta_load.py's watermark gate feeds only strictly-newer rows per
run); this operator is that posture applied to an analytic summary
instead of a table copy.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.catalog import cached_schema, local_frame
from end_to_end_aws_data_pipeline_spark.operators.percentiles import (
    HH_K,
    HH_TOP,
    KLL_K,
    KLL_QS,
    hh_oracle_sql,
    kll_oracle_sql,
)
from end_to_end_aws_data_pipeline_spark.registry import register
from end_to_end_aws_data_pipeline_spark.streaming.store import (
    drain,
    fresh_run_dir,
    stage,
)

# per-sketch capacity and quantiles are q_agg_kll_quantiles' (KLL_K,
# KLL_QS): the stream maintains the same sketch
_SK_BUCKETS = 4   # staged arrival files = micro-batches = sketch groups
_SK_LOCAL_ROWS = 1 << 18  # single-sorted-partition rank cutoff per batch

# The oracle replays the identical two-level construction in batch:
# groups = the deterministic arrival buckets (event_id % B — the same
# rows each micro-batch carries), construction and merge = the
# canonical rank-parity compaction of q_agg_kll_quantiles, estimation
# + realized-rank-error audit identical. floor(x*100 + 0.5) is the
# cross-engine stable cents publish (every step a correctly-rounded
# IEEE op — SCALING.md round-6 numerics).
_SK_ORACLE = kll_oracle_sql(
    f"""  SELECT event_id % {_SK_BUCKETS} AS g,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc,
         event_id AS uniq
  FROM events""",
    "       (SELECT CAST(count(*) AS BIGINT) FROM gm) AS n_batches,\n",
)


def _pow2ceil(c: int) -> int:
    """Smallest power of two s with s * KLL_K >= c (compaction step)."""
    s = 1
    while s * KLL_K < c:
        s *= 2
    return s


def staged_bucket_dir(path: str) -> str:
    """Stage the events table as _SK_BUCKETS parquet files, one
    deterministic bucket (event_id % B) per file, in a private dir —
    the stand-in for data ARRIVING in bounded batches (a day's files,
    a Kafka partition's offsets). maxFilesPerTrigger=1 then makes each
    micro-batch exactly one bucket, so the stream's unit of sketch
    maintenance equals the oracle's replayable group. Idempotent:
    re-staging happens only when the source or the package code
    changes (``store.stage``)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def write_chunks(src: str, out: str) -> list[str]:
        t = pq.read_table(src)
        # no pc.mod in this pyarrow; B is a power of two, so id % B is
        # a mask (event ids are non-negative)
        assert _SK_BUCKETS & (_SK_BUCKETS - 1) == 0
        bucket = pc.bit_wise_and(t.column("event_id"), _SK_BUCKETS - 1)
        files = []
        for g in range(_SK_BUCKETS):
            files.append(os.path.join(out, f"bucket_{g}.parquet"))
            pq.write_table(t.filter(pc.equal(bucket, g)), files[-1])
        return files

    return stage(path, "sketch", write_chunks)


def run_sketch_stream(
    spark: SparkSession,
    staged: str,
    acc: str,
    ckpt: str,
    stop_after_batches: int | None = None,
) -> None:
    """Run (or resume) the incremental sketch-maintenance stream: file
    source, one bucket per micro-batch, foreachBatch builds the batch's
    level-1 sketch and upserts it into the summary store ``acc`` by
    partition-scoped overwrite (idempotent under redelivery — a
    replayed micro-batch rewrites the identical directory).

    ``stop_after_batches`` stops the query early (the restart test
    kills mid-stream and resumes from the checkpoint; exactly-once file
    tracking guarantees the union of both runs' batches is each bucket
    once)."""
    from end_to_end_aws_data_pipeline_spark.operators.sweep import (
        segmented_group_rank,
    )
    from end_to_end_aws_data_pipeline_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    schema = cached_schema(spark, os.path.join(staged, "bucket_0.parquet"))
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .select(
            (F.col("event_id") % _SK_BUCKETS).cast("long").alias("g"),
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("vc"),
            F.col("event_id").cast("long").alias("uniq"),
        )
    )

    def upd(bdf: DataFrame, _batch_id: int) -> None:
        # bounded probe: the bucket id, its size and value span (one
        # aggregate — feeds the compaction step AND the band width)
        r = bdf.agg(
            F.min("g"), F.count(F.lit(1)), F.min("vc"), F.max("vc")
        ).first()
        if not r[1]:
            return
        g, n_b, lo, hi = int(r[0]), int(r[1]), int(r[2]), int(r[3])
        s = _pow2ceil(n_b)
        # per-batch level-1 sketch: canonical rank-parity strata — keep
        # each stratum's FIRST item (rank by (vc, uniq)) with weight =
        # the stratum's exact population, so weights tile [1..n_b].
        # Rank path routed by batch size: a micro-batch is bounded BY
        # CONFIGURATION (maxFilesPerTrigger / maxBytesPerTrigger set
        # its ceiling), so up to _SK_LOCAL_ROWS one sorted partition is
        # the cheap exact path (2 jobs/batch total); a deployment whose
        # trigger admits bigger batches flips to the banded library
        # helper — same strata, never one corpus-sized window.
        if n_b <= _SK_LOCAL_ROWS:
            from pyspark.sql import Window as W

            ranked = bdf.select(
                "g",
                "vc",
                "uniq",
                F.row_number().over(W.orderBy("vc", "uniq")).alias("rk"),
                F.lit(n_b).alias("n_g"),
            )
        else:
            ranked, _sizes = segmented_group_rank(
                bdf, "g", "vc", ["uniq"], (hi - lo) // 4096 + 1
            )
        l1 = (
            ranked.where(F.expr(f"(rk - 1) % {s} = 0"))
            .select(
                F.lit(g).cast("long").alias("g"),
                "vc",
                "uniq",
                F.least(F.lit(s), F.col("n_g") - F.col("rk") + 1)
                .cast("long")
                .alias("w"),
                F.lit(s).cast("long").alias("s"),
            )
        )
        # idempotent upsert: the bucket's summary directory is
        # overwritten whole — redelivery produces the same bytes
        l1.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(acc, f"g{g}")
        )

    drain(spark, src, upd, ckpt, stop_after_batches)


def merge_sketches(spark: SparkSession, acc: str, n_rows: int) -> DataFrame:
    """Roll the stored per-batch summaries up into one global sketch
    and publish quantile estimates against the proven bound — identical
    arithmetic to q_agg_kll_quantiles' merge (one more rank-parity
    compaction over the weighted union), computed ON THE DRIVER: the
    summary store holds ≤ buckets × k rows BY CONSTRUCTION (that is
    the whole point of a mergeable summary — the rollup is
    dashboard-sized), and the round-8 lesson stands that tiny-relation
    algebra as Spark jobs is pure scheduler overhead (a powers-table
    join chain measured ~1.5 s of broadcast-job cost; driver literals
    replaced ~6 jobs in the KLL/RFM builds). ONE bounded collect in,
    literal rows out; integer arithmetic keeps it deterministic and
    oracle-replayable."""
    rows = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(acc)
        .select("g", "vc", "uniq", "w", "s")
        .collect()
    )
    steps = {}
    for r in rows:
        steps[int(r["g"])] = max(steps.get(int(r["g"]), 0), int(r["s"]))
    b1 = sum(s - 1 for s in steps.values())
    n_batches = len(steps)
    items = sorted((int(r["vc"]), int(r["uniq"]), int(r["w"])) for r in rows)
    m_items = len(items)
    wsum = sum(w for _, _, w in items)
    s2 = _pow2ceil(m_items)
    kept = []  # (vc, cw): stratum firsts with cumulative weight
    cw = 0
    for j in range(0, m_items, s2):
        w2 = sum(w for _, _, w in items[j : j + s2])
        cw += w2
        kept.append((items[j][0], cw, w2))
    bound = b1 + max(w2 for _, _, w2 in kept)
    out = []
    for q in KLL_QS:
        t = (q * n_rows + 999_999) // 1_000_000
        est_vc = next(vc for vc, c, _ in kept if c >= t)
        out.append(
            (
                q,
                t,
                est_vc,
                bound,
                n_rows,
                m_items,
                len(kept),
                n_batches,
                wsum == n_rows,
            )
        )
    return local_frame(
        spark, out,
        "q_ppm long, target_rank long, est_vc long, err_bound long, "
        "n_rows long, merged_items long, sketch_items long, "
        "n_batches long, weight_exact boolean",
    )


@register("q_stream_sketch_merge", oracle=_SK_ORACLE)
def q_stream_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sketch maintenance, EXECUTED in the gate: the events
    table arrives as 4 deterministic micro-batches
    (maxFilesPerTrigger=1 over staged bucket files), foreachBatch
    builds each batch's canonical level-1 rank sketch and upserts it
    into a summary store by partition-scoped overwrite, and the
    published result is the MERGED rollup of the stored summaries —
    quantile estimates with realized rank error audited against the
    Σ(s_b−1) + max-merge-stratum bound. The DuckDB oracle replays the
    whole thing in batch (groups = the arrival buckets): hash equality
    IS the stream-merged == batch-constructed proof, possible only
    because the round-8 compaction is deterministic (rank-parity
    strata, no coin flips — the summary of a multiset is canonical
    regardless of arrival order, restart, or redelivery).

    Scale shape: the stream never holds state (foreachBatch is
    stateless; the summary store is the state, exactly-once by
    idempotent directory overwrite — ingest/merge.py's partition
    contract); per-batch work is one bounded probe + a banded rank +
    a ≤k-row write; the merge reads ONLY summaries (≤ B×k rows), so
    serving "any date-range quantiles" at 100 TB costs summary-sized
    work, never a history rescan. Restart/exactly-once is tested by
    killing the stream mid-run and resuming from the checkpoint
    (tests/test_streaming.py)."""
    staged = staged_bucket_dir(os.path.join(sf_dir, "events.parquet"))
    acc = fresh_run_dir(os.path.dirname(staged), "sketch_acc")
    ckpt = fresh_run_dir(os.path.dirname(staged), "sketch_ckpt")
    run_sketch_stream(spark, staged, acc, ckpt)
    n_rows = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .count()
    )
    merged = merge_sketches(spark, acc, n_rows)
    # realized-rank-error audit: one corpus pass of conditional counts
    # vs the (≤4-row) estimate table — no second rank shuffle
    v = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("vc")
    )
    audit = (
        v.crossJoin(F.broadcast(merged.select("q_ppm", "est_vc")))
        .groupBy("q_ppm", "est_vc")
        .agg(
            (
                F.lit(1)
                + F.sum(F.when(F.col("vc") < F.col("est_vc"), 1).otherwise(0))
            )
            .cast("long")
            .alias("lo"),
            F.sum(F.when(F.col("vc") <= F.col("est_vc"), 1).otherwise(0))
            .cast("long")
            .alias("hi"),
        )
    )
    rank_err = (
        F.when(F.col("target_rank") < F.col("lo"), F.col("lo") - F.col("target_rank"))
        .when(F.col("target_rank") > F.col("hi"), F.col("target_rank") - F.col("hi"))
        .otherwise(F.lit(0))
        .cast("long")
    )
    return (
        merged.join(audit, ["q_ppm", "est_vc"])
        .select(
            F.col("q_ppm").cast("long").alias("q_ppm"),
            F.col("target_rank").cast("long").alias("target_rank"),
            F.col("est_vc").cast("long").alias("est_vc"),
            rank_err.alias("rank_err"),
            F.col("err_bound").cast("long").alias("err_bound"),
            (rank_err <= F.col("err_bound")).alias("within_bound"),
            "n_rows",
            "merged_items",
            "sketch_items",
            "n_batches",
            "weight_exact",
        )
        .orderBy("q_ppm")
    )


# ---------------------------------------------------------------------------
# streaming heavy-hitters maintenance (the Misra-Gries summary of
# q_agg_heavy_hitters_merge, maintained incrementally in foreachBatch)
# ---------------------------------------------------------------------------

# Per-batch summary capacity and published top are the batch
# operator's (HH_K, HH_TOP). The oracle replays the identical
# construction in batch: groups = the deterministic arrival buckets
# (event_id % B), per-group summary = the exact top-K user counts + the
# K-th count t_g, merge = candidate rollup with the absent-group t_g
# interval, audit = one exact count pass over the published keys (the
# q_agg_heavy_hitters_merge arithmetic with calendar months replaced by
# arrival buckets).
_HH_STREAM_ORACLE = hh_oracle_sql(
    f"  SELECT event_id % {_SK_BUCKETS} AS g, user_id AS k FROM events", "user_id"
)


def run_hh_stream(
    spark: SparkSession,
    staged: str,
    acc: str,
    ckpt: str,
    stop_after_batches: int | None = None,
) -> None:
    """Run (or resume) the incremental heavy-hitters stream: one staged
    bucket per micro-batch, foreachBatch reduces the batch to its exact
    top-K key counts plus the K-th-count threshold t_g and upserts that
    summary by partition-scoped directory overwrite (idempotent under
    redelivery — the summary of a batch's multiset is canonical, so a
    replayed batch rewrites identical bytes)."""
    from end_to_end_aws_data_pipeline_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    schema = cached_schema(spark, os.path.join(staged, "bucket_0.parquet"))
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .select(
            (F.col("event_id") % _SK_BUCKETS).cast("long").alias("g"),
            F.col("user_id").cast("long").alias("k"),
        )
    )

    def upd(bdf: DataFrame, _batch_id: int) -> None:
        from pyspark.sql import Window as W

        # bounded probe: the bucket id + emptiness (one tiny aggregate,
        # the sketch stream's probe contract)
        r = bdf.agg(F.min("g"), F.count(F.lit(1))).first()
        if not r[1]:
            return
        g = int(r[0])
        c = bdf.groupBy("g", "k").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        # exact top-K of the batch: TakeOrdered over the batch's key
        # dictionary (bucket-bounded), deterministic total order; the
        # t_g threshold (K-th count, 0 if the batch has < K keys) rides
        # a window over the ≤K survivors. The whole summary stays ONE
        # bdf-derived lazy plan: a driver-side collect + createDataFrame
        # + write of the same 64 rows measured 5.3 s/batch vs 0.6 s for
        # this shape — a local-relation write inside an active
        # micro-batch pays the full SQL-execution setup, the derived
        # plan reuses the batch's.
        kept = c.orderBy(F.col("cnt").desc(), "k").limit(HH_K)
        w = W.partitionBy()
        out = kept.select(
            "g",
            "k",
            "cnt",
            F.when(
                F.count(F.lit(1)).over(w) == HH_K, F.min("cnt").over(w)
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("t"),
        )
        out.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(acc, f"g{g}")
        )

    drain(spark, src, upd, ckpt, stop_after_batches)


@register("q_stream_heavy_hitters", oracle=_HH_STREAM_ORACLE)
def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy-hitters maintenance, EXECUTED in the gate — the
    frequent-items sibling of q_stream_sketch_merge, closing the
    mergeable-summary family's streaming tie in both directions (ranks
    AND counts): the events table arrives as deterministic micro-batches
    (the same staged buckets), foreachBatch reduces each batch to its
    exact top-64 user counts + the K-th-count threshold t_g
    (Misra-Gries/SpaceSaving bound, computed offline so the summary is
    canonical and order-free), and the published result is the merged
    rollup — global top-20 users with the DETERMINISTIC error interval
    [Σ kept counts, + Σ absent batches' t_g] and the exact-count audit
    computed in-engine. The DuckDB oracle replays construction AND merge
    in batch; hash equality IS the stream-merged == batch-constructed
    proof (canonical summaries make it testable by hash, not tolerance).

    Scale shape: the stream holds no state (the summary store is the
    state — exactly-once by idempotent directory overwrite, the
    ingest/merge.py partition contract); per-batch work is one
    batch-sized count + a dictionary-bounded TakeOrdered; the merge
    reads ONLY summaries (≤ B×K rows, driver-sized BY CONSTRUCTION —
    the round-8 lesson that tiny-relation algebra as Spark jobs is pure
    scheduler overhead); the only corpus pass is the audit semi-join on
    the 20 published keys. Restart/exactly-once is tested by killing
    the stream mid-run and resuming from the checkpoint."""
    staged = staged_bucket_dir(os.path.join(sf_dir, "events.parquet"))
    acc = fresh_run_dir(os.path.dirname(staged), "hh_acc")
    ckpt = fresh_run_dir(os.path.dirname(staged), "hh_ckpt")
    run_hh_stream(spark, staged, acc, ckpt)
    rows = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(acc)
        .collect()
    )
    # driver-side merge over ≤ B×K summary rows
    t_by_g: dict[int, int] = {}
    for r in rows:
        t_by_g[int(r["g"])] = int(r["t"])
    total_t = sum(t_by_g.values())
    cand: dict[int, list[int]] = {}
    for r in rows:
        e = cand.setdefault(int(r["k"]), [0, 0, 0])  # lo, tcov, groups
        e[0] += int(r["cnt"])
        e[1] += t_by_g[int(r["g"])]
        e[2] += 1
    top = sorted(cand.items(), key=lambda kv: (-kv[1][0], kv[0]))[:HH_TOP]
    top_df = local_frame(
        spark,
        [
            (k, lo, lo + total_t - tcov, groups)
            for k, (lo, tcov, groups) in top
        ],
        "k long, est_lo long, est_hi long, groups_present long",
    )
    v = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        F.col("user_id").cast("long").alias("k")
    )
    ex = (
        v.join(F.broadcast(top_df.select("k")), "k")
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
    )
    return (
        top_df.join(ex, "k")
        .select(
            F.col("k").alias("user_id"),
            "est_lo",
            "est_hi",
            "exact_cnt",
            "groups_present",
            (
                (F.col("est_lo") <= F.col("exact_cnt"))
                & (F.col("exact_cnt") <= F.col("est_hi"))
            ).alias("within_bound"),
        )
        .orderBy(F.col("est_lo").desc(), "user_id")
    )
