"""Registry queries for the streaming surface.

The window builders (streaming/windows.py) are batch/stream-unified, so
the oracle checks them in batch mode; q_stream_exactly_once_counts goes
further and *actually executes a streaming query* (file source →
availableNow → memory sink) inside the correctness gate, asserting that
the streaming path computes exactly the batch answer.
"""

from __future__ import annotations

import itertools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.catalog import cached_schema, normalize_event_ts, stage, table
from end_to_end_aws_data_pipeline_spark.functions.aggs import (
    dsum_sql,
    stable_round,
)
from end_to_end_aws_data_pipeline_spark.registry import register
from end_to_end_aws_data_pipeline_spark.streaming.store import shuffle_partitions
from end_to_end_aws_data_pipeline_spark.streaming.windows import (
    session_counts,
    sliding_counts,
    tumbling_counts,
)

_SUM6 = dsum_sql("value", 6)

_TUMBLING_ORACLE = f"""
SELECT
  date_trunc('hour', ts) AS window_start,
  date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
  event_type,
  count(*) AS n_events,
  {_SUM6} AS sum_value
FROM events
GROUP BY 1, 2, 3
"""


@register("q_stream_tumbling_window", oracle=_TUMBLING_ORACLE)
def q_stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows (epoch-aligned, so ≡
    date_trunc('hour')); identical code path runs under readStream."""
    return tumbling_counts(table(spark, sf_dir, "events"))


_SLIDING_ORACLE = f"""
WITH offs AS (SELECT unnest([0, 1]) AS i)
SELECT
  time_bucket(INTERVAL 30 MINUTE, ts) - i * INTERVAL 30 MINUTE AS window_start,
  time_bucket(INTERVAL 30 MINUTE, ts) - i * INTERVAL 30 MINUTE
    + INTERVAL 1 HOUR AS window_end,
  event_type,
  count(*) AS n_events,
  {_SUM6} AS sum_value
FROM events CROSS JOIN offs
GROUP BY 1, 2, 3
"""


@register("q_stream_sliding_window", oracle=_SLIDING_ORACLE)
def q_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/30min windows — every event contributes to exactly
    width/slide = 2 windows (the oracle materializes that identity)."""
    return sliding_counts(table(spark, sf_dir, "events"))


_SESSION_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, sum(new_session) OVER (
      PARTITION BY user_id ORDER BY ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM ordered
)
SELECT
  min(ts) AS session_start,
  max(ts) + INTERVAL 30 MINUTE AS session_end,
  user_id,
  count(*) AS n_events,
  {_SUM6} AS sum_value
FROM numbered
GROUP BY user_id, sid
"""


@register("q_stream_session_window", oracle=_SESSION_ORACLE)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window (30-min gap; end = last event + gap) —
    the built-in that replaces the manual lag/cumsum sessionization of
    operators/asof.py when running under a stream."""
    return session_counts(table(spark, sf_dir, "events"))


_counter = itertools.count()


def _link_into(path: str, out: str) -> None:
    # absolute target: a relative one would resolve against ``out``
    os.symlink(os.path.abspath(path), os.path.join(out, os.path.basename(path)))


def stream_dir_for(path: str) -> str:
    """The file-stream source only accepts directories: a staged dir
    holding one symlink to the single-file source (``catalog.stage``,
    once per file and package code; local-fs only — on a lake the
    source is always a directory already)."""
    return stage("src", [path], lambda out: _link_into(path, out))

_EXACTLY_ONCE_ORACLE = """
SELECT event_type, count(*) AS n_events,
       CAST(sum(user_id) AS BIGINT) AS user_id_checksum
FROM events
GROUP BY event_type
"""


@register("q_stream_exactly_once_counts", oracle=_EXACTLY_ONCE_ORACLE)
def q_stream_exactly_once_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A real Structured Streaming execution inside the correctness
    gate: parquet file source → availableNow trigger → complete-mode
    aggregate → memory sink. Exactly-once file tracking means the
    streamed totals equal the batch answer — which the DuckDB oracle
    asserts.
    """
    from end_to_end_aws_data_pipeline_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = cached_schema(spark, path)  # ts arrives as ns-long
    name = f"__stream_counts_{next(_counter)}"
    src = spark.readStream.schema(schema).parquet(stream_dir_for(path))
    # (distinct aggregates are unsupported on streams — an integer
    # checksum gives the oracle an equally strong exactly-once signal)
    agg = src.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("user_id").cast("long").alias("user_id_checksum"),
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


_STREAM_JOIN_ORACLE = """
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       p.user_id,
       c.ts AS click_ts,
       p.ts AS purchase_ts
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND p.event_type = 'purchase'
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
 AND c.ts <= p.ts
"""


@register("q_stream_stream_join", oracle=_STREAM_JOIN_ORACLE)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join executed for real inside the gate:
    two watermarked file streams over the same event log (clicks /
    purchases), inner-joined on user with a 30-minute attribution
    window (click at or before the purchase, within 30 min). With
    availableNow + 1h watermarks no pair is dropped, so the streamed
    append output equals the batch interval join the oracle runs.

    State bound at scale: each side buffers only rows newer than
    (max event time - watermark - interval), so executor state is
    O(arrival rate x 1.5h), not O(stream length).
    """
    from end_to_end_aws_data_pipeline_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = cached_schema(spark, path)
    name = f"__stream_join_{next(_counter)}"

    def side(event_type: str, prefix: str) -> DataFrame:
        src = normalize_event_ts(
            spark.readStream.schema(schema).parquet(stream_dir_for(path))
        )
        return (
            src.filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "1 hour")
        )

    clicks, purchases = side("click", "click"), side("purchase", "purchase")
    joined = clicks.join(
        purchases,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
    )
    q = (
        joined.select(
            "click_id",
            "purchase_id",
            F.col("purchase_user").alias("user_id"),
            "click_ts",
            "purchase_ts",
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


_LOUTER_ORACLE = """
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.user_id,
       c.ts AS click_ts,
       p.ts AS purchase_ts
FROM events c
LEFT JOIN events p
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase'
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
 AND c.ts <= p.ts
WHERE c.event_type = 'click'
"""


def _louter_staged_dir(path: str) -> str:
    """Stage a symlink to the events file plus two SENTINEL parquet
    files (each one future click + one future purchase, ids < 0) in a
    dir of their own (``catalog.stage``, once per file and package code;
    not stream_dir_for's — other stream queries must never see
    sentinels). Outer-join state only flushes when the watermark
    passes; the real data alone leaves its own tail (and, in a single
    availableNow batch, everything) un-evicted. Two sentinel files +
    maxFilesPerTrigger=1 force two extra micro-batches: batch N evicts
    with the watermark computed from batch N-1's max event time, so
    sentinel-1 (+3h) sets a frontier past every real row and sentinel-2's
    batch flushes the remaining outer state deterministically (paired
    click+purchase sentinels keep BOTH sides' frontiers advancing).
    A third sentinel was one whole state-store maintenance round of
    pure waste — measured 7.5 -> ~5 s at sf0.1 with identical output."""
    import datetime as _dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(d: str) -> None:
        _link_into(path, d)
        t = pq.read_table(path)
        max_ts = pa.compute.max(t.column("ts")).as_py()
        one = t.slice(0, 1).to_pylist()[0]
        for i, hours in enumerate((3, 6), start=1):
            rows = []
            for j, etype in enumerate(("click", "purchase")):
                r = dict(one)
                r["event_id"] = -(2 * i + j)
                r["user_id"] = -1
                r["ts"] = max_ts + _dt.timedelta(hours=hours)
                r["event_type"] = etype
                rows.append(r)
            sent = pa.Table.from_pylist(rows, schema=t.schema)
            pq.write_table(sent, os.path.join(d, f"zz_sentinel_{i}.parquet"))

    return stage("louter", [path], build)


@register("q_stream_stream_left_join", oracle=_LOUTER_ORACLE)
def q_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join executed for real: every
    click pairs with the purchases it preceded by <= 30 minutes, and
    clicks with NO such purchase still emit (purchase columns null) —
    but only once the watermark proves no match can arrive. That
    eviction is the semantics under test: unlike the inner join
    (q_stream_stream_join), correct output REQUIRES the state store to
    age out and flush unmatched rows, which the batch oracle's LEFT
    JOIN states declaratively.

    Determinism engineering: outer results only emit when a LATER
    micro-batch runs with an advanced watermark, so the staged source
    adds two sentinel files (future click+purchase pairs, ids < 0,
    filtered from the output) and maxFilesPerTrigger=1 — the sentinel
    batches advance the watermark past every real event and flush all
    outer state; the streamed append output then equals the batch LEFT
    JOIN exactly. multipleWatermarkPolicy=max for THIS query only:
    both sides consume the SAME staged directory, so their true
    event-time frontier is identical and the default min policy only
    reflects the two file sources' one-file scheduling phase lag —
    which otherwise leaves the final file's tail state un-evictable
    forever (measured: the last two outer rows never flush under min).
    State bound at scale: each side buffers only rows newer than
    watermark - interval, exactly as the inner join."""
    from end_to_end_aws_data_pipeline_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = cached_schema(spark, path)
    name = f"__stream_louter_{next(_counter)}"
    src_dir = _louter_staged_dir(path)

    def side(event_type: str, prefix: str) -> DataFrame:
        src = normalize_event_ts(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        return (
            src.filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "1 hour")
        )

    clicks, purchases = side("click", "click"), side("purchase", "purchase")
    joined = clicks.join(
        purchases,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "left_outer",
    )
    pol_key = "spark.sql.streaming.multipleWatermarkPolicy"
    old_pol = spark.conf.get(pol_key, None)
    spark.conf.set(pol_key, "max")
    # state-store right-sizing (see scale-lessons): shuffle.partitions
    # pinned at query start = state-store count; a 5-micro-batch
    # conformance run over sf-scale data needs 4 stores, not 32 —
    # measured 16.0 -> ~6 s at sf0.1. A production deployment sizes
    # this to its real key cardinality instead.
    try:
        with shuffle_partitions(spark, 4):
            (
                joined.filter(F.col("click_id") >= 0)
                .select(
                    "click_id",
                    "purchase_id",
                    F.col("click_user").alias("user_id"),
                    "click_ts",
                    "purchase_ts",
                )
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
    finally:
        if old_pol is None:
            spark.conf.unset(pol_key)
        else:
            spark.conf.set(pol_key, old_pol)
    return spark.table(name)


_STATEFUL_ORACLE = """
SELECT user_id,
       count(*) AS n_events,
       floor(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
             + 0.5) / 100 AS total_value,
       min(ts) AS first_ts,
       max(ts) AS last_ts
FROM events
GROUP BY user_id
"""


@register("q_stream_stateful_user_aggs", oracle=_STATEFUL_ORACLE)
def q_stream_stateful_user_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState inside the correctness gate: the per-user
    GroupState tracker (streaming/stateful.py) runs over the events
    stream with availableNow; the *final* emitted state per user must
    equal the batch aggregate — which the DuckDB oracle computes.

    State folds money in integer cents, so the streamed result is exact
    regardless of micro-batch boundaries (timestamps truncate ns → µs
    like everywhere else in the engine).
    """
    from end_to_end_aws_data_pipeline_spark.session import ensure_runtime_confs
    from end_to_end_aws_data_pipeline_spark.streaming.stateful import (
        user_session_tracker,
    )

    ensure_runtime_confs(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = cached_schema(spark, path)
    name = f"__stream_state_{next(_counter)}"
    src = normalize_event_ts(
        spark.readStream.schema(schema).parquet(stream_dir_for(path))
    ).select("user_id", "ts", "value")
    q = (
        user_session_tracker(src)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode emits one row per (user, batch); keep each user's last
    out = spark.table(name)
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .select(
            "user_id",
            "n_events",
            stable_round("total_value", 2).alias("total_value"),
            "first_ts",
            "last_ts",
        )
    )


# ---------------------------------------------------------------------------
# stream-static enrichment join
# ---------------------------------------------------------------------------

_STREAM_STATIC_ORACLE = """
SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment,
       CAST(round(e.value * 100) AS BIGINT) AS value_c
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type = 'purchase' AND e.value > 150.0
"""


@register("q_stream_static_join", oracle=_STREAM_STATIC_ORACLE)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment executed for real inside the gate: a
    file stream of purchase events joined per-micro-batch against the
    STATIC customer dimension (the canonical "enrich the event stream
    with reference data" pattern — fraud rules, user tiers, geo
    lookups). The static side is a plain batch DataFrame: Spark
    re-plans it into every micro-batch as a broadcast hash join, so
    the stream side never shuffles and no join state accumulates —
    unlike the stream-stream join there is nothing to watermark; the
    join is stateless and append-safe by construction.

    With availableNow the streamed append output equals the batch
    join, which is exactly what the oracle computes. Value travels as
    integer cents in the compared output (float-free hash).

    At 100 TB: the dimension broadcast is per-executor O(|dim|); for
    dimensions too big to broadcast, the scale path is the same query
    with the dimension bucketed on the join key so each micro-batch
    does a co-located join, or a state-store-backed
    stream-stream join with the dimension replayed as a CDC stream.
    """
    from end_to_end_aws_data_pipeline_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = cached_schema(spark, path)
    name = f"__stream_static_{next(_counter)}"
    src = normalize_event_ts(
        spark.readStream.schema(schema).parquet(stream_dir_for(path))
    )
    purchases = src.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 150.0)
    ).select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    dim = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    joined = purchases.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "c_name", "c_mktsegment", "value_c"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# ---------------------------------------------------------------------------
# transformWithState (Spark 4 State API v2) — the successor to
# applyInPandasWithState, executed for real inside the gate
# ---------------------------------------------------------------------------

_TWS_ORACLE = """
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_c,
       CAST(min(event_id) AS BIGINT) AS first_event_id
FROM events
GROUP BY user_id
"""


def _has_protobuf() -> bool:
    """transformWithState's Python worker hard-imports
    google.protobuf (pyspark.sql.streaming.proto.StateMessage_pb2);
    this sandbox ships pyspark without it and installs are out of
    scope, so the v2 query registers only where the dependency
    exists. The v1 stateful query (q_stream_stateful_user_aggs)
    carries the arbitrary-stateful contract either way."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def q_stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming through transformWithStateInPandas
    — Spark 4's State API v2 (SPARK-49770), the successor to
    applyInPandasWithState (which q_stream_stateful_user_aggs covers):
    typed per-key ValueState managed by a StatefulProcessor object,
    RocksDB state store, explicit init/handle/close lifecycle, timer
    support.

    A per-user processor keeps (n, total_cents, min_event_id) in a
    ValueState and emits the merged aggregate each batch; with
    availableNow the final emission per user equals the batch
    aggregate the oracle computes — same batch≡stream contract as the
    v1 query, proven on the newer API. Money rides as integer cents,
    so state merge order cannot change any value.

    At 100 TB-scale streams the v2 API is the one that matters:
    RocksDB-backed state spills beyond executor memory, TTL evicts
    cold keys, and per-key state is independent so the shuffle on
    user_id is the only data movement.
    """
    import pandas as _pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from end_to_end_aws_data_pipeline_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)

    class _UserAgg(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState(
                "agg", "n long, total_c long, first_event_id long"
            )

        def handleInputRows(self, key, rows, timer_values):
            n = 0
            tot = 0
            first = None
            for pdf in rows:
                n += len(pdf)
                tot += int(pdf["vc"].sum())
                m = int(pdf["event_id"].min())
                first = m if first is None else min(first, m)
            if self._st.exists():
                pn, pt, pf = self._st.get()
                n += pn
                tot += pt
                first = pf if first is None else min(first, pf)
            self._st.update((n, tot, first))
            yield _pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "n_events": [n],
                    "total_c": [tot],
                    "first_event_id": [first],
                }
            )

        def close(self) -> None:
            pass

    path = os.path.join(sf_dir, "events.parquet")
    schema = cached_schema(spark, path)
    name = f"__tws_{next(_counter)}"
    src = normalize_event_ts(
        spark.readStream.schema(schema).parquet(stream_dir_for(path))
    ).select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        out = src.groupBy("user_id").transformWithStateInPandas(
            _UserAgg(),
            outputStructType=(
                "user_id long, n_events long, total_c long, "
                "first_event_id long"
            ),
            outputMode="Update",
            timeMode="None",
        )
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )
    # update mode emits one row per (user, batch); keep each user's last
    out_tbl = spark.table(name)
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out_tbl.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


if _has_protobuf():  # pragma: no cover — env-bound (see _has_protobuf)
    register("q_stream_transform_with_state", oracle=_TWS_ORACLE)(
        q_stream_transform_with_state
    )


# ---------------------------------------------------------------------------
# custom Python streaming source executed in-gate
# ---------------------------------------------------------------------------

_PYDS_STREAM_N = 5000
_PYDS_STREAM_BATCH = 1700  # 3 uneven micro-batches (2×1700 + 1600): the
# conformance content — offset advancement, per-batch partition fan-out,
# an uneven tail batch — is identical at 3 batches, 4 and 8; each extra
# micro-batch is ~0.6 s of pure fixed cost in the suite

_PYDS_STREAM_ORACLE = f"""
WITH ev AS (
  SELECT range AS event_id,
         ['view','click','purchase','refund','idle'][range % 5 + 1] AS kind,
         (range * range) % 10000 AS value_cents
  FROM range(0, {_PYDS_STREAM_N})
)
SELECT kind,
       count(*) AS n_events,
       CAST(sum(value_cents) AS BIGINT) AS cents_checksum,
       CAST(min(event_id) AS BIGINT) AS first_id,
       CAST(max(event_id) AS BIGINT) AS last_id
FROM ev GROUP BY kind
"""


@register("q_stream_python_datasource", oracle=_PYDS_STREAM_ORACLE)
def q_stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A pure-Python STREAMING connector executed for real inside the
    gate: the custom data source's partitioned `streamReader` face
    (operators/sources.py — same registration serves spark.read and
    spark.readStream) advances a cursor offset 1700
    rows per micro-batch over 5000 deterministic events,
    and `partitions()`
    fans each micro-batch's offset range across multiple
    InputPartitions, so rows materialize in parallel tasks on
    executors rather than through one driver-side Python cursor (the
    SimpleDataSourceStreamReader twin remains reachable with
    option("reader_mode", "simple") and is restart-tested in
    tests/test_streaming.py).  The complete-mode aggregate after
    processAllAvailable must equal the DuckDB regeneration of the same
    arithmetic — so a dropped, duplicated, or re-ordered micro-batch
    OR partition breaks the hash, which is precisely the exactly-once
    contract (offset log + deterministic per-range replay) a
    Kafka-style source provides.

    This is the connector extension point for feeds Spark has no
    native reader for — internal APIs, bespoke binary logs — written
    entirely in Python and still getting checkpointed offsets,
    recovery replay, and per-partition parallel reads from the
    engine.
    """
    import tempfile

    from end_to_end_aws_data_pipeline_spark.operators.sources import (
        SyntheticEventsDataSource,
    )
    from end_to_end_aws_data_pipeline_spark.session import ensure_runtime_confs

    if SyntheticEventsDataSource is None:
        raise NotImplementedError("pyspark.sql.datasource requires Spark 4+")
    ensure_runtime_confs(spark)
    spark.dataSource.register(SyntheticEventsDataSource)
    name = f"__pyds_stream_{next(_counter)}"
    ev = (
        spark.readStream.format("synthetic_events")
        .option("n_rows", _PYDS_STREAM_N)
        .option("batch_rows", _PYDS_STREAM_BATCH)
        # 4 InputPartitions per micro-batch still proves executor-side
        # fan-out (4 parallel tasks × 3 micro-batches of
        # _PYDS_STREAM_BATCH=1700 rows); the default 8 doubled the
        # Python-worker task count — pure per-task overhead at
        # conformance size
        .option("stream_parts", 4)
        .load()
    )
    agg = ev.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_cents").cast("long").alias("cents_checksum"),
        F.min("event_id").cast("long").alias("first_id"),
        F.max("event_id").cast("long").alias("last_id"),
    )
    ckpt = tempfile.mkdtemp(prefix="pyds_stream_ckpt_")
    # a streaming aggregation keeps one state store per shuffle partition
    # per micro-batch; with |kinds| = 5 distinct keys, 32 partitions is
    # 27 empty state stores × 8 micro-batches of pure maintenance
    # overhead (measured: 9.5 s → 4.5 s at 4).  The count is fixed into
    # the checkpoint at query start, so right-size it to the STATE
    # cardinality, then restore the session's batch width.
    try:
        with shuffle_partitions(spark, 4):
            q = (
                agg.writeStream.outputMode("complete")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
    finally:
        # the memory-sink table holds the result; the offset/commit log
        # has served its purpose — don't leak one tmpdir per invocation
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


_STREAM_OHLC_ORACLE = """
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


@register("q_stream_ohlc", oracle=_STREAM_OHLC_ORACLE)
def q_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars through the streaming-capable builder (min_by/max_by
    aggregates instead of the batch twin's ranking windows — ranking
    never streams); tests drive the same builder under readStream →
    availableNow and assert equality with this batch execution. The
    oracle is the batch twin's: both forms must land on identical
    bars."""
    from end_to_end_aws_data_pipeline_spark.streaming.windows import ohlc_bars

    return ohlc_bars(table(spark, sf_dir, "events"))


_DEDUP_WM_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_unique,
       CAST(sum(event_id) AS BIGINT) AS id_checksum
FROM events GROUP BY event_type
"""


@register("q_stream_dedup_watermarked", oracle=_DEDUP_WM_ORACLE)
def q_stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup, EXECUTED in the gate: the stream
    is unioned with itself (every event delivered twice — the
    at-least-once redelivery model), watermarked 1 hour on event time,
    and deduplicated with ``dropDuplicatesWithinWatermark(event_id)``.
    The oracle is the plain batch distinct — counts and id checksums
    per type must come out as if no duplicate ever existed.

    Why WithinWatermark and not plain dropDuplicates: the plain
    variant keeps EVERY key ever seen in state — unbounded growth is
    the classic streaming-dedup production incident. WithinWatermark
    ages keys out once the watermark passes them, so state is bounded
    by (watermark span × arrival rate) at any stream length — the only
    dedup that survives an unbounded 100 TB/day stream. Downstream
    aggregation happens OUTSIDE the stream (the memory sink's rows are
    re-aggregated in batch) so the test pins exactly the dedup
    operator's emission, not a second stateful stage.
    """
    from end_to_end_aws_data_pipeline_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = cached_schema(spark, path)
    name = f"__stream_dedup_{next(_counter)}"
    src = spark.readStream.schema(schema).parquet(stream_dir_for(path))
    src = normalize_event_ts(src)
    doubled = src.unionAll(src)  # at-least-once: every row arrives twice
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    # right-size the stateful shuffle (the pyds lesson above): the gate
    # runs one availableNow pass whose live state is bounded by the
    # watermark span, and each state store carries fixed per-micro-batch
    # maintenance — 8 stores measured 2.3 s -> 1.4 s at sf0.1.  A
    # production deployment sizes this to watermark-span x arrival rate
    # instead; the count is fixed into the checkpoint at query start.
    with shuffle_partitions(spark, 4):
        (
            deduped.select("event_id", "event_type")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_unique"),
            F.sum("event_id").cast("long").alias("id_checksum"),
        )
    )
