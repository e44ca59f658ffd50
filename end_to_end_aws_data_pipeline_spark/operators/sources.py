"""Source-format operators: CSV / JSON(L) scans through the correctness
gate, proving format round-trips preserve values (SURVEY.md §2.B
scans/sources rows; generalizes the reference's CSV-only ingestion,
ref delta_load.py:62-66).

Each query materializes a deterministic derived file from the
canonical parquet (``catalog.stage``: once per input table file, by
path, size and mtime, and per package code), scans it back through the
format under test, and aggregates — the oracle
computes the same aggregate straight from parquet, so any loss or
mangling in the write→scan round-trip breaks the hash match.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.catalog import stage, table
from end_to_end_aws_data_pipeline_spark.functions.aggs import dsum, dsum_sql
from end_to_end_aws_data_pipeline_spark.registry import register


def _staged(spark: SparkSession, sf_dir: str, name: str, tag: str, write: Callable) -> str:
    """The dir ``write(df, out_dir)`` stages from table ``name``."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return stage(tag, [path], lambda out: write(table(spark, sf_dir, name), out))


def _ensure_nation_csv(spark: SparkSession, sf_dir: str) -> str:
    def write(t: DataFrame, out: str) -> None:
        t.coalesce(1).write.mode("overwrite").option("header", True).csv(out)

    return _staged(spark, sf_dir, "nation", "csv", write)


def _ensure_orders_jsonl(spark: SparkSession, sf_dir: str) -> str:
    def write(t: DataFrame, out: str) -> None:
        # project to types JSON round-trips exactly (longs + strings)
        t.select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            # NTZ → LTZ (session is UTC) → epoch seconds
            F.col("o_orderdate").cast("timestamp").cast("long").alias("order_epoch"),
        ).coalesce(2).write.mode("overwrite").json(out)

    return _staged(spark, sf_dir, "orders", "json", write)


_CSV_ORACLE = """
SELECT n_regionkey, count(*) AS n_nations,
       string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation
GROUP BY n_regionkey
"""


@register("q_source_csv_scan", oracle=_CSV_ORACLE)
def q_source_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet → CSV(header) → schema'd distributed scan → aggregate;
    value-level equality with the parquet original is the check."""
    path = _ensure_nation_csv(spark, sf_dir)
    df = (
        spark.read.option("header", True)
        .schema("n_nationkey int, n_name string, n_regionkey int")
        .csv(path)
    )
    return df.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
    )


_JSON_ORACLE = f"""
SELECT o_orderstatus,
       count(*) AS n_orders,
       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
       CAST(max(epoch(o_orderdate)) AS BIGINT) AS max_epoch
FROM orders
GROUP BY o_orderstatus
"""


@register("q_source_json_scan", oracle=_JSON_ORACLE)
def q_source_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet → JSONL → schema'd scan → aggregate (schema-on-read, no
    inference pass — the production posture for JSON at scale)."""
    path = _ensure_orders_jsonl(spark, sf_dir)
    df = spark.read.schema(
        "o_orderkey long, o_custkey long, o_orderstatus string, order_epoch long"
    ).json(path)
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
        F.max("order_epoch").alias("max_epoch"),
    )


def _ensure_lineitem_orc(spark: SparkSession, sf_dir: str) -> str:
    def write(t: DataFrame, out: str) -> None:
        # partitioned sink: one directory per l_returnflag value, so the
        # scan side can show partition pruning on an ORC source too.
        # repartition on (partition column, bounded salt) first: each
        # task owns whole partition values — no 3×32 small-file spray or
        # dynamic-partition sort — but each value still lands as up to
        # 8 files, so the later SCAN parallelizes past |distinct values|
        # tasks (one-file-per-value capped the sf1 read at 3 tasks:
        # measured 7.3× on the 10× step before, 1.x after)
        t.select(
            "l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"
        ).repartition(
            F.col("l_returnflag"), F.pmod(F.col("l_orderkey"), F.lit(8))
        ).write.mode("overwrite").partitionBy(
            "l_returnflag"
        ).orc(out)

    return _staged(spark, sf_dir, "lineitem", "orc", write)


_ORC_ORACLE = f"""
SELECT l_returnflag,
       count(*) AS n_rows,
       CAST(sum(l_orderkey) AS BIGINT) AS key_checksum,
       {dsum_sql("l_quantity", 2)} AS sum_qty,
       {dsum_sql("l_extendedprice", 2)} AS sum_price
FROM lineitem
GROUP BY l_returnflag
"""


@register("q_source_orc_scan", oracle=_ORC_ORACLE)
def q_source_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet → partitioned ORC sink → ORC scan → aggregate: the other
    columnar format Spark ships natively (Avro is an external jar, not
    available offline — documented gap). Values must survive the format
    round-trip exactly for the hash to match the parquet-side oracle;
    the partitionBy(l_returnflag) layout keeps the partition column
    prunable on read."""
    path = _ensure_lineitem_orc(spark, sf_dir)
    df = spark.read.orc(path)
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_orderkey").cast("long").alias("key_checksum"),
        dsum("l_quantity", 2).alias("sum_qty"),
        dsum("l_extendedprice", 2).alias("sum_price"),
    )


_BINFILE_N = 24  # staged image files: bounded, deterministic

_BINFILE_ORACLE = f"""
SELECT doc_id,
       CAST((4 + doc_id % 29) * (4 + (doc_id // 7) % 23) * 3 + 54
            + CASE WHEN ((4 + doc_id % 29) * 3) % 4 = 0 THEN 0
              ELSE (4 + (doc_id // 7) % 23) * (4 - ((4 + doc_id % 29) * 3) % 4)
              END AS BIGINT) AS n_bytes,
       CAST(3 * list_sum(list_transform(
             range(0, (4 + doc_id % 29) * (4 + (doc_id // 7) % 23)),
             i -> (i % (4 + doc_id % 29) + i // (4 + doc_id % 29) + doc_id)
                  % 256)) AS BIGINT) AS pixel_sum
FROM documents WHERE doc_id < {_BINFILE_N}
"""


@register("q_source_binaryfile_scan", oracle=_BINFILE_ORACLE)
def q_source_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's `binaryFile` source — how a multimodal corpus actually
    enters the engine from an object store (one row per file: path,
    length, content bytes) — feeding the pure-python BMP decoder.

    Staging: the first 24 documents are rendered as real BMP files on
    disk (deterministic gradient, same derivation as
    q_multimodal_decode); the scan reads them back via binaryFile,
    extracts doc_id from the file name, and decodes content to
    pixel_sum. The oracle recomputes byte size (54-byte header + padded
    BGR rows) and pixel sum arithmetically.
    """
    import numpy as np

    from end_to_end_aws_data_pipeline_spark.operators.multimodal import (
        gradient,
        decode_image,
        encode_bmp,
    )

    def build(out: str) -> None:
        for doc_id in range(_BINFILE_N):
            pix = np.repeat(gradient(doc_id)[:, :, None], 3, axis=2)
            with open(os.path.join(out, f"doc_{doc_id:05d}.bmp"), "wb") as f:
                f.write(encode_bmp(pix))

    # the images derive from doc_id alone: no input, one dir for every sf_dir
    out = stage("binfile", [], build)
    files = spark.read.format("binaryFile").load(out + "/*.bmp")

    def _decode(it):
        for pdf in it:
            ids, sums = [], []
            for path, content in zip(pdf["path"], pdf["content"]):
                ids.append(int(path.rsplit("doc_", 1)[1].split(".")[0]))
                img = decode_image(bytes(content))
                sums.append(int(img.astype(np.int64).sum()))
            import pandas as pd

            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_bytes": pdf["length"].astype("int64"),
                    "pixel_sum": pd.Series(sums, dtype="int64"),
                }
            )

    return files.select("path", "length", "content").mapInPandas(
        _decode, schema="doc_id long, n_bytes long, pixel_sum long"
    )


# ---------------------------------------------------------------------------
# custom Python DataSource (PySpark 4 datasource API)
# ---------------------------------------------------------------------------

_PYDS_ROWS = 50_000
_PYDS_PARTS = 16
_PYDS_KINDS = ("view", "click", "purchase", "refund", "idle")

try:  # PySpark >= 4.0
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceStreamReader,
        InputPartition,
        SimpleDataSourceStreamReader,
    )

    class _EventRange(InputPartition):
        def __init__(self, start: int, end: int):
            self.start, self.end = start, end

    class SyntheticEventsReader(DataSourceReader):
        """Deterministic synthetic telemetry: every field is pure
        arithmetic on event_id, so a SQL oracle over generate_series
        reproduces the source exactly."""

        def __init__(self, options):
            self.n_rows = int(options.get("n_rows", _PYDS_ROWS))
            self.n_parts = int(options.get("n_parts", _PYDS_PARTS))

        def partitions(self):
            step = max(1, -(-self.n_rows // self.n_parts))
            return [
                _EventRange(i, min(i + step, self.n_rows))
                for i in range(0, self.n_rows, step)
            ]

        def read(self, partition):
            for eid in range(partition.start, partition.end):
                yield _event_row(eid)

    def _event_row(eid: int):
        return (
            eid,
            (eid * 48271) % 9973,
            _PYDS_KINDS[eid % 5],
            1_700_000_000 + (eid * 37) % 604_800,
            (eid * eid) % 10_000,
        )

    class SyntheticEventsStreamReader(SimpleDataSourceStreamReader):
        """Streaming face of the same source: a cursor offset advances
        ``batch_rows`` per micro-batch until ``n_rows`` is exhausted,
        after which empty batches signal caught-up (processAllAvailable
        terminates). ``readBetweenOffsets`` replays any offset range
        deterministically — exactly-once on failure recovery comes from
        the offset log + deterministic regeneration, the same contract
        a Kafka offset range gives a JVM source."""

        def __init__(self, options):
            self.n_rows = int(options.get("n_rows", _PYDS_ROWS))
            self.batch_rows = int(options.get("batch_rows", 1000))

        def initialOffset(self):
            return {"cursor": 0}

        def read(self, start):
            cur = int(start["cursor"])
            end = min(cur + self.batch_rows, self.n_rows)
            return iter(
                [_event_row(eid) for eid in range(cur, end)]
            ), {"cursor": end}

        def readBetweenOffsets(self, start, end):
            return iter(
                [
                    _event_row(eid)
                    for eid in range(int(start["cursor"]), int(end["cursor"]))
                ]
            )

    class SyntheticEventsPartitionedStreamReader(DataSourceStreamReader):
        """Scale-out streaming face: the full DataSourceStreamReader
        API, where `partitions(start, end)` splits every micro-batch's
        offset range into ``stream_parts`` InputPartitions, each read
        by its own Spark task ON EXECUTORS — unlike
        SimpleDataSourceStreamReader, whose `read` runs a single
        Python cursor on the driver and caps ingest at one core no
        matter the cluster size.  This is the shape a 100 TB feed
        needs: offset planning on the driver (tiny), row
        materialization fanned across the cluster, exactly-once from
        the offset log + deterministic per-range regeneration.

        The cursor lives in driver memory for this bounded in-gate
        feed; a durable deployment would recover it from the
        checkpointed offset the way `commit(end)` observes it (a Kafka
        source gets this for free from the offset log)."""

        def __init__(self, options):
            self.n_rows = int(options.get("n_rows", _PYDS_ROWS))
            self.batch_rows = int(options.get("batch_rows", 1000))
            self.stream_parts = int(options.get("stream_parts", 8))
            self._cursor = 0

        def initialOffset(self):
            return {"cursor": 0}

        def latestOffset(self):
            self._cursor = min(self._cursor + self.batch_rows, self.n_rows)
            return {"cursor": self._cursor}

        def partitions(self, start, end):
            s, e = int(start["cursor"]), int(end["cursor"])
            # clamp backwards/empty ranges (restart before the in-memory
            # cursor catches up) to an empty batch rather than a bad task
            if e <= s:
                return []
            step = max(1, -(-(e - s) // self.stream_parts))
            return [
                _EventRange(i, min(i + step, e)) for i in range(s, e, step)
            ]

        def read(self, partition):
            for eid in range(partition.start, partition.end):
                yield _event_row(eid)

        def commit(self, end):
            self._cursor = max(self._cursor, int(end["cursor"]))

    class SyntheticEventsDataSource(DataSource):
        """PySpark-4 custom Python data source: the extension point for
        feeds Spark has no native connector for (internal APIs, bespoke
        binary logs). Partition planning happens in `partitions()` —
        each InputPartition becomes one Spark task, so reads
        parallelize across executors like any native source. The SAME
        registration serves batch (`spark.read`) and streaming
        (`spark.readStream`): streaming gets the partitioned
        DataSourceStreamReader by default, or the driver-side
        SimpleDataSourceStreamReader conformance twin with
        ``option("reader_mode", "simple")`` (raising
        PySparkNotImplementedError from streamReader() is Spark's
        documented fallback trigger — datasource_internal._streamReader)."""

        @classmethod
        def name(cls):
            return "synthetic_events"

        def schema(self):
            return (
                "event_id long, user_id long, kind string, "
                "ts_epoch long, value_cents long"
            )

        def reader(self, schema):
            return SyntheticEventsReader(self.options)

        def streamReader(self, schema):
            if self.options.get("reader_mode", "").lower() == "simple":
                from pyspark.errors import PySparkNotImplementedError

                raise PySparkNotImplementedError(
                    errorClass="NOT_IMPLEMENTED",
                    messageParameters={"feature": "streamReader"},
                )
            return SyntheticEventsPartitionedStreamReader(self.options)

        def simpleStreamReader(self, schema):
            return SyntheticEventsStreamReader(self.options)

except ImportError:  # pragma: no cover — pre-4.0 PySpark
    SyntheticEventsDataSource = None


_PYDS_ORACLE = f"""
WITH ev AS (
  SELECT range AS event_id,
         (range * 48271) % 9973 AS user_id,
         ['view','click','purchase','refund','idle'][range % 5 + 1] AS kind,
         1700000000 + (range * 37) % 604800 AS ts_epoch,
         (range * range) % 10000 AS value_cents
  FROM range(0, {_PYDS_ROWS})
)
SELECT kind,
       count(*) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(value_cents) AS BIGINT) AS cents_checksum,
       CAST(max(ts_epoch) AS BIGINT) AS max_epoch
FROM ev GROUP BY kind
"""


@register("q_source_python_datasource", oracle=_PYDS_ORACLE)
def q_source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource end-to-end: register → read → aggregate.
    One Spark task per InputPartition (16-way parallel read); the
    oracle regenerates the same rows from generate_series, so the whole
    partition-planning + reader path is value-checked, not just smoke-
    tested."""
    if SyntheticEventsDataSource is None:
        raise NotImplementedError("pyspark.sql.datasource requires Spark 4+")
    spark.dataSource.register(SyntheticEventsDataSource)
    ev = spark.read.format("synthetic_events").load()
    return ev.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.sum("value_cents").alias("cents_checksum"),
        F.max("ts_epoch").alias("max_epoch"),
    )


# ---------------------------------------------------------------------------
# XML source (built-in in Spark 4: the spark-xml package was merged
# upstream — SPARK-44265), exercised parquet → XML → schema'd scan
# ---------------------------------------------------------------------------


def _ensure_supplier_xml(spark: SparkSession, sf_dir: str) -> str:
    def write(t: DataFrame, out: str) -> None:
        # types that XML round-trips exactly: longs + strings (acctbal
        # travels as integer cents, not a float lexical form)
        t.select(
            "s_suppkey",
            "s_name",
            "s_nationkey",
            F.round(F.col("s_acctbal") * 100).cast("long").alias("acctbal_c"),
        ).coalesce(2).write.mode("overwrite").format("xml").option(
            "rootTag", "suppliers"
        ).option("rowTag", "supplier").save(out)

    return _staged(spark, sf_dir, "supplier", "xml", write)


_XML_ORACLE = """
SELECT s_nationkey,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(sum(s_suppkey) AS BIGINT) AS key_checksum,
       CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS acctbal_c_sum
FROM supplier
GROUP BY s_nationkey
"""


@register("q_source_xml_scan", oracle=_XML_ORACLE)
def q_source_xml_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source scan through Spark 4's built-in XML data source
    (spark-xml merged upstream, SPARK-44265): parquet → XML files
    (rowTag=supplier) → schema'd distributed read → aggregate, with
    value-level equality against the parquet original as the check.

    Schema-on-read with an explicit schema (no sampling inference
    pass) is the production posture, same as the CSV/JSON twins.
    Money travels as integer cents so the round-trip is exact — XML
    has no numeric type system, so floats would depend on lexical
    formatting. At 100 TB the XML reader parallelizes per file (and
    within a file when rows are newline-separable); the aggregate
    after the scan is the standard partial+final shape.
    """
    path = _ensure_supplier_xml(spark, sf_dir)
    df = (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema(
            "s_suppkey long, s_name string, s_nationkey long, acctbal_c long"
        )
        .load(path)
    )
    return df.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("s_suppkey").cast("long").alias("key_checksum"),
        F.sum("acctbal_c").cast("long").alias("acctbal_c_sum"),
    )


# ---------------------------------------------------------------------------
# malformed-CSV handling (PERMISSIVE mode + corrupt-record column)
# ---------------------------------------------------------------------------


def _ensure_malformed_csv(spark: SparkSession, sf_dir: str) -> str:
    """Deterministically corrupt every 5th supplier row (non-numeric
    text in the integer nationkey column) so the corrupt-row set is
    derivable from the clean table by arithmetic."""
    def write(t: DataFrame, out: str) -> None:
        t.select(
            "s_suppkey",
            "s_name",
            F.when(F.col("s_suppkey") % 5 == 0, F.lit("notanint"))
            .otherwise(F.col("s_nationkey").cast("string"))
            .alias("s_nationkey"),
        ).coalesce(2).write.mode("overwrite").option("header", True).csv(out)

    return _staged(spark, sf_dir, "supplier", "csvbad", write)


_CSV_MALFORMED_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN s_suppkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_corrupt,
       CAST(sum(CASE WHEN s_suppkey % 5 = 0 THEN 0 ELSE 1 END) AS BIGINT)
         AS n_good,
       CAST(sum(CASE WHEN s_suppkey % 5 <> 0 THEN s_nationkey ELSE 0 END)
            AS BIGINT) AS nationkey_checksum,
       CAST(sum(CASE WHEN s_suppkey % 5 = 0 THEN s_suppkey ELSE 0 END)
            AS BIGINT) AS corrupt_key_checksum
FROM supplier
"""


@register("q_source_csv_malformed", oracle=_CSV_MALFORMED_ORACLE)
def q_source_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input handling on the CSV source — the production
    posture for dirty feeds: PERMISSIVE mode with an explicit
    `columnNameOfCorruptRecord`, so a bad row becomes (nulls + the
    raw line preserved in the corrupt column) instead of a job abort
    (FAILFAST) or a silent drop (DROPMALFORMED). Every 5th supplier
    row carries a non-numeric nationkey; the query audits good/corrupt
    counts and checksums BOTH populations — the corrupt rows by key
    (their suppkey still parses), the good rows by the value that had
    to survive parsing. The oracle derives all of it arithmetically
    from the clean table, so any row misclassified by the reader
    breaks the hash.

    At 100 TB this is the difference between one bad upstream export
    quarantining a table and one bad export killing the nightly load:
    corrupt rows flow to a dead-letter sink (here: counted and
    checksummed), good rows flow through, and the scan stays a
    parallel schema'd read with no inference pass.
    """
    path = _ensure_malformed_csv(spark, sf_dir)
    df = (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .schema("s_suppkey long, s_name string, s_nationkey long, _corrupt string")
        .csv(path)
    )
    is_bad = F.col("_corrupt").isNotNull()
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(is_bad, 1).otherwise(0)).cast("long").alias("n_corrupt"),
        F.sum(F.when(is_bad, 0).otherwise(1)).cast("long").alias("n_good"),
        F.sum(F.when(~is_bad, F.col("s_nationkey")).otherwise(0))
        .cast("long")
        .alias("nationkey_checksum"),
        F.sum(F.when(is_bad, F.col("s_suppkey")).otherwise(0))
        .cast("long")
        .alias("corrupt_key_checksum"),
    )


# ---------------------------------------------------------------------------
# parquet schema evolution (mergeSchema read over mixed-schema batches)
# ---------------------------------------------------------------------------


def _ensure_evolving_parquet(spark: SparkSession, sf_dir: str) -> str:
    """Two parquet batches of the orders table with different schemas:
    batch 1 (keys % 2 = 0) has (okey, price_c); batch 2 (% 2 = 1) adds
    a `priority` column — the additive-column evolution every
    long-lived lakehouse table goes through."""
    def write(o: DataFrame, out: str) -> None:
        base = o.select(
            F.col("o_orderkey").alias("okey"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
            F.col("o_orderpriority").alias("priority"),
        )
        base.filter(F.col("okey") % 2 == 0).drop("priority").coalesce(
            2
        ).write.mode("overwrite").parquet(os.path.join(out, "batch1"))
        base.filter(F.col("okey") % 2 == 1).coalesce(2).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "batch2"))

    return _staged(spark, sf_dir, "orders", "evolve", write)


_MERGE_SCHEMA_ORACLE = """
SELECT coalesce(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END,
                '<pre-evolution>') AS priority,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS price_checksum
FROM orders
GROUP BY 1
"""


@register("q_source_parquet_merge_schema", oracle=_MERGE_SCHEMA_ORACLE)
def q_source_parquet_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the parquet source: two batches of the same
    table written under DIFFERENT schemas (the second adds a column),
    read back as one DataFrame with `mergeSchema=true` — Spark unions
    the footers' schemas and fills the missing column with NULL for
    pre-evolution files, which the query surfaces as an explicit
    '<pre-evolution>' bucket. The oracle reconstructs the same view
    from the original table by parity, so a reader that dropped
    pre-evolution rows, misaligned columns, or defaulted the new
    column wrongly breaks the hash.

    Scale note: mergeSchema reads EVERY file footer at planning time —
    fine per-batch, expensive over millions of files; the production
    posture is a table format (or an explicit unified schema, as the
    other source queries use) once the schema stabilizes. That trade
    is the point this query pins.
    """
    root = _ensure_evolving_parquet(spark, sf_dir)
    df = spark.read.option("mergeSchema", True).parquet(
        os.path.join(root, "batch1"), os.path.join(root, "batch2")
    )
    return (
        df.select(
            F.coalesce(F.col("priority"), F.lit("<pre-evolution>")).alias(
                "priority"
            ),
            "okey",
            "price_c",
        )
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("okey").cast("long").alias("key_checksum"),
            F.sum("price_c").cast("long").alias("price_checksum"),
        )
    )
