"""Table catalog over the parquet testdata layout.

One parquet file/dir per table under an ``sf_dir``
(see TESTDATA.md): ``region nation customer supplier part orders
lineitem events documents embeddings``.

At cluster scale the same API fronts partitioned parquet/lakehouse
directories — `spark.read.parquet` gives partition pruning, predicate
pushdown and column pruning for free, so *all* engine operators receive
pruned scans without bespoke code.

Driver-built rows enter plans only through ``local_frame``: they go in
as a ``pyarrow.Table``, so the frame plans as ``LocalTableScan`` and
executing it starts no Python worker.
"""

from __future__ import annotations

import os
import tempfile

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def scratch_root() -> str:
    """Where derived and staged files go: the temp dir (``TMPDIR``)."""
    return tempfile.gettempdir()


# Parquet schema cache, keyed by (realpath, mtime). Schema inference
# reads footers on the DRIVER on every `spark.read.parquet` call —
# measured 80 ms/call vs 12.5 ms with an explicit schema at sf0.1; at
# ~300 table() calls per bench pass that is ~20 s of pure repeated
# footer reads. The mtime key invalidates on rewrite (parquet writers
# create new files, bumping the parent mtime), so test fixtures that
# overwrite a path re-infer. At cluster scale the same role is played
# by a metastore/lakehouse catalog schema.
_SCHEMA_CACHE: dict = {}


def _cached_schema(spark: SparkSession, path: str):
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = -1.0
    key = (os.path.realpath(path), mtime)
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        sch = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = sch
    return sch


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one canonical table as a DataFrame (lazy parquet scan).

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark
    reads only as a raw nanosecond long (``nanosAsLong`` conf, set in
    session.py). Convert it here to a microsecond TimestampType so
    every downstream operator sees a real timestamp column. The
    conversion is FLOOR division in pure integer math (`div` truncates
    toward zero, which would round pre-1970 nanos the wrong way;
    float-based floor() would lose precision past 2^53 ns ≈ 1970+104d).
    """
    from end_to_end_aws_data_pipeline_spark.session import ensure_runtime_confs

    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(_cached_schema(spark, path)).parquet(path)
    if name == "events":
        df = normalize_event_ts(df)
    return df


def arrow_batch(rows, schema: pa.Schema) -> pa.RecordBatch:
    """Row tuples (in ``schema``'s column order) as one Arrow batch,
    each column converted straight to its field's type."""
    cols = list(zip(*rows)) or [()] * len(schema)
    arrays = [pa.array(c, type=f.type) for c, f in zip(cols, schema)]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """Driver rows (tuples in ``ddl``'s column order) as a DataFrame.

    The one way driver-side rows enter a plan. The rows go in as a
    ``pyarrow.Table`` built with the DDL's Arrow schema, so the frame
    plans as ``LocalTableScan`` and executing it starts no Python
    worker. A Python list handed to ``createDataFrame`` plans as a scan
    of a Python RDD instead, which starts workers on every execution."""
    schema = DataType.fromDDL(ddl)
    batch = arrow_batch(rows, to_arrow_schema(schema))
    return spark.createDataFrame(pa.Table.from_batches([batch]), schema)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the ``events.ts`` column to a session-TZ TimestampType
    regardless of how the parquet writer stored it. Works on batch AND
    streaming DataFrames (only inspects the analyzed schema):

    - ``bigint``: TIMESTAMP(NANOS) parquet read under ``nanosAsLong`` —
      floor-divide to µs (`div` truncates toward zero, which would round
      pre-1970 nanos the wrong way; float floor() loses precision past
      2^53 ns ≈ 1970+104d).
    - ``timestamp_ntz``: a µs-precision writer without UTC adjustment —
      cast to the session-TZ timestamp every operator expects (session
      TZ is pinned UTC, so this is a pure type change, not a clock
      shift).
    - ``timestamp``: already canonical; no-op.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000"))
        )
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's default parallelism —
    use before CPU-bound per-row stages (codecs, matmul batches,
    shingle/token explodes) whose input may be an unsplittable scan.

    The sf test corpora are single parquet files with ONE row group, so
    their scans cannot split below one task no matter what
    ``maxPartitionBytes`` says — without this, a Pandas-UDF or explode
    stage runs on one core of 32. At production scale the source is
    many splittable files and this becomes a cheap rebalance (and
    protects against the same pathology from a skewed/compacted
    upstream writer). Row-wise + keyed-aggregate consumers only:
    round-robin placement is not deterministic, so anything
    partition-order-sensitive must key its own repartition instead."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view (for the SQL surface)."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
