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

import functools
import glob
import hashlib
import os
import re
import shutil
import tempfile
from collections.abc import Callable

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


@functools.cache
def _code_digest() -> str:
    """sha1 of every ``*.py`` file of the package, read once per process.

    Staged data is keyed by the whole package, not by the function
    that writes it: a writer's behaviour also lives in the helpers it
    reaches through imports, methods and attribute calls, which no
    per-function fingerprint follows reliably. The cost is that any
    edit restages every staged input."""
    root = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha1()
    for p in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(p, root).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _inputs_digest(inputs: list[str]) -> str:
    """sha1 of the sorted (path, size, mtime) of every file under each
    input, a file or a directory."""
    h = hashlib.sha1()
    for top in inputs:
        top = os.path.abspath(top)
        files = [top] if os.path.isfile(top) else [
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs
        ]
        for p in sorted(files):
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def stage(tag: str, inputs: list[str], build: Callable[[str], None]) -> str:
    """The staged dir that ``build(out_dir)`` writes from ``inputs``.

    The dir is ``staged_<tag>_<inputs>_<code>`` under ``scratch_root()``,
    keyed by the input files (see ``_inputs_digest``) and the package
    code (``_code_digest``), so a rewritten input or an edited writer
    restages instead of reading an older build. A dir holding its
    ``_STAGED`` marker is returned as is. Otherwise ``build`` runs in a
    private ``.tmp.<pid>`` dir, which is marked and renamed into place:
    two processes staging one key never see a partial dir, and the
    rename's loser adopts the winner's dir. A dir without its marker is
    a crashed build; it is cleared, never read. Once a build lands, the
    complete dirs of the same tag and inputs left by other code are
    deleted."""
    root = scratch_root()
    ins = _inputs_digest(inputs)[:12]
    d = os.path.join(root, f"staged_{tag}_{ins}_{_code_digest()[:12]}")
    done = os.path.join(d, "_STAGED")
    if os.path.exists(done):
        return d
    # two processes of one key can both miss the marker: an in-place
    # build would let one clear the dir while the other is mid-write
    tmp = f"{d}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_STAGED"), "w").close()
    if os.path.isdir(d) and not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
    try:
        os.rename(tmp, d)
    except OSError:
        # another process renamed its complete dir in first
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(done):
            raise
    old = re.compile(rf"staged_{re.escape(tag)}_{ins}_[0-9a-f]{{12}}")
    for name in os.listdir(root):
        p = os.path.join(root, name)
        if p != d and old.fullmatch(name) and os.path.exists(os.path.join(p, "_STAGED")):
            shutil.rmtree(p, ignore_errors=True)
    return d


# Parquet schema cache, keyed by (realpath, mtime). Schema inference
# reads footers on the DRIVER on every `spark.read.parquet` call —
# measured 80 ms/call vs 12.5 ms with an explicit schema at sf0.1; at
# ~300 table() calls per bench pass that is ~20 s of pure repeated
# footer reads. The mtime key invalidates on rewrite (parquet writers
# create new files, bumping the parent mtime), so test fixtures that
# overwrite a path re-infer. At cluster scale the same role is played
# by a metastore/lakehouse catalog schema.
_SCHEMA_CACHE: dict = {}


def cached_schema(spark: SparkSession, path: str):
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
    df = spark.read.schema(cached_schema(spark, path)).parquet(path)
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


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the canonical tables and register each as a temp view (for
    the SQL surface)."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
