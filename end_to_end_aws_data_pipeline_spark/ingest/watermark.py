"""Incremental-load watermarks: the reference's DynamoDB nested-map
state (ref: second_lambda_function.py:42-88 read/gate,
delta_load.py:204-265 advance) as a small parquet state table +
relational gate.

Semantics preserved exactly:
- per table, only a *strictly newer* version timestamp is processed
  (equal/older skipped — ref second_lambda_function.py:76);
- the watermark advances only after a successful load (ref
  delta_load.py:49-53), so failures replay (at-least-once), and the
  keyed upsert downstream makes the replay idempotent (exactly-once
  effect end-to-end).

The state table is tiny (one row per table name) and, like the
reference's DynamoDB item, is a key-value lookup: ``get`` and
``advance`` read and write it on the driver with pyarrow and launch no
Spark job. The directory keeps the layout Spark writes (parquet part
files, ``table_name string, folder_ts bigint``), so a state directory
Spark wrote stays readable and ``read()`` hands Spark the same rows for
the relational gate (a broadcast left join + filter on arriving work).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.ingest.merge import recover_dir, replace_dir

SCHEMA = "table_name string, folder_ts long"
_ARROW_SCHEMA = pa.schema([("table_name", pa.string()), ("folder_ts", pa.int64())])


class WatermarkStore:
    """Parquet-backed watermark state (`_ingest_watermarks`)."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.state_dir = state_dir

    def _state(self) -> dict[str, int]:
        recover_dir(self.state_dir)
        if not os.path.exists(self.state_dir):
            return {}
        # the dataset's default ignore-prefixes skip Spark's _SUCCESS
        # marker and .crc checksums, as Spark's own listing does
        t = ds.dataset(self.state_dir, format="parquet", schema=_ARROW_SCHEMA).to_table()
        return dict(zip(t["table_name"].to_pylist(), t["folder_ts"].to_pylist()))

    def read(self) -> DataFrame:
        return self.spark.createDataFrame(list(self._state().items()), schema=SCHEMA)

    def get(self, table_name: str) -> int | None:
        return self._state().get(table_name)

    def advance(self, table_name: str, folder_ts: int) -> None:
        """Monotonic upsert of one table's watermark (never moves backward)."""
        state = self._state()
        current = state.get(table_name)
        if current is not None and current >= folder_ts:
            return
        state[table_name] = folder_ts
        table = pa.table(
            {"table_name": list(state), "folder_ts": list(state.values())},
            schema=_ARROW_SCHEMA,
        )

        def write(tmp_dir: str) -> None:
            os.makedirs(tmp_dir)
            pq.write_table(table, os.path.join(tmp_dir, "part-00000.parquet"))

        replace_dir(self.state_dir, write)


def gate_strictly_newer(
    incoming: DataFrame,
    watermarks: DataFrame,
    key_col: str,
    ts_col: str,
    wm_key_col: str = "table_name",
    wm_ts_col: str = "folder_ts",
) -> DataFrame:
    """Keep incoming rows strictly newer than their key's watermark
    (rows with no watermark pass — first delivery).

    Batch-relational form of the reference's DynamoDB gate; the
    watermark side is small → broadcast join, zero shuffle of the
    incoming side.
    """
    wm = F.broadcast(
        watermarks.select(
            F.col(wm_key_col).alias("__wm_key"), F.col(wm_ts_col).alias("__wm_ts")
        )
    )
    return (
        incoming.join(wm, incoming[key_col] == wm["__wm_key"], "left")
        .filter(F.col("__wm_ts").isNull() | (F.col(ts_col) > F.col("__wm_ts")))
        .drop("__wm_key", "__wm_ts")
    )
