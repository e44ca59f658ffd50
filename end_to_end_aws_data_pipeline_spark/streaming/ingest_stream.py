"""Streaming ingest: the reference's event-driven loader (EP1,
SURVEY.md §3) as one Structured Streaming app.

A checkpointed file source replaces S3-event + SQS + DynamoDB gate:
Spark's source log records each processed file exactly once (subsumes
the watermark gate and the SQS dedup id, SURVEY.md §2.A rows 11, 13);
``foreachBatch`` applies the same body as the batch pipeline (the rows
without nulls go to the keyed upsert, whose key window collapses exact
duplicate rows), so replays after failure are idempotent — end-to-end
exactly-once effect without any of the reference's seven services.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.ingest.merge import merge_into_parquet


class StreamingIngest:
    """Upsert the ``<ingest_root>/<version_ts>/<Table>.csv`` arrivals not
    yet in the checkpoint into parquet tables under ``warehouse_dir``."""

    def __init__(
        self,
        spark: SparkSession,
        ingest_root: str,
        warehouse_dir: str,
        schema: str,
        keys: list[str],
        table_name: str,
    ):
        self.spark = spark
        self.ingest_root = ingest_root
        self.warehouse_dir = warehouse_dir
        self.schema = schema
        self.keys = keys
        self.table_name = table_name
        self.checkpoint = os.path.join(warehouse_dir, "_checkpoints", table_name)

    def _process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        # same body as the batch pipeline (ingest/pipeline.py): rows
        # without nulls → keyed upsert, which owns the dedup; idempotent,
        # so a replayed epoch is harmless
        if batch_df.isEmpty():
            return
        merge_into_parquet(
            self.spark,
            os.path.join(self.warehouse_dir, self.table_name),
            batch_df.drop("__source_file").na.drop("any"),
            self.keys,
        )

    def start(self):
        """Run the stream with the availableNow trigger: drain the
        pending files, then stop (the cron mode). Returns the finished
        query."""
        src = (
            self.spark.readStream.schema(self.schema)
            .option("header", True)
            .option("maxFilesPerTrigger", 1)  # per-delivery batches, FIFO
            .csv(os.path.join(self.ingest_root, "*", f"{self.table_name}.csv"))
            .withColumn("__source_file", F.input_file_name())
        )
        q = (
            src.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q
