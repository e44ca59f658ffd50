"""Spark jobs per streaming drain.

A snapshot-store fold reads its predecessor snapshot with an explicit
schema, so no footer-sampling job runs per micro-batch, and writes each
snapshot as one bucketed write. These tests pin the job count of one
clean drain of each snapshot-store fold over the smoke fixture: a new
job per batch (an inferred read, a second write, an extra probe) shows
as a changed count. Jobs are counted by Spark's job-id sequence, since
micro-batch jobs run under the stream's own job group, over the second
of two drains, so process-level caches warmed by the first (schemas,
the frozen quantizer's inputs) do not make the count depend on which
tests ran before."""

from __future__ import annotations

import os

from end_to_end_aws_data_pipeline_spark.streaming.ann_index import (
    run_ann_index_stream,
    staged_vec_dir,
)
from end_to_end_aws_data_pipeline_spark.streaming.pattern import (
    run_pattern_stream_rle,
    staged_time_dir,
)
from tests.conftest import SF_SMOKE

# measured on a clean drain of the 4 staged chunks (4 local cores,
# 4 shuffle partitions); equal across repeated runs
_RLE_JOBS = 20
_ANN_JOBS = 21


def _warm_drain_jobs(spark, tmp_path, drain) -> int:
    """Jobs of the second of two clean drains, each into a new store."""
    drain(str(tmp_path / "warm"))
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    drain(str(tmp_path / "counted"))
    return dag.numTotalJobs() - before


def test_rle_drain_jobs(spark, tmp_path):
    staged = staged_time_dir(os.path.join(SF_SMOKE, "events.parquet"))
    jobs = _warm_drain_jobs(
        spark,
        tmp_path,
        lambda store: run_pattern_stream_rle(spark, staged, store),
    )
    assert jobs == _RLE_JOBS


def test_ann_index_drain_jobs(spark, tmp_path):
    staged = staged_vec_dir(os.path.join(SF_SMOKE, "embeddings.parquet"))
    jobs = _warm_drain_jobs(
        spark,
        tmp_path,
        lambda store: run_ann_index_stream(spark, SF_SMOKE, staged, store),
    )
    assert jobs == _ANN_JOBS
