"""Spark jobs per streaming drain.

A streaming ingest micro-batch launches its emptiness probe and its
merge's jobs: the merge's key window is its only dedup and it reads the
table's schema from the parquet footers.

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
from end_to_end_aws_data_pipeline_spark.streaming.ingest_stream import StreamingIngest
from end_to_end_aws_data_pipeline_spark.streaming.pattern import (
    run_pattern_stream_rle,
    staged_time_dir,
)
from tests.conftest import SF_SMOKE

# measured on a clean drain of the 4 staged chunks (4 local cores,
# 4 shuffle partitions); equal across repeated runs. Batch 0 folds into
# an empty local state frame, whose join the optimizer prunes
_RLE_JOBS = 18
_ANN_JOBS = 20
# StreamingIngest, 3 deliveries: an emptiness probe per micro-batch,
# then 2 jobs per merge (shuffle, write), the first write included
_INGEST_JOBS = 3 * 1 + 3 * 2


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


# three deliveries of (K, V): exact duplicate rows, null rows, and keys
# that later deliveries update
_DELIVERIES = [
    "K,V\n1,a\n2,b\n2,b\n3,\n",
    "K,V\n2,c\n4,d\n,e\n4,d\n",
    "K,V\n1,f\n5,\n5,g\n",
]


def _ingest_model() -> dict[int, str]:
    """The table the deliveries should leave: rows with a null dropped,
    then per key the latest delivery's row."""
    table: dict[int, str] = {}
    for text in _DELIVERIES:
        for line in text.splitlines()[1:]:
            k, v = line.split(",")
            if k and v:
                table[int(k)] = v
    return table


def test_streaming_ingest_drain_jobs(spark, tmp_path):
    """A 3-delivery availableNow drain of ``StreamingIngest``: per
    micro-batch the emptiness probe and the merge's own jobs, no dedup
    shuffle and no schema-inference job; the table equals the model."""
    root = tmp_path / "in"
    for i, text in enumerate(_DELIVERIES):
        d = root / f"20250101_00000{i}"
        d.mkdir(parents=True)
        (d / "T.csv").write_text(text)
        os.utime(d / "T.csv", (1_700_000_000 + i, 1_700_000_000 + i))  # delivery order

    def drain(wh):
        StreamingIngest(spark, str(root), wh, "K long, V string", ["K"], "T").start()

    jobs = _warm_drain_jobs(spark, tmp_path, drain)
    got = spark.read.parquet(str(tmp_path / "counted" / "T")).collect()
    assert sorted((r.K, r.V) for r in got) == sorted(_ingest_model().items())
    assert jobs == _INGEST_JOBS
