"""The ingest control plane launches no Spark jobs: watermarks are read
and written on the driver, and a merge's row count comes from parquet
footers. Pins the exact per-delivery job count, the watermark store's
format compatibility and crash safety, and the footer count."""

from __future__ import annotations

import itertools
import os

import pytest

from end_to_end_aws_data_pipeline_spark.ingest.merge import (
    footer_row_count,
    merge_into_parquet,
)
from end_to_end_aws_data_pipeline_spark.ingest.pipeline import IngestPipeline
from end_to_end_aws_data_pipeline_spark.ingest.watermark import SCHEMA, WatermarkStore

_groups = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched), read from the status
    store through a job group of its own."""
    sc = spark.sparkContext
    group = f"job-budget-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(tmp_path, folder, text):
    d = tmp_path / "ingest" / folder
    d.mkdir(parents=True, exist_ok=True)
    p = d / "T.csv"
    p.write_text(text, encoding="utf-8")
    return str(p)


# Spark jobs of one delivery: (first write, steady state with a null
# row, steady state without one). A first write and a whole-table merge
# run 2 (the shuffle before the write, the write); a partition-scoped
# merge 4 (2 more to look up the partitions it touches); a null row
# adds the audit's sample job.
_DELIVERY_JOBS = {None: (2, 3, 2), "shard": (2, 5, 4)}


@pytest.mark.parametrize("partition_by", [None, "shard"])
def test_delivery_job_budget(spark, tmp_path, partition_by):
    """A delivery launches exactly its merge's jobs, plus one sample job
    when a row holds a null: the CSV head, the base table's schema, the
    null counts, the watermark and the row count launch none. A replay
    the gate skips launches none."""
    pipe = IngestPipeline(
        spark,
        str(tmp_path / "wh"),
        keys_by_table={"T": ["k"]},
        schema_policy="reference",
        partition_by_table={"T": partition_by} if partition_by else None,
    )
    first, with_null, without_null = _DELIVERY_JOBS[partition_by]
    p1 = _write(tmp_path, "20250101_000001", "k,v,shard\n1,a,1\n2,b,1\n3,c,2\n")
    p2 = _write(tmp_path, "20250101_000002", "k,v,shard\n1,A,1\n4,d,2\n5,,3\n")
    # no null; an exact duplicate row, which the merge collapses
    p3 = _write(tmp_path, "20250101_000003", "k,v,shard\n1,B,1\n6,e,2\n6,e,2\n")

    res, n_jobs = _jobs(spark, lambda: pipe.ingest_file(p1))
    assert (res.status, res.n_rows_written, n_jobs) == ("loaded", 3, first)

    res, n_jobs = _jobs(spark, lambda: pipe.ingest_file(p2))
    assert (res.status, res.n_rows_written, res.audit.n_bad_rows) == ("loaded", 4, 1)
    assert n_jobs == with_null, f"a delivery with a null row launched {n_jobs} Spark jobs"

    res, n_jobs = _jobs(spark, lambda: pipe.ingest_file(p3))
    assert (res.status, res.n_rows_written, res.audit.n_bad_rows) == ("loaded", 5, 0)
    assert n_jobs == without_null, f"a delivery without nulls launched {n_jobs} Spark jobs"

    res, n_jobs = _jobs(spark, lambda: pipe.ingest_file(p3))
    assert res.status == "skipped_not_newer"
    assert n_jobs == 0, f"a gated replay launched {n_jobs} Spark jobs"
    rows = {(r.k, r.v) for r in spark.read.parquet(pipe.table_dir("T")).collect()}
    assert rows == {(1, "B"), (2, "b"), (3, "c"), (4, "d"), (6, "e")}


def test_watermark_store_reads_spark_written_state(spark, tmp_path):
    """A state directory written by Spark (with its _SUCCESS marker and
    .crc checksums) is read as is, and advances keep the other rows."""
    state = str(tmp_path / "_ingest_watermarks")
    spark.createDataFrame([("A", 5), ("B", 7)], schema=SCHEMA).coalesce(1).write.parquet(state)
    assert os.path.exists(os.path.join(state, "_SUCCESS"))
    store = WatermarkStore(spark, state)
    assert (store.get("A"), store.get("B"), store.get("C")) == (5, 7, None)

    store.advance("A", 6)
    assert (store.get("A"), store.get("B")) == (6, 7)
    assert sorted(map(tuple, spark.read.parquet(state).collect())) == [("A", 6), ("B", 7)]


def test_watermark_advance_is_monotonic(spark, tmp_path):
    store = WatermarkStore(spark, str(tmp_path / "wm"))
    assert store.get("T") is None
    store.advance("T", 10)
    files = sorted(os.listdir(store.state_dir))
    mtimes = [os.path.getmtime(os.path.join(store.state_dir, f)) for f in files]
    for ts in (10, 9):  # equal or older: no-op, nothing rewritten
        store.advance("T", ts)
        assert store.get("T") == 10
    assert sorted(os.listdir(store.state_dir)) == files
    assert [os.path.getmtime(os.path.join(store.state_dir, f)) for f in files] == mtimes
    store.advance("T", 11)
    assert store.get("T") == 11


def test_watermark_read_matches_get(spark, tmp_path):
    store = WatermarkStore(spark, str(tmp_path / "wm"))
    assert store.read().collect() == []
    assert store.read().schema.simpleString() == "struct<table_name:string,folder_ts:bigint>"
    for name, ts in [("A", 3), ("B", 20250101000001), ("A", 4)]:
        store.advance(name, ts)
    got = {r.table_name: r.folder_ts for r in store.read().collect()}
    assert got == {"A": store.get("A"), "B": store.get("B")} == {"A": 4, "B": 20250101000001}


def test_watermark_advance_survives_interrupted_swap(spark, tmp_path):
    """Leftover staging directories from an interrupted advance do not
    break the next one; a crash between the swap's two renames (table
    parked at .__merge_old, none in place) rolls back to the parked
    state instead of reopening the gate."""
    state = str(tmp_path / "wm")
    store = WatermarkStore(spark, state)
    store.advance("T", 1)
    # debris of an advance killed mid-write / mid-cleanup
    os.makedirs(state + ".__merge_tmp")
    (tmp_path / "wm.__merge_tmp" / "part-00000.parquet").write_bytes(b"torn")
    os.makedirs(state + ".__merge_old")
    store.advance("T", 2)
    assert store.get("T") == 2
    assert not os.path.exists(state + ".__merge_tmp")
    assert not os.path.exists(state + ".__merge_old")

    os.replace(state, state + ".__merge_old")  # killed between the renames
    assert store.get("T") == 2
    store.advance("T", 3)
    assert store.get("T") == 3
    assert not os.path.exists(state + ".__merge_old")


def test_whole_table_merge_recovers_parked_table(spark, tmp_path):
    """A merge after a crash between the swap's renames merges into the
    parked table instead of treating the target as a first write."""
    target = str(tmp_path / "t")
    merge_into_parquet(spark, target, spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), ["k"])
    os.replace(target, target + ".__merge_old")
    upd = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    assert merge_into_parquet(spark, target, upd, ["k"]) == 3
    assert {(r.k, r.v) for r in spark.read.parquet(target).collect()} == {(1, "a"), (2, "B"), (3, "c")}


def test_footer_count_matches_spark_count(spark, tmp_path):
    """The footer count equals spark.read.parquet(..).count() on the
    first-write partitionBy path (with a null partition), after a
    partition-scoped merge, and on the whole-table path; Spark's _SUCCESS
    and .crc files are not counted."""
    target = str(tmp_path / "p")
    base = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", None), (3, "c", None), (4, "d", "d2")],
        "k int, v string, dt string",
    )
    assert merge_into_parquet(spark, target, base, keys=["k"], partition_by="dt") == 4
    assert os.path.isdir(os.path.join(target, "dt=__HIVE_DEFAULT_PARTITION__"))
    names = [n for _, _, files in os.walk(target) for n in files]
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    assert footer_row_count(target) == spark.read.parquet(target).count() == 4

    upd = spark.createDataFrame([(1, "A", "d1"), (5, "e", "d3")], "k int, v string, dt string")
    assert merge_into_parquet(spark, target, upd, keys=["k"], partition_by="dt") == 5
    assert footer_row_count(target) == spark.read.parquet(target).count() == 5

    whole = str(tmp_path / "w")
    merge_into_parquet(spark, whole, base, keys=["k"])
    assert merge_into_parquet(spark, whole, upd, keys=["k"]) == 5
    assert footer_row_count(whole) == spark.read.parquet(whole).count() == 5
    assert footer_row_count(str(tmp_path / "absent")) == 0

    # a partition directory may start with "_" ("__shard=1"); Spark lists it
    under = str(tmp_path / "u")
    merge_into_parquet(spark, under, base.withColumnRenamed("dt", "__shard"), ["k"], "__shard")
    assert footer_row_count(under) == spark.read.parquet(under).count() == 4
