"""Edge cases for library operators not fully covered by the registry
queries: bucketized range join with misaligned intervals, Python data
source partitioning."""

from __future__ import annotations

from end_to_end_aws_data_pipeline_spark.operators.asof import bucketed_range_join


def test_bucketed_range_join_misaligned_intervals(spark):
    """Intervals spanning multiple buckets and points on boundaries must
    match the naive non-equi join exactly."""
    points = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([0, 99, 100, 250, 499, 500, 750, 999])],
        "pid int, x double",
    )
    ivs = spark.createDataFrame(
        [
            ("narrow", 90.0, 110.0),  # inside one bucket + neighbor
            ("wide", 50.0, 850.0),  # spans many buckets
            ("edge", 500.0, 501.0),  # starts exactly on a boundary
            ("empty", 1200.0, 1300.0),
        ],
        "name string, lo double, hi double",
    )
    got = {
        (r.pid, r.name)
        for r in bucketed_range_join(points, ivs, "x", "lo", "hi", bucket_width=100.0).collect()
    }
    naive = {
        (r.pid, r.name)
        for r in points.join(
            ivs, (points.x >= ivs.lo) & (points.x < ivs.hi)
        ).collect()
    }
    assert got == naive
    assert (5, "edge") in got  # x=500.0 ∈ [500, 501)
    assert all(n != "empty" for _, n in got)


def test_python_datasource_partition_parallelism(spark):
    """Each InputPartition of the custom Python data source becomes one
    Spark task — the read parallelizes like a native source."""
    from end_to_end_aws_data_pipeline_spark.operators.sources import (
        SyntheticEventsDataSource,
    )

    spark.dataSource.register(SyntheticEventsDataSource)
    ev = spark.read.format("synthetic_events").options(
        n_rows="1000", n_parts="8"
    ).load()
    assert ev.rdd.getNumPartitions() == 8
    assert ev.count() == 1000
    # deterministic content: same read twice is identical
    a = sorted(r.event_id for r in ev.limit(50).collect())
    assert len(a) == 50
