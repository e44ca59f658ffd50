"""Round-13 optimization internals: overlap_jobs, the fused percentile
pass-1 bucketing, and the ROWS-frame pin in the stream RLE fold."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.plans.scale import overlap_jobs


class TestOverlapJobs:
    def test_results_in_call_order(self, spark):
        r = overlap_jobs(
            lambda: spark.range(10).count(),
            lambda: spark.range(5).count(),
            lambda: "c",
        )
        assert r == [10, 5, "c"]

    def test_exception_propagates(self, spark):
        def boom():
            raise RuntimeError("trainer failed")

        with pytest.raises(RuntimeError, match="trainer failed"):
            overlap_jobs(lambda: spark.range(3).count(), boom)

    def test_single_thunk_runs_inline(self, spark):
        assert overlap_jobs(lambda: 7) == [7]


class TestFusedPercentileBucketing:
    def test_bucket_key_monotone_in_v(self, spark):
        """The fused round-0 bucketing must be monotone in v: sorting
        rows by the key must equal sorting by value (ties allowed only
        within one key). Covers negatives, zero, denormal-ish tiny
        values, clamped huge values, and binade boundaries."""
        vals = sorted(
            [
                -1e300, -65536.0, -33.0, -1.0, -0.7, -1e-300, 0.0,
                1e-300, 5e-21, 0.0625, 0.9999999999999999, 1.0,
                1.0000000000000002, 1.5, 2.0, 31.999999999999996,
                32.0, 33.0, 50.0, 1e19, 1e300, float(2**63),
                math.nextafter(32.0, 0.0), math.nextafter(2.0, 0.0),
            ]
        )
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        av = F.abs(F.col("v"))
        e = F.greatest(F.lit(-64.0), F.least(F.lit(63.0), F.floor(F.log2(av))))
        sub = F.greatest(
            F.lit(0.0),
            F.least(
                F.lit(15.0),
                F.floor((av / F.pow(F.lit(2.0), e) - F.lit(1.0)) * 16),
            ),
        )
        mag = (e + F.lit(64.0)) * 16 + sub
        b0 = (
            F.when(F.col("v") == 0, F.lit(0.0))
            .when(F.col("v") > 0, mag + 1)
            .otherwise(-mag - 1)
            .cast("long")
        )
        rows = df.select("v", b0.alias("b0")).orderBy("v").collect()
        keys = [r["b0"] for r in rows]
        assert keys == sorted(keys), (
            f"bucket key not monotone in v: {list(zip([r['v'] for r in rows], keys))}"
        )

    def test_fused_equals_unfused(self, spark, monkeypatch):
        """Fused round-0 init and the plain pass-1 path must produce
        bit-identical percentiles (the fusion is a search-strategy
        change only)."""
        from end_to_end_aws_data_pipeline_spark.operators import percentiles
        from end_to_end_aws_data_pipeline_spark.operators.percentiles import (
            binned_exact_percentiles_multi,
        )

        rows = [
            ("a", float(i % 37) - 5.0, float(i) * 1.25)
            for i in range(4000)
        ] + [("b", 2.0**-40, -1e18)] * 50 + [("b", 0.0, 3.5)] * 50
        df = spark.createDataFrame(rows, "g string, x double, y double")
        specs = {"x": [0.25, 0.5, 0.9], "y": [0.5]}
        fused, fstats = binned_exact_percentiles_multi(
            df, "g", specs, collect_cap=16
        )
        # a constant bucket key is the plain pass 1
        monkeypatch.setattr(
            percentiles, "_bucket_key", lambda: F.lit(0).cast("long")
        )
        plain, pstats = binned_exact_percentiles_multi(
            df, "g", specs, collect_cap=16
        )
        assert fused == plain
        assert fstats == pstats


class TestRleRowsFramePin:
    """A replayed/at-least-once batch can contain duplicate
    (user_id, us, event_id) rows; the ROWS-pinned running sum of the
    shared RLE keeps a type change inside a tie group as a run
    boundary, where a RANGE frame makes the tied rows peers and merges
    the runs (ADVICE r12). The stream fold and the batch queries run
    the same RLE, so both paths are pinned on the same two rows."""

    ROWS = [(1, 7, "click"), (1, 7, "view")]  # same us + event_id

    def test_duplicate_tie_rows_stay_distinct_runs(self, spark):
        import datetime

        from end_to_end_aws_data_pipeline_spark.operators.rowpattern import (
            pattern_runs,
        )

        ts = datetime.datetime(2024, 1, 1, 0, 0, 0)
        bdf = spark.createDataFrame(
            [(u, ts, e, t) for u, e, t in self.ROWS],
            "user_id long, ts timestamp, event_id long, event_type string",
        )
        runs = pattern_runs(bdf).collect()
        assert len(runs) == 2, (
            "tied rows with different types must form two runs "
            f"(RANGE-frame merge regression): {runs}"
        )

    def test_batch_table_ties_stay_distinct_runs(self, spark, tmp_path):
        """The batch path reads the events table (TIMESTAMP(NANOS)
        parquet, normalized to µs by ``catalog.table``) and runs the
        same RLE; at a RANGE frame the two rows came back as one run."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from end_to_end_aws_data_pipeline_spark.catalog import table
        from end_to_end_aws_data_pipeline_spark.operators.rowpattern import (
            pattern_runs,
        )

        ns = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z
        pq.write_table(
            pa.table({
                "user_id": pa.array([u for u, _e, _t in self.ROWS], pa.int64()),
                "ts": pa.array([ns] * len(self.ROWS), pa.timestamp("ns")),
                "event_id": pa.array([e for _u, e, _t in self.ROWS], pa.int64()),
                "event_type": [t for _u, _e, t in self.ROWS],
            }),
            str(tmp_path / "events.parquet"),
        )
        runs = pattern_runs(table(spark, str(tmp_path), "events")).collect()
        assert sorted(r.etype for r in runs) == ["click", "view"], runs


def test_every_query_oracle_backed_except_known_two():
    """Pin the registry/oracle count delta (VERDICT r12 nit): exactly
    two queries are rows-only by design — engine-specific sketches with
    no replayable arithmetic. Any NEW query missing an oracle grows
    this set and must fail here, not silently widen the gap."""
    import __spark_entry__ as ent

    missing = set(ent.queries()) - set(ent.oracle_sql())
    assert missing == {"q_agg_approx", "q_ann_lsh_projection"}


