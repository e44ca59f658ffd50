"""Accuracy contracts for the sketch-based aggregates (no DuckDB oracle
possible — sketches are engine-specific), asserted against their exact
twins on the same data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.catalog import table
from tests.conftest import SF_SMOKE


def test_approx_count_distinct_within_rsd(spark):
    li = table(spark, SF_SMOKE, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.05).alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
    ).first()
    assert abs(row.approx - row.exact) <= 0.15 * row.exact


def test_percentile_approx_close_to_exact(spark):
    li = table(spark, SF_SMOKE, "lineitem")
    row = li.agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact"),
    ).first()
    assert abs(row.approx - row.exact) <= 0.02 * row.exact


def test_guard_exact_percentile_refuses_big_groups(spark):
    from end_to_end_aws_data_pipeline_spark.operators.percentiles import (
        guard_exact_percentile,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    guard_exact_percentile(li, "l_returnflag")  # under default cap: fine
    with pytest.raises(ValueError, match="binned_exact_percentiles"):
        guard_exact_percentile(li, "l_returnflag", max_rows=100)


def test_binned_exact_matches_builtin_percentile(spark):
    """Tiny bins/cap force several histogram-refinement rounds; the
    result must still equal Spark's buffer-materializing exact
    percentile to the bit."""
    from pyspark.sql import functions as F

    from end_to_end_aws_data_pipeline_spark.operators.percentiles import (
        binned_exact_percentiles,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    ps = [0.25, 0.5, 0.95]
    got = binned_exact_percentiles(
        li, "l_returnflag", "l_extendedprice", ps, bins=8, collect_cap=16
    )
    want_rows = (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.25, 0.5, 0.95))"
            ).alias("p")
        )
        .collect()
    )
    for r in want_rows:
        for p, w in zip(ps, r["p"]):
            assert got[r["l_returnflag"]][p] == w, (r["l_returnflag"], p)


def test_binned_exact_nan_sorts_last(spark):
    """NaN sorts above every double (+inf and 1e300 included) in
    Spark's ordering; the fused pass-1 bucketing must keep it there,
    so every percentile — those landing on NaN too — equals Spark's
    exact ``percentile``. Tiny bins/cap force refinement rounds."""
    import math

    from pyspark.sql import functions as F

    from end_to_end_aws_data_pipeline_spark.operators.percentiles import (
        binned_exact_percentiles,
    )

    nan = float("nan")
    rows = (
        [("a", float(i)) for i in range(200)]
        + [("a", nan)] * 30
        + [("a", 1e300)] * 5
        + [("b", float(i)) for i in range(50)]
        + [("b", nan)] * 3
        + [("b", float("inf"))]
    )
    df = spark.createDataFrame(rows, "g: string, v: double")
    ps = [0.0, 0.1, 0.5, 0.85, 0.86, 0.9, 0.95, 1.0]
    got = binned_exact_percentiles(df, "g", "v", ps, bins=8, collect_cap=16)
    want = df.groupBy("g").agg(F.percentile("v", ps).alias("p")).collect()
    for r in want:
        for p, w in zip(ps, r["p"]):
            g = got[r["g"]][p]
            assert g == w or (math.isnan(g) and math.isnan(w)), (r["g"], p)
    assert got["a"][0.5] == 117.0 and math.isnan(got["a"][0.9])


def test_binned_exact_constant_and_duplicate_heavy(spark):
    """Stall fallback: intervals that cannot subdivide (constant values,
    two adjacent values) resolve by value-level counting."""
    from end_to_end_aws_data_pipeline_spark.operators.percentiles import (
        binned_exact_percentiles,
    )

    rows = [("a", 5.0)] * 100 + [("b", 1.0)] * 50 + [("b", 2.0)] * 50
    df = spark.createDataFrame(rows, "g: string, v: double")
    got = binned_exact_percentiles(df, "g", "v", [0.0, 0.5, 1.0],
                                   bins=4, collect_cap=8)
    assert got["a"] == {0.0: 5.0, 0.5: 5.0, 1.0: 5.0}
    assert got["b"][0.0] == 1.0 and got["b"][1.0] == 2.0
    assert got["b"][0.5] == 1.5  # interpolated across ranks 49/50


def test_binned_exact_long_group_keys(spark):
    """Group column type flows into the state-table schema — long keys
    must work, not just strings."""
    from end_to_end_aws_data_pipeline_spark.operators.percentiles import (
        binned_exact_percentiles,
    )

    df = spark.range(0, 3000).selectExpr(
        "id % 3 as g", "cast(id as double) as v"
    )
    got = binned_exact_percentiles(df, "g", "v", [0.5], bins=8, collect_cap=16)
    # group g holds values g, g+3, ..., g+2997: median = g + 3*499.5
    for g in (0, 1, 2):
        assert got[g][0.5] == g + 3 * 499.5


def test_binned_exact_group_cardinality_guard(spark):
    from end_to_end_aws_data_pipeline_spark.operators.percentiles import (
        binned_exact_percentiles,
    )

    df = spark.range(0, 100).selectExpr("id as g", "cast(id as double) as v")
    with pytest.raises(ValueError, match="groups"):
        binned_exact_percentiles(df, "g", "v", [0.5], max_groups=10)


def test_binned_exact_pass1_fetch_capped(spark):
    """The pass-1 fetch stops at max_groups · 4098 rows per column (a
    (column, group) fills at most 4098 buckets); one value per group
    makes each fetched row its own group, so the guard sees exactly
    the capped count. A grouping at the limit still matches Spark."""
    from pyspark.sql import functions as F

    from end_to_end_aws_data_pipeline_spark.operators.percentiles import (
        binned_exact_percentiles,
    )

    many = spark.range(0, 20_000).selectExpr(
        "id as g", "cast(id as double) as v"
    )
    with pytest.raises(ValueError, match=r"^at least 8197 groups \(> 2\)"):
        binned_exact_percentiles(many, "g", "v", [0.5], max_groups=2)

    two = spark.range(0, 4000).selectExpr(
        "id % 2 as g", "(id - 1500) * exp(id % 60) as v"
    )
    ps = [0.0, 0.1, 0.5, 0.9, 1.0]
    got = binned_exact_percentiles(
        two, "g", "v", ps, bins=8, collect_cap=16, max_groups=2
    )
    for r in two.groupBy("g").agg(F.percentile("v", ps).alias("p")).collect():
        for p, w in zip(ps, r["p"]):
            assert got[r["g"]][p] == w, (r["g"], p)


def test_hll_replayable_accuracy(spark):
    """The md5-register HLL (oracle-verifiable twin of the native
    HLL++): estimates land within the expected 1.04/sqrt(256) ~ 6.5%
    band (bound at 2.3 sigma; everything is deterministic so this can
    never flake), and the small-range linear-counting branch keeps the
    low-cardinality fixture accurate too (raw HLL overestimates 48%
    there; corrected lands ~1%)."""
    from end_to_end_aws_data_pipeline_spark.operators.percentiles import (
        q_agg_hll_distinct,
    )

    for sf in (SF_SMOKE, "/root/testdata/sf0.01"):
        rows = q_agg_hll_distinct(spark, sf).collect()
        assert len(rows) == 3
        for r in rows:
            assert abs(r.hll_parts - r.exact_parts) / r.exact_parts <= 0.15


def test_shared_hll_constants_reproduce_both_sketches():
    """The one replayable-HLL module reproduces, bit for bit, the
    constants its two former copies injected into Spark and DuckDB:
    HyperANF's m = 64 sketch (small-m alpha 0.709) and the m = 256
    distinct/merge/rolling sketches (alpha formula). The ln tables are
    pinned by the md5 of their repr, the text the oracles embed."""
    import hashlib

    from end_to_end_aws_data_pipeline_spark.functions import hll

    assert (hll.WBITS, hll.CAP) == (56, 48)
    assert repr(hll.num(64)) == "8.174213467662545e+17"
    assert repr(hll.num(256)) == "1.3249790702834051e+19"
    for m, digest, first, last_nonzero in (
        (64, "89af22d1082086ac866b7009d2009e93",
         "4.1588830833596715", "0.015748356968139112"),
        (256, "f3de8ec4b020d9c5699fef301eef47ae",
         "5.545177444479562", "0.003913899321136315"),
    ):
        tab = hll.lntab(m)
        assert len(tab) == m and tab[-1] == 0.0
        assert (repr(tab[0]), repr(tab[-2])) == (first, last_nonzero)
        assert hashlib.md5(repr(tab).encode()).hexdigest() == digest
