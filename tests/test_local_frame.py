"""Driver rows enter a plan one way: ``catalog.local_frame``.

The frame is built from a ``pyarrow.Table``, so it plans as
``LocalTableScan`` and starts no Python worker, and it equals the frame
``createDataFrame`` builds from the same Python list: same schema,
nullability included, and same rows."""

from __future__ import annotations

import re
from pathlib import Path

import numpy as np
import pytest

import end_to_end_aws_data_pipeline_spark as pkg
from end_to_end_aws_data_pipeline_spark import registry
from end_to_end_aws_data_pipeline_spark.cache import release_all
from end_to_end_aws_data_pipeline_spark.catalog import local_frame
from end_to_end_aws_data_pipeline_spark.plans.explain import physical_plan
from tests.conftest import SF_SMOKE
from tests.plan_checks import python_rdd_scans

_DDL = "a long, b double, c boolean, d string, e array<long>"

CASES = {
    "mixed": ([(1, 2.5, True, "x", [1, 2]), (2, None, False, None, [])], _DDL),
    "empty": ([], _DDL),
    "numpy_scalars": (
        [(np.int64(3), np.float64(1.5), np.bool_(True)), (np.int64(-4), np.float64(-0.25), None)],
        "a long, b double, c boolean",
    ),
    "int_and_colon_ddl": ([("N", 7, 1.0), ("R", None, 2.0)], "g: string, n: int, x: double"),
}


def _plain(rows):
    """The same rows with numpy scalars unboxed, as a list frame needs."""
    return [tuple(v.item() if isinstance(v, np.generic) else v for v in r) for r in rows]


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("arrow_conf", ["true", "false"])
@pytest.mark.parametrize("name", sorted(CASES))
def test_local_frame_equals_the_list_frame(spark, name, arrow_conf):
    rows, ddl = CASES[name]
    key = "spark.sql.execution.arrow.pyspark.enabled"
    spark.conf.set(key, arrow_conf)
    try:
        got = local_frame(spark, rows, ddl)
        want = spark.createDataFrame(_plain(rows), ddl)
        assert got.schema == want.schema
        assert _sorted_rows(got) == _sorted_rows(want)
    finally:
        spark.conf.set(key, "true")


def test_local_frame_plans_a_local_table_scan(spark):
    df = local_frame(spark, [(1, "x")], "k long, v string")
    assert "LocalTableScan" in physical_plan(df)
    assert python_rdd_scans(df) == []


def test_python_rdd_scans_finds_a_list_frame(spark):
    listed = spark.createDataFrame([(1, "x")], "k long, v string")
    assert len(python_rdd_scans(listed)) == 1
    assert len(python_rdd_scans(listed.join(listed, "k"))) == 2
    # a materialized checkpoint cuts the lineage: executing it reads the
    # checkpoint's blocks and starts no worker
    assert python_rdd_scans(listed.localCheckpoint(eager=True)) == []


@pytest.mark.parametrize(
    "name", ["q_graph_kcore", "q_graph_mis", "q_graph_hits", "q_dedup_clusters_star"]
)
def test_basket_plans_scan_no_python_rdd(spark, name):
    try:
        assert python_rdd_scans(registry.queries()[name](spark, SF_SMOKE)) == []
    finally:
        release_all()


def test_create_dataframe_is_called_only_in_local_frame():
    root = Path(pkg.__file__).parent
    calls = [
        (str(p.relative_to(root)), n)
        for p in sorted(root.rglob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if re.search(r"createDataFrame\(", line)
    ]
    assert len(calls) == 1, calls
    path, line = calls[0]
    src = (root / path).read_text().splitlines()
    enclosing = next(
        s for s in reversed(src[:line]) if re.match(r"def \w+", s)
    )
    assert (path, enclosing.split("(")[0]) == ("catalog.py", "def local_frame")
