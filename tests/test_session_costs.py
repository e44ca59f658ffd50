"""Per-call costs that depend on no data are paid once per session.

``get_spark`` sizes Spark's generated-code cache for the engine's
working set, so a warm rerun of a query reuses its compiled classes,
and turns off PySpark's DataFrame debugging, so a Column call no longer
walks the Python stack to record its call site. These tests count both
on the driver_loops basket queries and on one ingest delivery."""

from __future__ import annotations

import pytest
from pyspark.errors import ArithmeticException
from pyspark.errors import utils as errors_utils
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark import registry
from end_to_end_aws_data_pipeline_spark.cache import release_all
from end_to_end_aws_data_pipeline_spark.ingest.pipeline import IngestPipeline
from end_to_end_aws_data_pipeline_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    codegen_compiles,
)
from tests.conftest import SF_SMOKE

_BASKET = ("q_graph_kcore", "q_graph_mis", "q_graph_hits", "q_dedup_clusters_star")

# adaptive execution sometimes replans one stage of a warm run, which
# compiles a few new classes (seen: 4, in q_graph_hits or
# q_dedup_clusters_star); a cache smaller than the basket recompiles ~210
_WARM_COMPILES = 8


def _run_basket(spark) -> None:
    qs = registry.queries()
    for name in _BASKET:
        try:
            qs[name](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
        finally:
            release_all()


@pytest.fixture
def call_sites(monkeypatch):
    """The depth of every Python call site PySpark captures."""
    calls: list[int] = []
    capture = errors_utils._capture_call_site

    def counted(depth: int) -> str:
        calls.append(depth)
        return capture(depth)

    monkeypatch.setattr(errors_utils, "_capture_call_site", counted)
    return calls


def test_get_spark_sets_both_confs(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_codegen_compiles_counts_a_new_class(spark):
    before = codegen_compiles(spark)
    # a literal no earlier plan used makes the generated source new
    spark.range(3).selectExpr(f"id * {before + 7919} AS x").collect()
    assert codegen_compiles(spark) > before


def test_warm_basket_reuses_generated_classes(spark):
    _run_basket(spark)
    before = codegen_compiles(spark)
    _run_basket(spark)
    assert codegen_compiles(spark) - before <= _WARM_COMPILES


def test_call_site_counter_sees_captures(spark, monkeypatch, call_sites):
    """With debugging on, a Column call captures its call site: the
    zero counts below are read by a counter that works."""
    monkeypatch.setattr(errors_utils, "_enable_debugging_cache", True)
    F.col("k").isNull()
    assert call_sites


@pytest.mark.parametrize("name", ["q_graph_mis", "q_dedup_clusters_star"])
def test_query_build_captures_no_call_site(spark, call_sites, name):
    try:
        registry.queries()[name](spark, SF_SMOKE)
    finally:
        release_all()
    assert call_sites == []


def test_ingest_delivery_captures_no_call_site(spark, tmp_path, call_sites):
    folder = tmp_path / "ingest" / "20250102_000001"
    folder.mkdir(parents=True)
    (folder / "T.csv").write_text("k,v\n1,a\n2,\n3,c\n")
    pipe = IngestPipeline(
        spark, str(tmp_path / "wh"), keys_by_table={"T": ["k"]}, notifier=lambda e: None
    )
    assert pipe.ingest_file(str(folder / "T.csv")).status == "loaded"
    assert call_sites == []


def test_errors_keep_their_class_without_a_call_site(spark):
    """An error keeps its class and text; its ``== DataFrame ==`` context
    no longer names the Python line that built the failing column."""
    with pytest.raises(ArithmeticException) as err:
        spark.range(1).select(F.col("id") / F.lit(0)).collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
    assert "Division by zero" in str(err.value)
    assert __file__ not in str(err.value)
