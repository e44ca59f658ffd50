"""Generated classes keep their names across runs.

Whole-stage class names carry the codegen stage id, and adaptive
execution numbers stages in the order they materialize, so a rerun of an
identical stage could get different source and miss the generated-code
cache. ``get_spark`` turns the id out of the class name; a warm rerun
then compiles (almost) nothing."""

from __future__ import annotations

from end_to_end_aws_data_pipeline_spark import registry
from end_to_end_aws_data_pipeline_spark.cache import release_all
from end_to_end_aws_data_pipeline_spark.session import codegen_compiles
from tests.conftest import SF_SMOKE


def _run(spark, name: str) -> None:
    try:
        registry.queries()[name](spark, SF_SMOKE).write.format("noop").mode(
            "overwrite"
        ).save()
    finally:
        release_all()


def test_get_spark_drops_the_stage_id_from_class_names(spark):
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_warm_rerun_compiles_at_most_two_classes(spark):
    # the query with the most warm compiles before the setting (24-30)
    _run(spark, "q_etl_referential_integrity")
    before = codegen_compiles(spark)
    _run(spark, "q_etl_referential_integrity")
    assert codegen_compiles(spark) - before <= 2
