"""The synthetic-codec multimodal queries share one Arrow-native pass,
``multimodal.per_doc``: a ``mapInArrow`` over the spread doc_ids in
which ``rows_of(doc_id)`` yields zero or more result rows per document.

Checked here: the pass emits exactly the rows ``rows_of`` yields,
including batches that yield none; each of the twelve queries plans one
``MapInArrow`` and no ``MapInPandas``; and the module keeps one
``mapInArrow`` call, with ``mapInPandas`` left only in
``extract_features`` (the one map that reads payload columns)."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from end_to_end_aws_data_pipeline_spark import registry
from end_to_end_aws_data_pipeline_spark.catalog import table
from end_to_end_aws_data_pipeline_spark.operators import multimodal
from end_to_end_aws_data_pipeline_spark.operators.multimodal import per_doc
from end_to_end_aws_data_pipeline_spark.plans.explain import physical_plan
from tests.conftest import SF_SMOKE

PER_DOC_QUERIES = [
    f"q_multimodal_{q}"
    for q in (
        "decode", "decode_jpeg", "decode_gif", "resize", "phash_dedup",
        "img_histogram", "patches", "video_scenes", "audio_features",
        "audio_frames", "audio_resample", "audio_vad",
    )
]


def _fanout(doc_id: int) -> int:
    """0, 1 or 5 rows per document."""
    return (0, 1, 5)[doc_id % 3]


def _rows_of(doc_id):
    for k in range(_fanout(doc_id)):
        yield doc_id, k, f"{doc_id}.{k}"


def test_per_doc_emits_what_rows_of_yields(spark):
    ids = [r.doc_id for r in table(spark, SF_SMOKE, "documents").collect()]
    assert {_fanout(d) for d in ids} == {0, 1, 5}
    df = per_doc(spark, SF_SMOKE, "doc_id long, k int, tag string", _rows_of)
    assert df.schema.simpleString() == "struct<doc_id:bigint,k:int,tag:string>"
    got = sorted(tuple(r) for r in df.collect())
    assert got == sorted(r for d in ids for r in _rows_of(d))


def test_per_doc_batches_with_no_rows(spark):
    df = per_doc(spark, SF_SMOKE, "doc_id long, k int", lambda doc_id: iter(()))
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert df.collect() == []
    assert df.columns == ["doc_id", "k"]


@pytest.mark.parametrize("name", PER_DOC_QUERIES)
def test_query_plans_one_map_in_arrow(spark, name):
    plan = physical_plan(registry.queries()[name](spark, SF_SMOKE))
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan, plan


def test_map_calls_in_the_module():
    path = Path(multimodal.__file__)
    src = path.read_text()
    assert src.count("mapInArrow(") == 1
    tree = ast.parse(src)
    holders = {
        n.name
        for n in tree.body
        if isinstance(n, ast.FunctionDef)
        and "mapInPandas" in ast.get_source_segment(src, n)
    }
    assert holders == {"extract_features"}
    assert src.count("mapInPandas") == sum(
        ast.get_source_segment(src, n).count("mapInPandas")
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name in holders
    )
