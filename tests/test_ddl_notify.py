"""Catalog probe / DDL sink / notification hooks / credentials
(SURVEY.md §2.A rows 6-7, 16-17)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from end_to_end_aws_data_pipeline_spark.ingest.credentials import get_sink_credentials
from end_to_end_aws_data_pipeline_spark.ingest.ddl import (
    create_table_if_not_exists,
    table_exists,
)
from end_to_end_aws_data_pipeline_spark.ingest.pipeline import IngestPipeline


def test_catalog_probe_and_ddl_sink(spark):
    schema = T.StructType(
        [
            T.StructField("Id", T.LongType()),
            T.StructField("Name", T.StringType()),
            T.StructField("Score", T.DoubleType()),
        ]
    )
    name = "t_ddl_probe"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    assert not table_exists(spark, name)
    assert create_table_if_not_exists(spark, name, schema) is True
    assert table_exists(spark, name)
    # second call: no-op, schema frozen (first write wins)
    assert create_table_if_not_exists(spark, name, schema) is False
    spark.sql(f"DROP TABLE {name}")


def test_pipeline_emits_notifications(spark, tmp_path):
    d = tmp_path / "in" / "20250101_000000"
    d.mkdir(parents=True)
    (d / "T.csv").write_text("K,V\n1,a\n2,\n")  # one null row
    events = []
    pipe = IngestPipeline(
        spark, str(tmp_path / "wh"), keys_by_table={"T": ["K"]},
        notifier=events.append,
    )
    pipe.ingest_file(str(d / "T.csv"))
    kinds = [e.kind for e in events]
    assert kinds == ["null_rows", "success"]
    assert events[0].payload["n_bad_rows"] == 1
    assert events[0].payload["sample"][0]["K"] == 2
    assert events[1].payload["n_rows_written"] == 1


def test_credentials_resolution(spark, monkeypatch):
    for k in ("host", "port", "database", "username", "password"):
        monkeypatch.delenv(f"ENGINE_SINK_{k.upper()}", raising=False)
    with pytest.raises(KeyError):
        get_sink_credentials(spark)
    monkeypatch.setenv("ENGINE_SINK_HOST", "db.example")
    monkeypatch.setenv("ENGINE_SINK_PORT", "3306")
    monkeypatch.setenv("ENGINE_SINK_DATABASE", "DATASETS")
    monkeypatch.setenv("ENGINE_SINK_USERNAME", "u")
    monkeypatch.setenv("ENGINE_SINK_PASSWORD", "p")
    creds = get_sink_credentials(spark)
    assert creds.port == 3306
    assert creds.jdbc_url == "jdbc:mysql://db.example:3306/DATASETS"
