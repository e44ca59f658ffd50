"""The driver builds its own SparkSession — engine queries must set the
confs they depend on at runtime (ns-parquet shim, UTC, Arrow)."""

from __future__ import annotations

from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.catalog import table
from end_to_end_aws_data_pipeline_spark.ingest.clean import clean, observe_audit
from end_to_end_aws_data_pipeline_spark.session import RUNTIME_REQUIRED_CONFS
from tests.conftest import SF_SMOKE


def test_table_read_restores_required_confs(spark):
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = table(spark, SF_SMOKE, "events")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert df.count() == 1000
    finally:
        for k, v in RUNTIME_REQUIRED_CONFS.items():
            spark.conf.set(k, v)


def test_observed_clean_counts_during_load(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (None, "c"), (1, "a")], schema="k int, v string"
    )
    observed, obs = observe_audit(df, "null_audit")
    cleaned = clean(observed)
    out = sorted(map(tuple, cleaned.collect()))  # the action drives the observe
    assert out == [(1, "a")]
    assert obs.get == {"n_rows": 4, "n_bad_rows": 2, "null:k": 1, "null:v": 1}
