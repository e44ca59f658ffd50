"""The merge_asof (Arrow) path must agree with the pure-JVM window path."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.catalog import table
from end_to_end_aws_data_pipeline_spark.operators.asof import asof_join
from tests.conftest import SF_SMOKE


def asof_join_pandas(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """The reference: :func:`asof_join`'s semantics via per-key
    ``cogroup`` + ``applyInPandas`` + ``pd.merge_asof``."""
    import pandas as pd

    keys = [on] if isinstance(on, str) else list(on)
    out_schema = left.schema.simpleString()[7:-1].replace(":", " ").replace(",", ", ")
    right_schema = {f.name: f.dataType.simpleString() for f in right.schema.fields}
    out_schema += ", " + ", ".join(f"{c} {right_schema[c]}" for c in value_cols)
    left_cols = list(left.columns)

    def _merge(pdf_l: pd.DataFrame, pdf_r: pd.DataFrame) -> pd.DataFrame:
        pdf_l = pdf_l.sort_values(left_ts, kind="mergesort")
        pdf_r = pdf_r.sort_values(right_ts, kind="mergesort")[
            [right_ts] + [c for c in value_cols if c != right_ts]
        ]
        merged = pd.merge_asof(
            pdf_l,
            pdf_r,
            left_on=left_ts,
            right_on=right_ts,
            direction="backward",
            suffixes=("", "__r"),
        )
        for c in value_cols:
            src = c if c in merged.columns else f"{c}__r"
            if src != c:
                merged[c] = merged[src]
        return merged[left_cols + value_cols]

    # cogroup: each key's left/right slices meet in one pandas call
    return (
        left.groupBy(*keys)
        .cogroup(right.groupBy(*keys))
        .applyInPandas(lambda l, r: _merge(l, r), schema=out_schema)
    )


def test_asof_pandas_equals_window_path(spark):
    e = table(spark, SF_SMOKE, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max("value").alias("click_value"))
    )
    kwargs = dict(
        on="user_id", left_ts="ts", right_ts="click_ts",
        value_cols=["click_ts", "click_value"],
    )
    window_path = {
        (r.event_id, r.click_ts, r.click_value)
        for r in asof_join(purchases, clicks, **kwargs).collect()
    }
    pandas_path = {
        (r.event_id, r.click_ts, r.click_value)
        for r in asof_join_pandas(purchases, clicks, **kwargs).collect()
    }
    assert window_path == pandas_path
    assert len(window_path) == purchases.count()
