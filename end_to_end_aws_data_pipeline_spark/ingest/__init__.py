"""ETL-parity package: the reference pipeline's own semantics
(SURVEY.md §2.A), re-expressed as distributed Spark operators.

Reference flow (one Spark app instead of 7 AWS services):
CSV lands → incremental gate (watermark) → schema inference → null
audit → clean (dropna + dedup) → keyed upsert → watermark advance.
"""

from end_to_end_aws_data_pipeline_spark.ingest.infer import (  # noqa: F401
    infer_schema_first_row,
    read_csv_with_inferred_schema,
)
from end_to_end_aws_data_pipeline_spark.ingest.clean import (  # noqa: F401
    clean,
    null_audit,
)
from end_to_end_aws_data_pipeline_spark.ingest.merge import upsert  # noqa: F401
from end_to_end_aws_data_pipeline_spark.ingest.watermark import (  # noqa: F401
    WatermarkStore,
    gate_strictly_newer,
)
