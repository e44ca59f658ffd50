"""End-to-end incremental ingest: the reference's 7-service flow
(S3 event → Lambda gate → SQS/Step Functions → Lambda DDL → Glue job,
SURVEY.md §3 EP1-EP3) collapsed into one Spark application.

File layout contract (ref second_lambda_function.py:29-31, S3 listing
1737920487152.jpeg): ``<ingest_root>/<YYYYMMDD_HHMMSS>/<Table>.csv`` —
the folder name is the version timestamp of the delivery.

Stage order per file: gate (driver) → schema from the CSV head
(driver; CREATE TABLE IF NOT EXISTS ≈ first write wins) → upsert of
the rows without nulls, with the null audit's counts observed on the
merge's own scan of the file and exact duplicate rows collapsed by the
merge → audit report (the observed counts, plus a ≤20-row sample job
only when a row holds a null) → watermark advance (driver) → report.
The reference audits and cleans before it upserts; here those passes
ride on the merge, so a delivery launches only the merge's jobs and at
most one sample job. A failure before the advance leaves the watermark
untouched → the file replays on the next run and the keyed upsert
absorbs the replay (idempotent).
"""

from __future__ import annotations

import os
import re
import uuid
from dataclasses import dataclass

from pyspark.sql import SparkSession

from end_to_end_aws_data_pipeline_spark.ingest.clean import NullAudit, null_audit, observe_audit
from end_to_end_aws_data_pipeline_spark.ingest.infer import read_csv_with_inferred_schema
from end_to_end_aws_data_pipeline_spark.ingest.merge import merge_into_parquet
from end_to_end_aws_data_pipeline_spark.ingest.watermark import WatermarkStore

_KEY_RE = re.compile(r"(?P<folder>\d{8}_\d{6})/(?P<file>[^/]+\.csv)$")


@dataclass
class IngestResult:
    table_name: str
    folder_ts: int
    status: str  # loaded | skipped_not_newer | skipped_empty
    audit: NullAudit | None
    n_rows_written: int


def parse_increment_path(path: str) -> tuple[str, int]:
    """``.../<YYYYMMDD_HHMMSS>/<Table>.csv`` → (table_name, folder_ts).

    Mirrors the event-key parsing + malformed-key rejection of ref
    second_lambda_function.py:17-40 (folder timestamp parsed numerically
    — PEP 515 underscore literal, ref second_lambda_function.py:31).
    """
    m = _KEY_RE.search(path)
    if not m:
        raise ValueError(f"malformed increment path (want <ts_folder>/<name>.csv): {path}")
    table_name = m.group("file").rsplit(".", 1)[0]
    folder_ts = int(m.group("folder").replace("_", ""))
    return table_name, folder_ts


class IngestPipeline:
    """One warehouse = a directory of parquet tables + a watermark state
    table. ``ingest_file`` is EP1 (gated); ``backfill`` is EP2 (gate
    bypassed, as the reference's direct-invoke path does)."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        keys_by_table: dict[str, list[str]] | None = None,
        schema_policy: str = "reference",
        notifier: "NotifyFn | None" = None,
        partition_by_table: dict[str, str] | None = None,
    ):
        from end_to_end_aws_data_pipeline_spark.ingest.notify import (
            NotifyFn,  # noqa: F401
            log_notifier,
        )

        # first-row inference is the only schema policy
        if schema_policy != "reference":
            raise ValueError(f"unknown schema_policy {schema_policy!r}; only 'reference'")
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self.keys_by_table = keys_by_table or {}
        self.notifier = notifier or log_notifier
        # optional per-table partition column → partition-scoped merges
        # (IO proportional to each delivery, not the table)
        self.partition_by_table = partition_by_table or {}
        self.watermarks = WatermarkStore(spark, os.path.join(warehouse_dir, "_ingest_watermarks"))

    def table_dir(self, table_name: str) -> str:
        return os.path.join(self.warehouse_dir, table_name)

    def _load(self, path: str, table_name: str, folder_ts: int) -> IngestResult:
        df = read_csv_with_inferred_schema(self.spark, path)
        if not df.columns:
            return IngestResult(table_name, folder_ts, "skipped_empty", None, 0)
        # one observation per load, under a name no other load shares
        name = f"null_audit:{table_name}:{folder_ts}:{uuid.uuid4().hex}"
        observed, obs = observe_audit(df, name)
        # key policy: explicit per-table keys if configured, else all
        # columns (exact-row identity) — the honest version of the
        # reference's keyless ON DUPLICATE KEY UPDATE (which degraded to
        # append, SURVEY.md §2.A row 8)
        keys = self.keys_by_table.get(table_name, list(df.columns))
        n = merge_into_parquet(
            self.spark,
            self.table_dir(table_name),
            observed.na.drop("any"),
            keys,
            partition_by=self.partition_by_table.get(table_name),
        )
        audit = null_audit(df, observation=obs)
        self.watermarks.advance(table_name, folder_ts)
        # notification parity (ref delta_load.py:77-84, 267-286): one
        # bounded null report + one success event per load
        from end_to_end_aws_data_pipeline_spark.ingest.notify import (
            null_rows_event,
            success_event,
        )

        if audit.n_bad_rows:
            self.notifier(null_rows_event(table_name, folder_ts, audit))
        self.notifier(success_event(table_name, folder_ts, n))
        return IngestResult(table_name, folder_ts, "loaded", audit, n)

    def ingest_file(self, path: str) -> IngestResult:
        """EP1: gated incremental load of one delivered file."""
        table_name, folder_ts = parse_increment_path(path)
        current = self.watermarks.get(table_name)
        if current is not None and folder_ts <= current:
            return IngestResult(table_name, folder_ts, "skipped_not_newer", None, 0)
        return self._load(path, table_name, folder_ts)

    def ingest_root(self, ingest_root: str) -> list[IngestResult]:
        """Process every increment under the root, oldest first (the
        FIFO-per-table ordering the reference got from SQS message
        groups, ref second_lambda_function.py:104-124)."""
        found: list[tuple[int, str]] = []
        for folder in sorted(os.listdir(ingest_root)):
            fdir = os.path.join(ingest_root, folder)
            if not os.path.isdir(fdir):
                continue
            for f in sorted(os.listdir(fdir)):
                if f.endswith(".csv"):
                    path = os.path.join(fdir, f)
                    try:
                        _, ts = parse_increment_path(path)
                    except ValueError:
                        continue
                    found.append((ts, path))
        return [self.ingest_file(p) for _, p in sorted(found)]

    def backfill(self, path: str) -> IngestResult:
        """EP2: direct load bypassing the watermark gate (ref
        first_lambda_function.py:30-33 — backfills skip incremental
        dedup; the keyed upsert still keeps the table consistent)."""
        table_name, folder_ts = parse_increment_path(path)
        return self._load(path, table_name, folder_ts)


def main() -> None:
    """EP3 parity: CLI `python -m ...ingest.pipeline --file_path <csv>`
    (ref delta_load.py:26-32 getResolvedOptions --file_path)."""
    import argparse

    from end_to_end_aws_data_pipeline_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--file_path", required=True)
    ap.add_argument("--warehouse", default="./warehouse")
    ap.add_argument("--backfill", action="store_true")
    args = ap.parse_args()

    pipe = IngestPipeline(get_spark("ingest"), args.warehouse)
    res = pipe.backfill(args.file_path) if args.backfill else pipe.ingest_file(args.file_path)
    print(
        f"{res.status}: table={res.table_name} ts={res.folder_ts} rows={res.n_rows_written}"
        + (
            f" bad_rows={res.audit.n_bad_rows}/{res.audit.n_rows}"
            if res.audit
            else ""
        )
    )


if __name__ == "__main__":
    main()
