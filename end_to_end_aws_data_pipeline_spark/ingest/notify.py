"""Notification channel (SURVEY.md §2.A rows 3, 17): the reference
publishes one SNS message per null row (delta_load.py:77-84) and one
success message per load (delta_load.py:267-286 — the function with the
committed syntax error).

Engine form: a pluggable sink receiving (a) one *bounded* null-audit
report per load — same information as N per-row RPCs at 1/N the cost —
and (b) one success event. Default sink logs; deployments plug a
webhook/SNS client here.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

log = logging.getLogger("end_to_end_aws_data_pipeline_spark.ingest")


@dataclass
class IngestEvent:
    kind: str  # "null_rows" | "success"
    table_name: str
    folder_ts: int
    payload: dict[str, Any]


NotifyFn = Callable[[IngestEvent], None]


def log_notifier(event: IngestEvent) -> None:
    log.info("%s %s@%s %s", event.kind, event.table_name, event.folder_ts, event.payload)


def null_rows_event(table_name: str, folder_ts: int, audit) -> IngestEvent:
    return IngestEvent(
        "null_rows",
        table_name,
        folder_ts,
        {
            "n_rows": audit.n_rows,
            "n_bad_rows": audit.n_bad_rows,
            "null_counts": audit.null_counts,
            "sample": [row.asDict() for row in audit.sample_bad_rows],
        },
    )


def success_event(table_name: str, folder_ts: int, n_rows_written: int) -> IngestEvent:
    return IngestEvent(
        "success", table_name, folder_ts, {"n_rows_written": n_rows_written}
    )
