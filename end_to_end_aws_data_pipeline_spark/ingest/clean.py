"""Null audit + clean, parity with the reference's per-file hygiene.

Reference (delta_load.py:67-98): iterate rows in pandas, publish one SNS
message per row containing any null, then ``dropna().drop_duplicates()``.

Here the audit is one list of aggregates (``_audit_aggs``: rows, rows
with any null, per-column null counts) plus a bounded sample of
offending rows — no per-row side effects (a per-row RPC at 100 TB is
~10^11 network calls; a one-pass aggregate + bounded sample carries the
same information). The aggregates run either as their own pass
(``null_audit(df)``) or ride on the load's own action through
``DataFrame.observe`` (``observe_audit``), in which case the audit
launches no job of its own; the ≤20-row sample is one
``limit`` job, run only when a bad row was counted.

Cleaning is ``na.drop("any")`` + ``dropDuplicates()`` (``clean``). The
ingest pipeline passes only the ``na.drop`` rows to the merge, whose
key window already collapses exact duplicate rows, so it runs no
separate dedup shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, Row
from pyspark.sql import functions as F


@dataclass
class NullAudit:
    n_rows: int
    n_bad_rows: int
    null_counts: dict[str, int]
    sample_bad_rows: list[Row] = field(default_factory=list)


def _any_null(df: DataFrame):
    cond = F.lit(False)
    for c in df.columns:
        cond = cond | F.col(c).isNull()
    return cond


def _audit_aggs(df: DataFrame) -> list[Column]:
    """The audit's aggregates: ``n_rows``, ``n_bad_rows`` (rows with any
    null) and ``null:<column>`` per column (no column name can collide
    with the two totals)."""
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_any_null(df).cast("long")).alias("n_bad_rows"),
        *[F.sum(F.col(c).isNull().cast("long")).alias(f"null:{c}") for c in df.columns],
    ]


def observe_audit(df: DataFrame, observation_name: str) -> tuple[DataFrame, Observation]:
    """``df`` with the audit aggregates attached as an observation: they
    are computed while the first action over the returned DataFrame
    runs. ``observation_name`` must be unique among live observations.
    Read the result with ``null_audit(df, observation=...)`` after that
    action."""
    obs = Observation(observation_name)
    return df.observe(obs, *_audit_aggs(df)), obs


def null_audit(df: DataFrame, observation: Observation | None = None) -> NullAudit:
    """Total rows, rows with any null and per-column null counts, plus a
    driver-side sample of at most 20 bad rows (the notification payload —
    replaces per-row SNS at ref delta_load.py:77-84).

    The counts come from ``observation`` (see ``observe_audit``) when
    given and it reported them, else from one aggregation pass over
    ``df``. The sample is one ``limit`` job over ``df``, skipped when no
    row holds a null."""
    metrics = _observed(observation) if observation is not None else {}
    if not metrics:
        metrics = df.agg(*_audit_aggs(df)).first().asDict()
    n_bad = metrics["n_bad_rows"] or 0
    return NullAudit(
        n_rows=metrics["n_rows"],
        n_bad_rows=n_bad,
        null_counts={c: metrics[f"null:{c}"] or 0 for c in df.columns},
        sample_bad_rows=df.filter(_any_null(df)).limit(20).collect() if n_bad else [],
    )


def _observed(observation: Observation) -> dict:
    """The observation's metrics, waiting for its action, or ``{}`` when
    that action reported none: adaptive execution drops the metrics of a
    stage that produced no rows when it replaces the stage by an empty
    relation (in the ingest merge: no row of the file survives
    ``na.drop``)."""
    return observation.get if observation._jo.getRow().size() else {}


def clean(df: DataFrame) -> DataFrame:
    """dropna(any) + full-row dedup (ref delta_load.py:97-98).

    Keep-first vs keep-any is indistinguishable for *exact* duplicate
    rows, so distributed ``dropDuplicates`` preserves the reference
    semantics while staying shuffle-parallel.
    """
    return df.na.drop("any").dropDuplicates()
