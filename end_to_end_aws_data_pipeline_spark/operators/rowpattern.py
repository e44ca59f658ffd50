"""Row patterns over the event log (MATCH_RECOGNIZE-style): the three
pattern specs and the one run-length encoding that the batch queries
(operators/sweep.py) and the JVM-RLE stream fold (streaming/pattern.py)
both build on.

Every pattern here is ``click view{lo,hi} (t1|t2|...)``. Runs are
maximal, so a view run sits between a click and its closing symbol iff
its RLE neighbours are exactly those; the bounded quantifier is one
predicate on the run's length and the alternation one predicate on the
closing neighbour's type. No pattern needs new machinery.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.catalog import normalize_event_ts


class Pattern(NamedTuple):
    """``click view{lo,hi} (terminals)``."""

    lo: int
    hi: int
    terminals: tuple[str, ...]

    def accepts(self, run_len: Column, closer: Column) -> Column:
        """A maximal view run of ``run_len`` between a click and a run
        of type ``closer`` matches."""
        return closer.isin(*self.terminals) & run_len.between(self.lo, self.hi)


MATCH = Pattern(1, 1 << 62, ("purchase",))  # click view+ purchase
QUANTIFIED = Pattern(2, 4, ("purchase",))  # click view{2,4} purchase
# click view{2,4} (purchase|signup)
ALTERNATION = Pattern(2, 4, ("purchase", "signup"))


def pattern_runs(events: DataFrame) -> DataFrame:
    """Each user's maximal event-type runs, entirely JVM-side:
    ``user_id, idx, etype, run_len, run_start_us`` plus the neighbour
    run types ``lag_t`` and ``lead_t``.

    A change flag via ``lag`` and a running sum of it number the runs.
    Both event-sized window passes share ONE spec (user_id, ordered by
    µs, event_id), so the running sum reuses the change-flag pass's
    exchange and sort; ordering it by a derived row_number would cost a
    second full Sort (guide §2.4).

    The running sum's ROWS frame is pinned: the default RANGE frame
    treats (us, event_id) ties as peers, and while event_id is unique in
    a clean table, an at-least-once replay can deliver duplicate rows —
    RANGE would then merge runs that unique-row ordering keeps distinct.
    ROWS keeps the same exchange and sort (same window spec)."""
    ev = normalize_event_ts(events).select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        "event_type",
    )
    wu = W.partitionBy("user_id").orderBy("us", "event_id")
    flagged = ev.select(
        "user_id",
        "us",
        "event_id",
        "event_type",
        F.when(
            ~F.lag("event_type").over(wu).eqNullSafe(F.col("event_type")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("chg"),
    )
    runs = (
        flagged.withColumn(
            "idx",
            F.sum("chg").over(
                wu.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .groupBy("user_id", "idx")
        .agg(
            F.min("event_type").alias("etype"),
            F.count(F.lit(1)).cast("long").alias("run_len"),
            F.min("us").alias("run_start_us"),
        )
    )
    wk = W.partitionBy("user_id").orderBy("idx")
    return runs.select(
        "user_id",
        "idx",
        "etype",
        "run_len",
        "run_start_us",
        F.lag("etype").over(wk).alias("lag_t"),
        F.lead("etype").over(wk).alias("lead_t"),
    )
