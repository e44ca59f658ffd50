"""Scale-posture helpers: skew salting for aggregates and joins, and
overlapped driver actions — the knobs that matter when the same plans
run on a 1000-executor cluster against 100 TB.

Catalyst + AQE already handle: broadcast selection, post-shuffle
partition coalescing, runtime skew-join splitting, dynamic partition
pruning. What it cannot invent is a better *key*: a pathologically hot
group key still lands on one reducer. ``salted_agg`` is the standard
two-phase fix, kept generic over any algebraic aggregate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def overlap_jobs(*thunks: Callable):
    """Run independent driver-side Spark actions as CONCURRENT jobs
    (guide §2.6): actions are only sequential because driver code calls
    them sequentially; the scheduler happily overlaps jobs, and the
    later job's tasks back-fill executors the earlier job's tail leaves
    idle. Returns the thunks' results in call order; the first thunk
    runs inline on the calling thread, the rest on
    ``pyspark.InheritableThread`` (the documented way to run driver
    threads so JVM thread-local properties are inherited and cleaned
    up under pinned-thread mode).

    Use ONLY for genuinely independent actions — e.g. a bounded
    query-matrix collect next to an iterative trainer's first round.
    Exceptions propagate (the first one raised, after all threads
    join).
    """
    if len(thunks) <= 1:
        return [t() for t in thunks]
    from pyspark import InheritableThread

    results: list = [None] * len(thunks)
    errors: list[BaseException] = []

    def _run(i: int, t: Callable) -> None:
        try:
            results[i] = t()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)

    threads = [
        InheritableThread(target=_run, args=(i, t))
        for i, t in enumerate(thunks[1:], start=1)
    ]
    for th in threads:
        th.start()
    _run(0, thunks[0])
    for th in threads:
        th.join()
    if errors:
        raise errors[0]
    return results


# reducers a hot key's rows spread over
_N_SALTS = 16


def salted_agg(
    df: DataFrame,
    group_cols: list[str],
    aggs: Callable[[], list[Column]],
    merge_aggs: Callable[[], list[Column]],
    n_salts: int = _N_SALTS,
) -> DataFrame:
    """Two-phase aggregation for skewed group keys.

    Phase 1 groups on (key, salt) — the hot key's rows spread over
    ``n_salts`` reducers; phase 2 merges the per-salt partials on the
    key alone (tiny input: n_groups × n_salts rows).

    ``aggs`` builds the phase-1 partial aggregates; ``merge_aggs``
    builds the phase-2 re-aggregation over the phase-1 column names
    (sum→sum, count→sum, min→min, max→max; avg must be expressed as
    sum+count and divided after the merge).

    The salt is a content hash of the full row, NOT
    monotonically_increasing_id/spark_partition_id: those change when a
    task is retried or the input is re-split, which would move rows
    between salt buckets mid-job and skew (or in pathological recompute
    interleavings, corrupt) the partials. A row hash is deterministic
    under retries; it spreads a hot key because the non-key columns
    vary within the key.
    """
    salt = F.pmod(F.xxhash64(*df.columns), F.lit(n_salts))
    phase1 = df.withColumn("__salt", salt).groupBy(*group_cols, "__salt").agg(*aggs())
    return phase1.groupBy(*group_cols).agg(*merge_aggs())


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
) -> DataFrame:
    """Salted equi-join for a skewed BIG side: the big side gets a
    deterministic per-row salt in [0, _N_SALTS), the small side is
    replicated once per salt value, and the join runs on (key, salt) —
    a hot key's rows spread over ``_N_SALTS`` reducers instead of
    pinning one straggler task.

    The salt is a content hash of the big side's full row (same
    retry-safety argument as :func:`salted_agg` — partition-id or
    monotonic-id salts move rows between buckets when tasks retry).
    Cost model: the small side's shuffle volume multiplies by
    ``_N_SALTS``; worth it exactly when one key's row count exceeds
    what one reducer should own. AQE's skew-join split handles the
    SORT-MERGE case adaptively (tests/test_plans.py pins that); this
    helper is the explicit form that also composes with pre-partitioned
    layouts where AQE cannot re-split.
    """
    salt = F.pmod(F.xxhash64(*big.columns), F.lit(_N_SALTS))
    b = big.withColumn("__salt", salt)
    s = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(_N_SALTS)]))
    )
    return b.join(s, [key, "__salt"]).drop("__salt")
