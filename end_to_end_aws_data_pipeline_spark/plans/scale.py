"""Scale-posture helpers: skew salting, clustered, compacted and
bucketed layouts, and overlapped driver actions — the knobs that
matter when the same plans run on a 1000-executor cluster against
100 TB.

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


def salted_agg(
    df: DataFrame,
    group_cols: list[str],
    aggs: Callable[[], list[Column]],
    merge_aggs: Callable[[], list[Column]],
    n_salts: int = 16,
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


def clustered_write(
    df: DataFrame, path: str, key: str, n_files: int
) -> None:
    """Range-clustered parquet layout: rows are range-partitioned on
    ``key`` and sorted within each output file, so per-file min/max
    column statistics become DISJOINT intervals — a point or range
    predicate on ``key`` then prunes to the few files whose interval
    intersects it (file skipping), instead of sampling every file.

    This is the layout step a 100 TB table needs before serving
    selective queries: without it, parquet row-group stats on a randomly
    distributed key span the whole domain in every file and prune
    nothing. (Single-column range clustering; interleave a space-filling
    curve key for the multi-column variant.)
    """
    (
        df.repartitionByRange(n_files, F.col(key))
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .parquet(path)
    )


def compacted_write(
    df: DataFrame, path: str, target_rows_per_file: int
) -> None:
    """Small-files compaction: rewrite into ceil(n/target)-sized output
    files. A streaming/incremental pipeline leaves thousands of tiny
    files per partition; scan cost then goes per-FILE (driver listing,
    task scheduling, footer reads), not per-byte. Compaction restores
    per-byte economics. maxRecordsPerFile caps stragglers when the
    repartition is uneven."""
    n = df.count()
    files = max(1, -(-n // target_rows_per_file))
    (
        df.repartition(files)
        .write.option("maxRecordsPerFile", target_rows_per_file)
        .mode("overwrite")
        .parquet(path)
    )


def morton_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Z-order (Morton) key: interleave the low ``bits`` bits of two
    non-negative int columns — bit i of x lands at position 2i, bit i
    of y at 2i+1. Pure codegen expressions via the classic
    magic-number spread (each step doubles the gap between kept bits),
    no UDF.

    Callers map each dimension onto [0, 2^bits) first — e.g.
    ``F.least(lit(mask), col / domain * 2^bits)`` or a rank — because
    Morton locality only holds for same-scale coordinates."""

    def _spread(v: Column) -> Column:
        # 16 -> 32 bit spread: 0x0000ffff -> 0x55555555 bit positions
        # (Column.__or__ is LOGICAL or — bitwise needs .bitwiseOR)
        v = v.bitwiseAND(F.lit((1 << bits) - 1)).cast("long")
        v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(0x00FF00FF))
        v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
        v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(0x33333333))
        v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(0x55555555))
        return v

    return _spread(x).bitwiseOR(F.shiftleft(_spread(y), 1))


def zordered_write(
    df: DataFrame, path: str, x_col: str, y_col: str, n_files: int
) -> None:
    """Z-order-clustered parquet layout: rows are range-partitioned on
    the Morton interleave of TWO keys, so each file covers a small
    RECTANGLE of the (x, y) domain and per-file min/max stats prune on
    EITHER column — the multi-dimensional file skipping single-column
    range clustering cannot give (its second column spans the whole
    domain in every file).

    This is the standard lakehouse layout step (Delta/Iceberg
    OPTIMIZE ZORDER BY) for 100 TB tables served by selective filters
    on more than one dimension. The Morton key is dropped before the
    write — it exists only to drive the partitioner and the
    within-file sort."""
    mk = morton_key(F.col(x_col), F.col(y_col))
    (
        df.withColumn("__z", mk)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def bucketed_write(
    df: DataFrame, table_name: str, key: str, n_buckets: int
) -> None:
    """Bucketed managed table: rows are hash-partitioned into
    ``n_buckets`` files by ``key`` and sorted within each bucket, with
    the layout recorded in the catalog. Two tables bucketed on the same
    key with the same bucket count then JOIN WITHOUT A SHUFFLE — the
    sort-merge join reads matching buckets pairwise — and aggregations
    on the bucket key skip their exchange too.

    This is the co-location contract for 100 TB fact-fact joins (a
    broadcast can't help when both sides are huge): pay one shuffle at
    WRITE time, join shuffle-free forever after. The catalog entry is
    what carries the guarantee; a bare parquet directory written with
    the same partitioning loses it on read."""
    # idempotence across killed runs: a process killed mid-saveAsTable
    # can leave the managed LOCATION on disk without its catalog entry,
    # and the next saveAsTable (even mode=overwrite) refuses with
    # LOCATION_ALREADY_EXISTS because the catalog has nothing to drop.
    # Only a TRUE orphan may be cleared: if the catalog knew the table,
    # DROP TABLE already handled its data correctly (managed → removed,
    # external → intentionally preserved; a subsequent location clash
    # then fails loudly instead of silently deleting external data).
    import os
    import shutil
    from urllib.parse import urlparse

    if "." in table_name:
        raise ValueError(
            f"bucketed_write takes an unqualified table name, got "
            f"{table_name!r}: db-qualified names would break both the "
            "quoted DROP and the orphan-location check"
        )
    spark = df.sparkSession
    existed = spark.catalog.tableExists(table_name)
    spark.sql(f"DROP TABLE IF EXISTS `{table_name}`")
    if not existed:
        # the unqualified name lands in the current database: resolve its
        # location via the catalog (not by string-stripping
        # spark.sql.warehouse.dir, which breaks for file://host URIs);
        # non-local warehouses are left alone — the orphan-reap is a
        # local-FS convenience only
        db = spark.catalog.getDatabase(spark.catalog.currentDatabase())
        u = urlparse(db.locationUri)
        if u.scheme in ("", "file") and u.netloc in ("", "localhost"):
            loc = os.path.join(u.path, table_name.lower())
            if os.path.isdir(loc):
                shutil.rmtree(loc, ignore_errors=True)
    (
        df.write.bucketBy(n_buckets, key)
        .sortBy(key)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table_name)
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
) -> DataFrame:
    """Salted equi-join for a skewed BIG side: the big side gets a
    deterministic per-row salt in [0, n_salts), the small side is
    replicated once per salt value, and the join runs on (key, salt) —
    a hot key's rows spread over ``n_salts`` reducers instead of
    pinning one straggler task.

    The salt is a content hash of the big side's full row (same
    retry-safety argument as :func:`salted_agg` — partition-id or
    monotonic-id salts move rows between buckets when tasks retry).
    Cost model: the small side's shuffle volume multiplies by
    ``n_salts``; worth it exactly when one key's row count exceeds
    what one reducer should own. AQE's skew-join split handles the
    SORT-MERGE case adaptively (tests/test_plans.py pins that); this
    helper is the explicit form that also composes with bucketed or
    pre-partitioned layouts where AQE cannot re-split.
    """
    salt = F.pmod(F.xxhash64(*big.columns), F.lit(n_salts))
    b = big.withColumn("__salt", salt)
    s = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return b.join(s, [key, "__salt"]).drop("__salt")
