"""Keyed upsert (MERGE): the reference's row-by-row
``INSERT ... ON DUPLICATE KEY UPDATE`` (delta_load.py:169-202, one
network round-trip + commit per row) as a set-based distributed merge.

Two forms:
- ``upsert(base, updates, keys)``: pure-DataFrame merge — new rows
  appended, matching keys replaced by the update side. One shuffle on
  the key columns. This is what Delta's MERGE INTO compiles to for
  insert-or-replace, without needing lake-format jars.
- ``merge_into_parquet``: applies ``upsert`` against a parquet table on
  disk: a whole-table read-modify-write swapped into place by
  ``replace_dir``, or, given a partition column, a rewrite of only the
  partitions the delivery touches. The returned row count comes from
  the parquet footers, not from a Spark job.

The reference never declares a primary key (SURVEY.md §1.2), so its
"upsert" silently degrades to append. We make the key explicit and
required — the honest version of the same contract.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F


def upsert(base: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """Insert-or-replace by key: updates win over base on key collision.

    updates must be unique per key (enforced upstream); base may hold at
    most one row per key (a table invariant this function preserves).
    Implementation: tag + union + one window over the key taking the
    highest-precedence row — a single hash shuffle, no join needed.

    Schema drift between deliveries (a realistic CSV-pipeline input) is
    rejected loudly: an increment with missing columns would otherwise
    silently drop those columns from every existing row, and one with
    extra columns would fail with an opaque AnalysisException.
    """
    if set(base.columns) != set(updates.columns):
        missing = sorted(set(base.columns) - set(updates.columns))
        extra = sorted(set(updates.columns) - set(base.columns))
        raise ValueError(
            f"upsert schema drift: updates missing columns {missing}, "
            f"unexpected columns {extra}; align the increment's schema "
            f"to the table (or migrate the table) before merging"
        )
    tagged_base = base.select(*updates.columns).withColumn("__prec", F.lit(0))
    tagged_upd = updates.withColumn("__prec", F.lit(1))
    w = W.partitionBy(*keys).orderBy(F.col("__prec").desc())
    return (
        tagged_base.unionByName(tagged_upd)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__prec", "__rn")
    )


def merge_into_parquet(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    keys: list[str],
    partition_by: str | None = None,
) -> int:
    """Upsert ``updates`` into the parquet table at ``target_dir``;
    creates it if absent. Returns the resulting row count, read from the
    parquet footers (no Spark job).

    With ``partition_by`` set (which must be one of ``keys``' hash
    inputs — every key lives in exactly one partition), the merge is
    partition-scoped: only partitions present in ``updates`` are read
    and rewritten via dynamic partition overwrite, so IO is
    proportional to the delta, not the table — the shape that holds at
    100 TB. Without it: whole-table read-modify-write.
    """
    recover_dir(target_dir)
    if partition_by is not None and os.path.exists(target_dir):
        _merge_partition_scoped(spark, target_dir, updates, keys, partition_by)
    elif partition_by is not None:
        updates.write.mode("overwrite").partitionBy(partition_by).parquet(target_dir)
    else:
        # never overwrite the directory still being scanned by the merge
        # plan: write the merged table aside and swap it in
        merged = (
            upsert(spark.read.parquet(target_dir), updates, keys)
            if os.path.exists(target_dir)
            else updates
        )
        replace_dir(target_dir, lambda tmp: merged.write.mode("overwrite").parquet(tmp))
    return footer_row_count(target_dir)


def _swap_dirs(target_dir: str) -> tuple[str, str]:
    base = target_dir.rstrip("/")
    return base + ".__merge_tmp", base + ".__merge_old"


def recover_dir(target_dir: str) -> None:
    """Undo a crash between :func:`replace_dir`'s two renames: the
    target is missing and its last committed version is parked at
    ``.__merge_old``, so that version goes back in place. (Nothing was
    recorded as done after that version, so a replay onto it is safe.)"""
    _, old_dir = _swap_dirs(target_dir)
    if not os.path.exists(target_dir) and os.path.exists(old_dir):
        os.replace(old_dir, target_dir)


def replace_dir(target_dir: str, write: Callable[[str], None]) -> None:
    """Crash-safe replace of a table directory: ``write(tmp_dir)`` fills
    a staging directory, the current table is renamed aside, the staging
    directory is promoted, then the old one is deleted.

    A complete table directory exists at ``target_dir`` at every instant
    but the one between the two renames, and a crash there is undone by
    :func:`recover_dir`. Leftover staging directories from an
    interrupted run are removed first."""
    tmp_dir, old_dir = _swap_dirs(target_dir)
    recover_dir(target_dir)
    for leftover in (tmp_dir, old_dir):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)
    write(tmp_dir)
    had_target = os.path.exists(target_dir)
    if had_target:
        os.replace(target_dir, old_dir)
    os.replace(tmp_dir, target_dir)
    if had_target:
        shutil.rmtree(old_dir)


def _listed(name: str) -> bool:
    # Spark's file-index rule: names starting with "." or "_" are hidden
    # (_SUCCESS, .crc checksums, _temporary, .spark-staging-*) unless
    # they are partition directories ("_col=v")
    return not name.startswith(".") and (not name.startswith("_") or "=" in name)


def footer_row_count(table_dir: str) -> int:
    """Exact row count of the parquet table at ``table_dir`` from its
    file footers (metadata only, no data pages, no Spark job). Lists the
    same files ``spark.read.parquet(table_dir)`` reads, partition
    directories included, so it equals that DataFrame's ``count()``."""
    files = []
    for root, dirs, names in os.walk(table_dir):
        dirs[:] = [d for d in dirs if _listed(d)]
        files += [os.path.join(root, n) for n in names if _listed(n)]
    return ds.dataset(files, format="parquet").count_rows() if files else 0


def _merge_partition_scoped(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    keys: list[str],
    partition_by: str,
) -> None:
    """Merge touching only the partitions ``updates`` lands in.

    1. collect the (small) set of affected partition values;
    2. read ONLY those partitions of the base (partition pruning);
    3. upsert within them;
    4. dynamic-partition-overwrite writes back just those directories.
    Untouched partition files are never read or rewritten.
    """
    affected = [r[0] for r in updates.select(partition_by).distinct().collect()]
    if any(v is None for v in affected):
        # isin() below never matches NULL, so a NULL partition key would
        # silently skip the upsert against existing null-partition rows
        # (__HIVE_DEFAULT_PARTITION__) and could duplicate keys there
        raise ValueError(
            f"updates contain NULL values in partition column "
            f"{partition_by!r}; partition keys must be non-null for a "
            f"partition-scoped merge"
        )
    base = spark.read.parquet(target_dir)
    base_affected = base.filter(F.col(partition_by).isin(affected))
    merged = upsert(base_affected, updates, keys)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_by)
        .parquet(target_dir)
    )
