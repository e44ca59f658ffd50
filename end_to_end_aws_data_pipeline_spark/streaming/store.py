"""The streaming store contract, shared by every foreachBatch fold
(pattern RLE, ANN index maintenance, quantile sketch, heavy hitters).

Three pieces, each idempotent under availableNow replay — the
reference's watermark gate + upsert contract (delta_load.py) carried
into streaming state:

- **stage**: the input table as ordered chunk files, staged by
  ``catalog.stage``: once per input file and package code, built
  privately and renamed into place, so two processes staging the same
  source never see a partial dir.
- **drain**: foreachBatch under ``availableNow`` with a checkpoint, one
  micro-batch per chunk, and a flagged deliberate stop for restart
  tests.
- **bucketed snapshots**: a fold's carried state lives in
  ``store/b{batch_id}``, written as BUCKETS bucket-pure partitions of
  ``pmod(hash(key), BUCKETS)`` (N parallel write tasks, no single-task
  coalesce). A replayed batch re-reads its predecessor and rewrites
  its own snapshot byte-identically; only the last RETAIN are kept.
"""

from __future__ import annotations

import itertools
import os
import re
import shutil
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark import catalog
from end_to_end_aws_data_pipeline_spark.catalog import local_frame

# snapshot shards: hash(key) % BUCKETS, partitionBy'd on the bucket
BUCKETS = 8
# snapshots older than (newest - RETAIN) are retired after each batch
# commit: availableNow replay redelivers at most the last uncommitted
# batch, which re-reads only its immediate predecessor, so 2 is
# strictly sufficient — 3 leaves a margin.  Without retirement the
# store grows O(batches x keys).
RETAIN = 3

_counter = itertools.count()


def fresh_run_dir(base: str, prefix: str) -> str:
    """Allocate a per-invocation output dir under ``base`` and reap
    stale siblings: dirs left by DEAD processes, plus this process's
    own previous dir for the same prefix (by the time a query is
    invoked again, its previous invocation's result DataFrame has been
    executed — the gate/bench/pytest contract).  Live other-process
    dirs are left alone.  Without reaping, every gate/bench run leaked
    one sink dir and one state store into /tmp forever."""
    pat = re.compile(rf"^{re.escape(prefix)}_(\d+)_\d+$")
    me = os.getpid()
    try:
        names = os.listdir(base)
    except OSError:
        names = []
    for name in names:
        m = pat.match(name)
        if not m:
            continue
        pid = int(m.group(1))
        stale = pid == me
        if not stale:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                stale = True
            except OSError:
                pass  # alive but not ours (EPERM) — leave it
        if stale:
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
    return os.path.join(base, f"{prefix}_{me}_{next(_counter)}")


def stage(
    path: str, tag: str, write_chunks: Callable[[str, str], list[str]]
) -> str:
    """Stage ``path`` as ordered chunk files; returns the staged dir.

    ``write_chunks(path, out_dir)`` writes the chunks into ``out_dir``
    and returns their file paths in arrival order; each gets mtime
    ``mtime(path) + 10·g``, strictly increasing, so the file source
    replays them in that order (maxFilesPerTrigger=1).  Staged once per
    input and package code by ``catalog.stage``."""
    path = os.path.abspath(path)
    mt = int(os.path.getmtime(path))

    def build(out: str) -> None:
        for g, f in enumerate(write_chunks(path, out)):
            os.utime(f, (mt + 10 * g, mt + 10 * g))

    return catalog.stage(tag, [path], build)


def write_slices(t, n: int, out_dir: str) -> list[str]:
    """``write_chunks`` body for an ordered arrow table: ``n``
    contiguous row slices, ``chunk_{g}.parquet``, in table order."""
    import pyarrow.parquet as pq

    files = []
    for g in range(n):
        lo = g * t.num_rows // n
        hi = (g + 1) * t.num_rows // n
        files.append(os.path.join(out_dir, f"chunk_{g}.parquet"))
        pq.write_table(t.slice(lo, hi - lo), files[-1])
    return files


@contextmanager
def shuffle_partitions(spark: SparkSession, n: int) -> Iterator[None]:
    """Set ``spark.sql.shuffle.partitions`` to ``n`` for the block.

    State-store right-sizing: a stateful query fixes its shuffle
    partition count into the checkpoint at first start (= state-store
    count forever), and foreachBatch jobs inherit it; a bucket-sized
    micro-batch needs a handful, not the session's batch width."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


class DeliberateStop(RuntimeError):
    """Raised inside foreachBatch to kill a stream for a restart test."""


def drain(
    spark: SparkSession,
    stream_df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    ckpt: str | None = None,
    stop_after_batches: int | None = None,
) -> None:
    """Run ``fn(batch_df, batch_id)`` on every available micro-batch of
    ``stream_df`` (foreachBatch, availableNow, update mode) with
    shuffle.partitions=4 for the run.

    ``ckpt`` makes the drain resumable: a later call with the same
    checkpoint continues after the last committed batch.
    ``stop_after_batches`` kills the stream after that many batches (the
    restart tests' mid-stream kill); the killed batch's writes either
    completed (an idempotent rewrite on redelivery) or did not (the
    batch re-runs).  The kill is recognized by a driver-side flag, not
    by the exception: Py4J and StreamingQueryException may wrap or
    truncate its message and its class does not survive the JVM
    round-trip, but foreachBatch runs ON THE DRIVER, so the flag does.
    Any other stream failure re-raises."""
    seen = {"n": 0, "stop": False}

    def each(bdf: DataFrame, bid: int) -> None:
        fn(bdf, bid)
        seen["n"] += 1
        if stop_after_batches and seen["n"] >= stop_after_batches:
            seen["stop"] = True
            raise DeliberateStop("deliberate mid-stream kill (restart test)")

    w = (
        stream_df.writeStream.foreachBatch(each)
        .outputMode("update")
        .trigger(availableNow=True)
    )
    if ckpt:
        w = w.option("checkpointLocation", ckpt)
    with shuffle_partitions(spark, 4):
        q = w.start()
        try:
            q.awaitTermination()
        except Exception:
            if not seen["stop"]:
                raise
            q.stop()


def _snapshots(store: str) -> list[int]:
    if not os.path.isdir(store):
        return []
    return [int(d[1:]) for d in os.listdir(store) if re.fullmatch(r"b\d+", d)]


def read_prev(
    spark: SparkSession, store: str, bid: int, schema: str
) -> DataFrame:
    """The state batch ``bid`` folds into: snapshot ``b{bid-1}``, or
    empty state for batch 0.  Read with an explicit schema: an inferred
    read costs one footer-sampling job per micro-batch."""
    if bid == 0:
        return local_frame(spark, [], schema)
    prev = os.path.join(store, f"b{bid - 1}")
    if not os.path.isdir(prev):
        # the checkpoint proves batch bid-1 committed, so its snapshot
        # MUST exist — falling back to empty state here would silently
        # drop every carried key (a checkpoint paired with the wrong or
        # cleaned store dir)
        raise RuntimeError(
            f"state store {store} is missing snapshot b{bid - 1} while "
            f"the checkpoint resumes at batch {bid}: refusing to "
            "continue from empty state — pair the checkpoint with its "
            "store dir, or restart from a fresh checkpoint + store pair "
            f"(only the last {RETAIN} snapshots are kept, so a retired "
            "one cannot be recovered)"
        )
    # bucket is the partition directory column; dropped after read
    return (
        spark.read.schema(schema + ", bucket int").parquet(prev).drop("bucket")
    )


def write_snapshot(df: DataFrame, store: str, bid: int, key_col: str) -> None:
    """Write batch ``bid``'s state as ``store/b{bid}``, bucketed by
    ``pmod(hash(key_col), BUCKETS)``, then retire snapshots
    ``<= bid - RETAIN`` — only after the write, so a replayed batch
    always finds its predecessor."""
    (
        df.withColumn("bucket", F.pmod(F.hash(key_col), F.lit(BUCKETS)))
        .repartition(BUCKETS, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(store, f"b{bid}"))
    )
    for b in _snapshots(store):
        if b <= bid - RETAIN:
            shutil.rmtree(os.path.join(store, f"b{b}"), ignore_errors=True)


def newest(spark: SparkSession, store: str) -> DataFrame:
    """The newest snapshot in ``store``.  Inferred read: once per query,
    not per micro-batch."""
    snaps = _snapshots(store)
    if not snaps:
        raise RuntimeError(
            f"state store has no snapshots: {store} — the drain never "
            "ran, or this is not the store dir the stream wrote to"
        )
    return spark.read.parquet(os.path.join(store, f"b{max(snaps)}")).drop(
        "bucket"
    )
