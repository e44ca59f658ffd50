"""Session-cache bookkeeping for operator-internal persists.

Operators that persist an intermediate (a shingled projection, a MinHash
signature table) register it through :func:`persisted` instead of
calling ``DataFrame.persist`` directly. Harness loops — ``bench.py``,
``tools/check_oracle.py`` — call :func:`release_all` after materializing
each query, so one query's cache never distorts the next query's timing
or memory headroom (r3 bench showed late queries inflating 2-3x from
inherited cache pressure, and a variant query silently reusing the
CacheManager entry its sibling had warmed).

The registry is deliberately process-global and ordered: releases pop
LIFO so a cache built on top of another cache unpersists first.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []


def persisted(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK spills gracefully at scale) and
    record it for a later :func:`release_all`."""
    _LIVE.append(df.persist(StorageLevel.MEMORY_AND_DISK))
    return df


def release_all() -> None:
    """Unpersist every registered cache (LIFO), tolerating already-
    stopped sessions. Safe to call between queries in a long session."""
    while _LIVE:
        df = _LIVE.pop()
        try:
            df.unpersist()
        except Exception:
            pass
