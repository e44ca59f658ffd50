"""JDBC sinks: batched upsert (custom) and its streaming form.

The reference upserts row-by-row — one ``INSERT ... ON DUPLICATE KEY
UPDATE`` + one commit per row over the network (ref delta_load.py:
169-202). OSS Spark's JDBC writer has no upsert mode (SURVEY.md §4.3),
so the upsert path here is ``foreachPartition`` + ``executemany``: each
executor task opens one connection, sends its partition in batches of
``batch_size``, and commits once per batch — thousands of times fewer
round-trips, parallel across executors.

The connection step is injected (``connection_factory``) so any DB-API
driver plugs in; the SQL generation — the part with reference semantics
— is a pure function covering mysql (ON DUPLICATE KEY UPDATE),
postgresql and sqlite (ON CONFLICT ... DO UPDATE). The executor-side
write path runs for real against stdlib sqlite3
(tests/test_ingest.py::test_jdbc_upsert_sqlite_roundtrip) AND against a
LIVE PostgreSQL server through the pure-python wire client
(ingest/pgwire.py; tests/test_pgwire_upsert.py provisions the cluster
and exercises redelivery/idempotence/hostile-value rounds). Only mysql
remains golden-tested-only (no server binary in this environment).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame


def upsert_sql(
    table: str,
    columns: list[str],
    dialect: str = "mysql",
    key_columns: list[str] | None = None,
) -> str:
    """Parameterized upsert statement (reference shape, delta_load.py:182-186
    — but parameterized, never f-string literals: the reference's
    quote-doubling `format_value` (delta_load.py:160-166) is unnecessary
    and injectable; bind parameters are both).

    mysql infers the conflict target from the table's unique keys;
    postgresql/sqlite require it explicitly (``key_columns``). Non-key
    columns are updated from the arriving row on conflict.
    """
    if dialect == "mysql":
        collist = ", ".join(f"`{c}`" for c in columns)
        placeholders = ", ".join(["%s"] * len(columns))
        updates = ", ".join(f"`{c}`=VALUES(`{c}`)" for c in columns)
        return (
            f"INSERT INTO `{table}` ({collist}) VALUES ({placeholders}) "
            f"ON DUPLICATE KEY UPDATE {updates}"
        )
    if dialect in ("postgresql", "sqlite"):
        if not key_columns:
            raise ValueError(
                f"{dialect} ON CONFLICT needs explicit key_columns"
            )
        missing = [k for k in key_columns if k not in columns]
        if missing:
            raise ValueError(f"key_columns not in columns: {missing}")
        mark = "%s" if dialect == "postgresql" else "?"
        collist = ", ".join(f'"{c}"' for c in columns)
        placeholders = ", ".join([mark] * len(columns))
        keylist = ", ".join(f'"{k}"' for k in key_columns)
        non_key = [c for c in columns if c not in key_columns]
        if not non_key:  # pure-key row: conflict means "already there"
            return (
                f'INSERT INTO "{table}" ({collist}) VALUES ({placeholders}) '
                f"ON CONFLICT ({keylist}) DO NOTHING"
            )
        updates = ", ".join(f'"{c}"=EXCLUDED."{c}"' for c in non_key)
        return (
            f'INSERT INTO "{table}" ({collist}) VALUES ({placeholders}) '
            f"ON CONFLICT ({keylist}) DO UPDATE SET {updates}"
        )
    raise ValueError(f"unsupported dialect: {dialect}")


def write_jdbc_upsert(
    df: DataFrame,
    table: str,
    connection_factory: Callable[[], Any],
    batch_size: int = 1000,
    dialect: str = "mysql",
    key_columns: list[str] | None = None,
) -> None:
    """Distributed batched upsert via foreachPartition + executemany.

    ``connection_factory`` must be picklable (e.g. a top-level function
    closing over DSN strings) and is invoked once per partition on the
    executor. ``key_columns`` is required for the postgresql/sqlite
    dialects (explicit ON CONFLICT target).
    """
    columns = df.columns
    sql = upsert_sql(table, columns, dialect, key_columns=key_columns)

    def _write_partition(rows) -> None:
        conn = connection_factory()
        try:
            cur = conn.cursor()
            batch: list[tuple] = []
            for row in rows:
                batch.append(tuple(row[c] for c in columns))
                if len(batch) >= batch_size:
                    cur.executemany(sql, batch)
                    conn.commit()
                    batch.clear()
            if batch:
                cur.executemany(sql, batch)
                conn.commit()
        finally:
            conn.close()

    df.foreachPartition(_write_partition)


def stream_upsert_jdbc(
    stream_df: DataFrame,
    table: str,
    connection_factory: Callable[[], Any],
    checkpoint_dir: str,
    dialect: str = "mysql",
    key_columns: list[str] | None = None,
):
    """Structured-Streaming micro-batch upsert: ``foreachBatch`` applies
    :func:`write_jdbc_upsert` to every micro-batch — the streaming CDC →
    OLTP pattern (continuous form of the reference's event-triggered
    delta load, ref delta_load.py:169-202).

    Delivery is effectively-once: the checkpointed source gives
    at-least-once batch replay, and the keyed upsert makes redelivery
    idempotent (replaying batch N rewrites the same keys to the same
    values). Returns the started StreamingQuery; caller awaits/stops.
    """

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        write_jdbc_upsert(
            batch_df,
            table,
            connection_factory,
            dialect=dialect,
            key_columns=key_columns,
        )

    return (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
