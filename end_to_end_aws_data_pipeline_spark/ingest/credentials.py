"""Sink credentials lookup (SURVEY.md §2.A row 16).

The reference fetches {host, port, database, username, password} from
AWS Secrets Manager, duplicated verbatim in two files
(ref delta_load.py:100-113, first_lambda_function.py:76-89). The engine
keeps credentials out of code entirely: resolved from Spark conf
(``spark.enginesink.<key>``) falling back to environment variables
(``ENGINE_SINK_<KEY>``) — injectable by any secret manager without
code changes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import SparkSession

_KEYS = ("host", "port", "database", "username", "password")


@dataclass
class SinkCredentials:
    host: str
    port: int
    database: str
    username: str
    password: str

    @property
    def jdbc_url(self) -> str:
        return f"jdbc:mysql://{self.host}:{self.port}/{self.database}"


def get_sink_credentials(spark: SparkSession) -> SinkCredentials:
    vals: dict[str, str] = {}
    for key in _KEYS:
        v = spark.conf.get(f"spark.enginesink.{key}", None)
        if v is None:
            v = os.environ.get(f"ENGINE_SINK_{key.upper()}")
        if v is None:
            raise KeyError(
                f"sink credential {key!r} not found in spark conf "
                f"(spark.enginesink.{key}) or env (ENGINE_SINK_{key.upper()})"
            )
        vals[key] = v
    return SinkCredentials(
        host=vals["host"],
        port=int(vals["port"]),  # ref parity: port cast once, consistently
        database=vals["database"],
        username=vals["username"],
        password=vals["password"],
    )
