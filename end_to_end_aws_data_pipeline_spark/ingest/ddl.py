"""Catalog probe + dynamic DDL sink (SURVEY.md §2.A rows 6-7).

Reference behavior: ``check_rds_table`` probes information_schema with
f-string SQL and aborts the load when the table is missing
(ref delta_load.py:116-155); ``create_rds_table`` emits
``CREATE TABLE IF NOT EXISTS`` from the inferred schema
(ref first_lambda_function.py:92-132). Spark's catalog gives both
natively — and safely (no SQL-string interpolation of user input
beyond identifier quoting).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T


def table_exists(spark: SparkSession, name: str) -> bool:
    """Catalog existence probe (ref delta_load.py:116-155, minus the
    injectable f-string SQL)."""
    return spark.catalog.tableExists(name)


def ddl_for_schema(name: str, schema: T.StructType) -> str:
    """CREATE TABLE IF NOT EXISTS DDL from a StructType, in Spark SQL
    types."""
    cols = [f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields]
    return f"CREATE TABLE IF NOT EXISTS `{name}` ({', '.join(cols)}) USING PARQUET"


def create_table_if_not_exists(
    spark: SparkSession, name: str, schema: T.StructType
) -> bool:
    """Dynamic DDL sink; returns True if the table was created, False if
    it already existed (first-write-wins schema, like the reference's
    CREATE IF NOT EXISTS + frozen DDL, SURVEY.md §1.2)."""
    existed = table_exists(spark, name)
    if not existed:
        spark.sql(ddl_for_schema(name, schema))
    return not existed
