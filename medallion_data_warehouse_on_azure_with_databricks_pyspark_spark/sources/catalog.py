"""Catalog / DDL helpers (SURVEY.md §2.1 S12-S17).

The reference's medallion namespace is ``catalog.schema.table``
(``databricks_catalog.{bronze,silver,gold}``) over external Delta locations.
OSS Spark's session catalog provides the same two/three-part naming; these
helpers wrap the exact DDL statements the reference issues."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import delta_available


def create_schema(spark: SparkSession, schema: str) -> None:
    """S13: ``CREATE SCHEMA IF NOT EXISTS`` (``/root/reference/Gold_Customers.py:23``)."""
    spark.sql(f"CREATE SCHEMA IF NOT EXISTS {schema}")


def register_external_table(spark: SparkSession, name: str, location: str) -> None:
    """S12: external-table DDL
    (``/root/reference/Silver_Customers.py:46-48``)."""
    fmt = "delta" if delta_available() else "parquet"
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} USING {fmt} LOCATION '{location}'"
    )


def drop_table(spark: SparkSession, name: str) -> None:
    """S14: ``DROP TABLE`` (``/root/reference/Silver_Products.py:65``)."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def table_exists(spark: SparkSession, name: str) -> bool:
    """S16: existence probe gating initial-load vs merge
    (``/root/reference/Gold_Customers.py:55``)."""
    return spark.catalog.tableExists(name)


def describe_detail(spark: SparkSession, name: str) -> DataFrame:
    """S17: table metadata (``/root/reference/Gold_Customers.py:105``).

    ``DESCRIBE DETAIL`` is Delta-only; fall back to ``DESCRIBE EXTENDED``."""
    if delta_available():
        return spark.sql(f"DESCRIBE DETAIL {name}")
    return spark.sql(f"DESCRIBE TABLE EXTENDED {name}")
