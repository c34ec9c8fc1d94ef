"""Batch readers (SURVEY.md §2.1 S3-S8).

All readers return lazy DataFrames; Catalyst pushes filters/projections into
the scan, so callers should compose ``silver.*`` operators directly on the
result rather than materializing."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_parquet(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """S3: batch parquet scan (``/root/reference/Silver_Customers.py:12-13``).

    Pass ``schema`` to skip footer-sampling inference — on a 100 TB prefix
    listing, schema inference alone touches thousands of footers.
    """
    reader = spark.read.format("parquet")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def read_table(spark: SparkSession, name: str) -> DataFrame:
    """S4/S6: catalog table scan (``/root/reference/Silver_Regions.py:2``)."""
    return spark.read.table(name)


def read_delta(spark: SparkSession, path: str) -> DataFrame:
    """S5: delta-path scan (``/root/reference/Silver_Regions.py:17``); falls
    back to parquet when delta-spark is absent (same files, no txn log)."""
    from ..session import delta_available

    fmt = "delta" if delta_available() else "parquet"
    return spark.read.format(fmt).load(path)
