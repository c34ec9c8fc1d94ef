"""Aggregation operators (SURVEY.md §2.4, §2.6).

Reference surface: ``groupBy(col).agg(count(key).alias(...))`` ordered desc
(the reference's ``Silver_Customers.py:28,34``) — a partial+final
HashAggregate around a single key exchange, the plan shape that scales
linearly with data volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def group_count(
    df: DataFrame,
    group_col: str,
    count_col: str,
    alias: str = "total",
    descending: bool = True,
) -> DataFrame:
    """A1/A2 + O1: group-by count with aliased output, sorted by the count.

    Parity: ``df.groupBy("domains").agg(count("customer_id").alias(
    "total_customers")).orderBy(desc(...))`` (``/root/reference/
    Silver_Customers.py:28``).  Spark plans this as partial aggregation
    map-side, one hash exchange on ``group_col``, final aggregation — the
    global sort is a second exchange but its input is already reduced to one
    row per group, so it is cheap at any scale.
    """
    out = df.groupBy(group_col).agg(F.count(F.col(count_col)).alias(alias))
    order = F.desc(alias) if descending else F.asc(alias)
    return out.orderBy(order)


def sort(df: DataFrame, *keys: tuple[str, bool]) -> DataFrame:
    """O1/O2: multi-key global sort; ``(column, descending)`` pairs."""
    cols = [F.desc(c) if d else F.asc(c) for c, d in keys]
    return df.orderBy(*cols)
