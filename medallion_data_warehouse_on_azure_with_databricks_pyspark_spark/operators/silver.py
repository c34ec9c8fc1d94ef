"""Silver-layer cleanse/derive operators (SURVEY.md §2.2, §2.7).

The reference's silver notebooks are ad-hoc chains of ``drop`` /
``withColumn`` / ``filter`` (e.g. ``/root/reference/Silver_Customers.py:18-38``,
``/root/reference/Silver_Orders.py:26-48``).  Here each step is a reusable,
parameterized ``DataFrame -> DataFrame`` function — the shape the reference
gropes toward with its ``class windows`` (``/root/reference/Silver_Orders.py:71-87``).

Every function stays inside Catalyst-optimizable expressions (built-in
``pyspark.sql.functions`` only — no Python UDFs in this module), so column
pruning / predicate pushdown / whole-stage codegen apply untouched.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

RESCUE_COLUMN = "_rescued_data"


def drop_rescued(df: DataFrame) -> DataFrame:
    """Drop the ingest rescue column if present.

    Parity: ``df.drop('_rescued_data')`` in every silver notebook
    (``/root/reference/Silver_Customers.py:18``, ``Silver_Orders.py:30``,
    ``Silver_Products.py:14``, ``Silver_Regions.py:7``).  ``DataFrame.drop``
    is a no-op for absent columns, so this is safe on clean batch input.
    """
    return df.drop(RESCUE_COLUMN)


def derive(df: DataFrame, **exprs: Column) -> DataFrame:
    """P3: add derived columns; single ``withColumns`` call keeps one Project.

    Parity: chained ``withColumn`` (``/root/reference/Silver_Orders.py:38-48``).
    Batching into one ``withColumns`` avoids stacking N Project nodes for the
    analyzer to collapse (cheap at 1 query, real at thousands).
    """
    return df.withColumns(dict(exprs))


def project(df: DataFrame, *cols: Column | str) -> DataFrame:
    """P4/P5: explicit select / reorder (``/root/reference/Gold_Orders.py:42-53``)."""
    return df.select(*cols)


def filter_eq(df: DataFrame, column: str, value) -> DataFrame:
    """P6: equality filter (``/root/reference/Silver_Customers.py:32``).

    Expressed as a Column predicate so it pushes down to the parquet scan.
    """
    return df.filter(F.col(column) == F.lit(value))


def derive_year(df: DataFrame, ts_column: str, out: str = "year") -> DataFrame:
    """F5: calendar year of a timestamp (``/root/reference/Silver_Orders.py:43``)."""
    return df.withColumn(out, F.year(F.col(ts_column)))


def split_domain(df: DataFrame, column: str, out: str, delim: str = "@", index: int = 1) -> DataFrame:
    """F1: ``split(col, delim)[index]`` — e-mail domain extraction
    (``/root/reference/Silver_Customers.py:23``)."""
    return df.withColumn(out, F.split(F.col(column), delim).getItem(index))


def concat_columns(df: DataFrame, out: str, *parts: Column) -> DataFrame:
    """F2: null-propagating ``concat`` (``/root/reference/Silver_Customers.py:38``).

    The reference's semantics are deliberate: any NULL input nulls the whole
    concat (feeding the change-detection hash, ``Gold_Customers.py:38-46``).
    """
    return df.withColumn(out, F.concat(*parts))


def full_name(df: DataFrame, first: str = "first_name", last: str = "last_name", out: str = "fullname") -> DataFrame:
    """Reference's fullname derive (``/root/reference/Silver_Customers.py:38``)."""
    return concat_columns(df, out, F.col(first), F.lit(" "), F.col(last))


def clean_columns(df: DataFrame, keep: Iterable[str] | None = None) -> DataFrame:
    """Composite cleanse: drop rescue column, optionally prune to ``keep``.

    Column pruning at the earliest point lets Catalyst push ``ReadSchema``
    down to the parquet footer — at 100 TB a full-width scan for a 2-column
    query is the difference between minutes and hours.
    """
    df = drop_rescued(df)
    if keep is not None:
        df = df.select(*keep)
    return df
