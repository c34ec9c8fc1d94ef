"""Change-detection hashing (SURVEY.md §2.7 F7).

Parity: ``sha2(concat(col_a, col_b, ...), 256)`` used for SCD change
detection (``/root/reference/Gold_Customers.py:36-48``,
``/root/reference/Gold_Products_No_Delta_Live.py:23-34``).

The reference's concat is **null-propagating and separator-free** — any NULL
attribute nulls the hash, and ``("ab","c")`` collides with ``("a","bc")``.
That is the declared behavior, so ``change_hash`` reproduces it exactly
(documented divergence risk noted in SURVEY.md §7.4.4).  ``safe_change_hash``
is the engine's recommended variant: null-sentinel + unit-separator, no
boundary collisions, non-null for any input.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: ASCII unit separator — never appears in real attribute text.
_SEP = "\x1f"
_NULL_SENTINEL = "\x00NULL\x00"


def change_hash(df: DataFrame, cols: list[str], out: str = "hash_value") -> DataFrame:
    """F7, reference-faithful: ``sha2(concat(cols...), 256)``.

    Numeric/timestamp inputs take Spark's implicit string cast, matching the
    reference's ``concat(price)`` usage
    (``/root/reference/Gold_Products_No_Delta_Live.py:29``).
    """
    return df.withColumn(out, F.sha2(F.concat(*[F.col(c).cast("string") for c in cols]), 256))


def safe_change_hash(df: DataFrame, cols: list[str], out: str = "hash_value") -> DataFrame:
    """Collision- and null-safe change hash (engine-recommended variant)."""
    parts: list[Column] = [
        F.coalesce(F.col(c).cast("string"), F.lit(_NULL_SENTINEL)) for c in cols
    ]
    return df.withColumn(out, F.sha2(F.concat_ws(_SEP, *parts), 256))
