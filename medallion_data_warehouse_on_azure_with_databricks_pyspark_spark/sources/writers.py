"""Batch sinks (SURVEY.md §2.1 S9-S11) with scale-aware layout control.

The reference writes unpartitioned Delta overwrites
(``/root/reference/Silver_Customers.py:41``, ``Gold_Customers.py:65-68``).
At 100 TB, layout is the whole game: fact tables must be partitioned on
their pruning key (``partition_by``), and rewrites must be atomic.  Without
delta-spark we get atomicity from a write-to-staging + directory-swap
protocol (single-filesystem rename), which also keeps readers from seeing
half-written output."""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame

from ..session import delta_available


def overwrite_path(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
) -> None:
    """S9: overwrite a table directory (``/root/reference/Silver_Customers.py:41``).

    Parquet fallback is atomic-ish: stage to ``<path>.__stage_<uuid>`` then
    swap.  Delta (when available) gets transactional overwrite natively.
    """
    if delta_available():
        writer = df.write.mode("overwrite").format("delta")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(path)
        return
    stage = f"{path}.__stage_{uuid.uuid4().hex[:8]}"
    writer = df.write.mode("overwrite").format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(stage)
    old = f"{path}.__old_{uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(stage, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def atomic_dir_swap(stage: str, path: str) -> None:
    """Promote a fully-built staging directory to ``path`` with the same
    rename protocol as :func:`overwrite_path` — used by multi-table
    artifacts (MinHash/IVF indexes: several parquet tables + a manifest)
    that must appear to readers all-at-once or not at all.  A build that
    crashes mid-way leaves only an orphaned ``.__stage_*`` dir; the live
    artifact is never a mix of old and new components."""
    old = f"{path}.__old_{uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(stage, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def save_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed catalog table: rows are hash-clustered into ``buckets``
    files per partition on ``bucket_cols`` (optionally sorted inside each
    bucket).

    This is the 100 TB co-location primitive: two tables bucketed the same
    way join with **zero Exchange** — the shuffle was paid once at write
    time and amortizes over every subsequent join/aggregation on the
    bucket key (`tests/test_bucketing.py` pins the no-Exchange plan).
    Spark's bucketing needs the catalog (``saveAsTable``), hence no path
    variant; bucket counts should be sized so one bucket ≈ one task's
    comfortable input (128-512 MB).
    """
    writer = df.write.format("parquet").mode(mode).bucketBy(
        buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)


def _discover_partition_columns(path: str) -> list[str]:
    """Partition-column names of a hive-layout directory, outermost first
    — one ``key=value`` level per nesting depth — or ``[]`` for a flat
    directory.  Follows the first data-bearing chain; hive layouts are
    uniform by construction (every writer here and in Spark emits the
    same key at the same depth)."""
    keys: list[str] = []
    cur = path
    while True:
        subdirs = [
            d for d in os.listdir(cur)
            if os.path.isdir(os.path.join(cur, d))
            and "=" in d and not d.startswith((".", "_"))
        ]
        if not subdirs:
            return keys
        keys.append(sorted(subdirs)[0].split("=", 1)[0])
        cur = os.path.join(cur, sorted(subdirs)[0])


def compact_path(
    spark,
    path: str,
    target_file_mb: int = 128,
    partition_by: list[str] | None = None,
) -> int:
    """Compact a parquet directory's small files toward ``target_file_mb``
    and return the new file count — the OPTIMIZE/bin-packing maintenance
    op every long-lived table needs (streaming sinks, per-batch appends,
    and hive-partitioned writes all accrete small files, and at 100 TB
    file-count is a planning-time cost: each file is a split to list,
    open, and footer-read).

    File count is sized from the directory's actual bytes
    (``ceil(total_bytes / target)``, floor 1), the data is rewritten to a
    staging dir and promoted with one rename (readers never see a
    half-compacted table), and row content is preserved exactly —
    compaction changes layout, never data.  ``partition_by``
    re-partitions the rewrite by those columns (compact AND cluster in
    one pass).  Parquet compression makes the on-disk result
    approximate; the guarantee is the file-count reduction, not an exact
    size.

    **Plain-parquet directories only** (always staged as parquet,
    regardless of delta availability): a Delta table's directory mixes
    live and tombstoned files that only the transaction log separates —
    listing-based compaction would resurrect deleted rows, so Delta
    tables are refused here (use ``OPTIMIZE`` there instead).
    """
    import math

    if os.path.isdir(os.path.join(path, "_delta_log")):
        raise ValueError(
            "compact_path is for plain parquet directories; this is a "
            "Delta table — compact it with OPTIMIZE so tombstoned files "
            "are not resurrected"
        )
    discovered = _discover_partition_columns(path)
    if partition_by is None and discovered:
        # A hive-partitioned layout rewritten without partitionBy would
        # flatten the partition columns into the data files — losing
        # directory pruning. Derive the keys from the key=value levels so
        # compaction preserves layout (ADVICE r6); the caller can still
        # pass an explicit partition_by to re-cluster differently.
        partition_by = discovered
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    if partition_by:
        out = df.repartition(n_files, *partition_by)
    else:
        out = df.repartition(n_files)
    stage = f"{path.rstrip('/')}.__stage_{uuid.uuid4().hex[:8]}"
    writer = out.write.mode("overwrite").format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(stage)
    atomic_dir_swap(stage, path.rstrip("/"))
    written = 0
    for root, _dirs, files in os.walk(path):
        written += sum(
            1 for f in files if f.endswith(".parquet") and not f.startswith(".")
        )
    return written
