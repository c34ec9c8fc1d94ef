"""Streaming bronze ingest: exactly-once checkpointing, schema pinning,
incremental file discovery (SURVEY.md §2.9 invariant tests — oracle-free)."""

from __future__ import annotations

import os
import shutil

import pytest

from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.streaming import (
    bronze,
)

EVENTS = "/root/testdata/sf0.001/events.parquet"


@pytest.fixture()
def dirs(tmp_path):
    src = tmp_path / "source" / "events"
    src.mkdir(parents=True)
    shutil.copy(EVENTS, src / "part-000.parquet")
    return {
        "src": str(src),
        "bronze": str(tmp_path / "bronze" / "events"),
        "ckpt": str(tmp_path / "ckpt" / "events"),
    }


def test_ingest_exactly_once_and_incremental(spark, dirs):
    n_src = spark.read.parquet(dirs["src"]).count()

    bronze.ingest(spark, dirs["src"], dirs["bronze"], dirs["ckpt"])
    out = spark.read.parquet(dirs["bronze"])
    assert out.count() == n_src
    assert "_rescued_data" in out.columns
    assert out.filter(out["_rescued_data"].isNotNull()).count() == 0

    # Re-run with no new files → checkpoint prevents duplicates (ST2).
    bronze.ingest(spark, dirs["src"], dirs["bronze"], dirs["ckpt"])
    assert spark.read.parquet(dirs["bronze"]).count() == n_src

    # Drop a new file → only the delta is ingested (ST1).
    shutil.copy(EVENTS, os.path.join(dirs["src"], "part-001.parquet"))
    bronze.ingest(spark, dirs["src"], dirs["bronze"], dirs["ckpt"])
    assert spark.read.parquet(dirs["bronze"]).count() == 2 * n_src


def test_rescue_captures_drifted_columns(spark, dirs, tmp_path):
    """Auto Loader `_rescued_data` parity: a column that appears in the
    source *after* the schema pin is captured as JSON, not silently lost
    (``/root/reference/Bronze_Layer.py:20-23``)."""
    from pyspark.sql import functions as F

    # Pin the schema + ingest the clean batch.
    bronze.ingest(spark, dirs["src"], dirs["bronze"], dirs["ckpt"])
    n_clean = spark.read.parquet(dirs["bronze"]).count()

    # A late file drifts: same columns plus a new `vendor` field.
    drifted = (
        spark.read.parquet(dirs["src"])
        .limit(10)
        .withColumn("vendor", F.concat(F.lit("v-"), F.col("event_id")))
    )
    staging = str(tmp_path / "drifted")
    drifted.coalesce(1).write.parquet(staging)
    import glob

    shutil.copy(
        glob.glob(os.path.join(staging, "part-*.parquet"))[0],
        os.path.join(dirs["src"], "part-001-drifted.parquet"),
    )

    bronze.ingest(spark, dirs["src"], dirs["bronze"], dirs["ckpt"])
    out = spark.read.parquet(dirs["bronze"])
    # Bronze schema is unchanged — the drifted column is folded into rescue.
    assert "vendor" not in out.columns
    rescued = out.filter(F.col("_rescued_data").isNotNull())
    assert rescued.count() == 10
    assert out.count() == n_clean + 10
    sample = rescued.select(
        F.get_json_object("_rescued_data", "$.vendor").alias("v"),
        F.col("event_id"),
    ).limit(1).collect()[0]
    assert sample["v"] == f"v-{sample['event_id']}"
    # Clean rows (old and new) keep a NULL rescue column.
    assert out.filter(F.col("_rescued_data").isNull()).count() == n_clean


def test_schema_pin_survives_capture_calls(spark, dirs):
    s1 = bronze.capture_schema(spark, dirs["src"], dirs["ckpt"] + "/_schema")
    s2 = bronze.capture_schema(spark, dirs["src"], dirs["ckpt"] + "/_schema")
    assert s1 == s2
    assert os.path.exists(os.path.join(dirs["ckpt"], "_schema", bronze.SCHEMA_FILE))


import pytest


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_stateful_sessionize_cross_batch_timeout(spark, tmp_path, provider):
    """Two micro-batches: batch 1's open sessions time out when batch 2
    advances the event-time watermark past last+gap; sessions closed by a
    later in-batch event emit immediately.  Runs on both built-in state
    stores — semantics must not depend on the backend (RocksDB is the
    large-state scale path, see ``stateful.ROCKSDB_STATE_STORE``)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.streaming import (
        stateful,
    )

    src = tmp_path / "src"
    src.mkdir()
    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def write(name, rows, mtime):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts"]).astype(
            {"ts": "datetime64[us]"}
        )
        p = src / name
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), p)
        os.utime(p, (mtime, mtime))

    # Batch 1: user 1 closes a session in-batch (45 min gap); user 2 stays open.
    write("f1.parquet", [
        (1, t0), (1, t0 + pd.Timedelta(seconds=10)),
        (1, t0 + pd.Timedelta(minutes=45)),
        (2, t0 + pd.Timedelta(seconds=5)),
    ], mtime=1_000_000)
    # Batch 2 (later mtime): watermark jumps to t0+45m, timing out user 2's
    # session (end t0+30m5s) and closing user 1's t0+45m session in-batch.
    write("f2.parquet", [(1, t0 + pd.Timedelta(hours=2))], mtime=2_000_000)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sess = stateful.sessionize(stream, "ts", "user_id", gap_seconds=1800)
    out = stateful.run_to_memory(
        spark,
        sess,
        str(tmp_path / "ckpt"),
        state_store_provider=(
            stateful.ROCKSDB_STATE_STORE
            if provider == "rocksdb"
            else stateful.HDFS_STATE_STORE
        ),
    )
    rows = {
        (r["user_id"], str(r["session_start"]), r["n_events"])
        for r in out.collect()
    }
    assert (1, "2024-01-01 00:00:00", 2) in rows          # closed in batch 1
    assert (2, "2024-01-01 00:00:05", 1) in rows          # timed out in batch 2
    assert (1, "2024-01-01 00:45:00", 1) in rows          # closed in batch 2
    # user 1's final session (t0+2h) never times out — stays in state.
    assert len(rows) == 3


def test_session_window_batch_matches_stateful_islands(spark):
    """Batch session_window and the islands definition agree on the fixture
    events table (same gap semantics: merge iff gap < 30 min)."""
    from pyspark.sql import functions as F

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark import (
        workload,
    )
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.streaming import (
        windows as sw,
    )

    events = workload.load_events(spark, "/root/testdata/sf0.001")
    out = sw.session_window(
        events, "ts", "30 minutes", ["user_id"], [F.count(F.lit(1)).alias("n")]
    )
    total = out.agg(F.sum("n")).collect()[0][0]
    assert total == events.count()      # every event lands in exactly one session
    bad = out.filter(F.col("window_end") <= F.col("window_start")).count()
    assert bad == 0


def test_dataset_fanout(spark, tmp_path):
    for ds in ("a", "b"):
        d = tmp_path / "source" / ds
        d.mkdir(parents=True)
        shutil.copy(EVENTS, d / "f.parquet")
    bronze.ingest_datasets(
        spark,
        [{"folder_name": "a"}, {"folder_name": "b"}],
        str(tmp_path / "source"), str(tmp_path / "bronze"), str(tmp_path / "ckpt"),
    )
    n = spark.read.parquet(EVENTS).count()
    assert spark.read.parquet(str(tmp_path / "bronze" / "a")).count() == n
    assert spark.read.parquet(str(tmp_path / "bronze" / "b")).count() == n


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicate event_ids arriving in later micro-batches (within the
    watermark horizon) are dropped by the streaming dedup operator."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.streaming import (
        stateful,
        windows as sw,
    )

    src = tmp_path / "src"
    src.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")

    def write(name, rows):
        pq.write_table(
            pa.Table.from_pandas(
                pd.DataFrame(rows, columns=["event_id", "ts", "v"])
            ),
            str(src / name),
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )

    write("b1.parquet", [(1, base, 1.0), (2, base + pd.Timedelta("1min"), 2.0)])
    write("b2.parquet", [(2, base + pd.Timedelta("2min"), 99.0),   # dup key
                         (3, base + pd.Timedelta("3min"), 3.0)])
    # the file source orders micro-batches by modification time; two files
    # written in the same millisecond would arrive in listing order
    t = os.path.getmtime(src / "b2.parquet") - 60
    os.utime(src / "b1.parquet", (t, t))

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    deduped = sw.dedup_stream(stream, ["event_id"], ts_col="ts", watermark="10 minutes")
    out = stateful.run_to_memory(spark, deduped, str(tmp_path / "ckpt"))
    rows = {(r["event_id"], r["v"]) for r in out.collect()}
    assert rows == {(1, 1.0), (2, 2.0), (3, 3.0)}
