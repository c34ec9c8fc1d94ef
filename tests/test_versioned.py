"""Delta-style time travel on the parquet lane: version reads, timestamp
reads, history, restore-as-new-version, vacuum retention."""

from __future__ import annotations

import os

import pytest

from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
    versioned as V,
)


def _ids(df):
    return sorted(r["id"] for r in df.collect())


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    for n, ts in ((2, 100.0), (4, 200.0), (6, 300.0)):
        df = spark.range(n).withColumnRenamed("id", "id_tmp").selectExpr(
            "id_tmp as id"
        )
        V.overwrite_versioned(df, path, now=ts)
    return path


def test_version_reads_and_current(spark, table):
    assert V.current_version(table) == 2
    assert _ids(V.read_version(spark, table, 0)) == [0, 1]
    assert _ids(V.read_version(spark, table, 1)) == [0, 1, 2, 3]
    assert _ids(V.read_version(spark, table, 2)) == list(range(6))
    # the CURRENT data stays plain parquet at the table path
    assert _ids(spark.read.parquet(table)) == list(range(6))


def test_timestamp_as_of(spark, table):
    assert _ids(V.read_as_of(spark, table, 150.0)) == [0, 1]
    assert _ids(V.read_as_of(spark, table, 200.0)) == [0, 1, 2, 3]  # inclusive
    assert _ids(V.read_as_of(spark, table, 9e9)) == list(range(6))
    with pytest.raises(ValueError, match="no version committed"):
        V.read_as_of(spark, table, 50.0)


def test_history_newest_first(spark, table):
    h = V.history(table)
    assert [e["version"] for e in h] == [2, 1, 0]
    assert [e["committed_at"] for e in h] == [300.0, 200.0, 100.0]


def test_restore_appends_new_version(spark, table):
    v = V.restore(spark, table, 0, now=400.0)
    assert v == 3
    assert _ids(spark.read.parquet(table)) == [0, 1]
    h = V.history(table)
    assert h[0]["operation"] == "RESTORE(v0)"
    # the pre-restore state is itself retained
    assert _ids(V.read_version(spark, table, 2)) == list(range(6))


def test_vacuum_drops_data_keeps_history(spark, table):
    dropped = V.vacuum(table, keep_last=1)
    assert dropped == [0]
    assert [e["version"] for e in V.history(table)] == [2, 1, 0]
    with pytest.raises(ValueError, match="vacuumed"):
        V.read_version(spark, table, 0)
    assert _ids(V.read_version(spark, table, 1)) == [0, 1, 2, 3]


def test_unknown_version_raises(spark, table):
    with pytest.raises(ValueError, match="unknown version"):
        V.read_version(spark, table, 9)


def test_partitioned_versioned_overwrite(spark, tmp_path):
    path = str(tmp_path / "ptbl")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "id long, part string"
    )
    V.overwrite_versioned(df, path, partition_by=["part"], now=1.0)
    assert os.path.isdir(os.path.join(path, "part=a"))
    V.overwrite_versioned(df.filter("part = 'a'"), path,
                          partition_by=["part"], now=2.0)
    assert _ids(V.read_version(spark, path, 0)) == [1, 2, 3]
    assert _ids(spark.read.parquet(path)) == [1, 3]


def test_table_changes_classifies_all_row_classes(spark, tmp_path):
    """CDF snapshot diff: inserts, deletes, and update pre/post images, one
    full-outer join; unchanged rows never appear."""
    path = str(tmp_path / "cdf")
    v0 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, val double",
    )
    v1 = spark.createDataFrame(
        [(2, "b", 20.0), (3, "C", 30.0), (4, "d", 40.0)],
        "id long, name string, val double",
    )
    V.overwrite_versioned(v0, path, now=1.0)
    V.overwrite_versioned(v1, path, now=2.0)
    rows = {
        (r["id"], r["_change_type"]): (r["name"], r["val"], r["_commit_version"])
        for r in V.table_changes(spark, path, ["id"], 0, 1).collect()
    }
    assert rows == {
        (1, "delete"): ("a", 10.0, 1),
        (3, "update_preimage"): ("c", 30.0, 1),
        (3, "update_postimage"): ("C", 30.0, 1),
        (4, "insert"): ("d", 40.0, 1),
    }  # id 2 unchanged -> absent


def test_table_changes_null_safe_update_detection(spark, tmp_path):
    path = str(tmp_path / "cdfnull")
    V.overwrite_versioned(
        spark.createDataFrame([(1, None), (2, "x")], "id long, name string"),
        path, now=1.0,
    )
    V.overwrite_versioned(
        spark.createDataFrame([(1, None), (2, None)], "id long, name string"),
        path, now=2.0,
    )
    got = {
        (r["id"], r["_change_type"])
        for r in V.table_changes(spark, path, ["id"], 0, 1).collect()
    }
    # NULL == NULL is "unchanged" (null-safe); x -> NULL is an update
    assert got == {(2, "update_preimage"), (2, "update_postimage")}


def test_table_changes_schema_change_refused(spark, tmp_path):
    path = str(tmp_path / "cdfschema")
    V.overwrite_versioned(spark.createDataFrame([(1,)], "id long"), path, now=1.0)
    V.overwrite_versioned(
        spark.createDataFrame([(1, "x")], "id long, extra string"), path, now=2.0
    )
    with pytest.raises(ValueError, match="schema change"):
        V.table_changes(spark, path, ["id"], 0, 1)


def test_cdf_drives_apply_changes_scd1(spark, tmp_path):
    """End-to-end: a versioned table's CDF, adapted by cdf_to_cdc_events,
    drives apply_changes — upserts land, deletes expire the key."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.plans import (
        scd,
    )

    path = str(tmp_path / "dim_src")
    V.overwrite_versioned(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        ),
        path, now=1.0,
    )
    V.overwrite_versioned(
        spark.createDataFrame([(1, "a"), (2, "B2")], "id long, v string"),
        path, now=2.0,
    )
    events = V.cdf_to_cdc_events(V.table_changes(spark, path, ["id"], 0, 1))
    assert set(events.columns) == {"id", "v", "operation", "sequence_num"}
    state = scd.apply_changes(
        target=None,
        source=events,
        keys=["id"],
        sequence_by="sequence_num",
        stored_as_scd_type=1,
        apply_as_deletes="operation = 'DELETE'",
        now="2024-01-01 00:00:00",
    )
    rows = {r["id"]: r["v"] for r in state.collect()}
    assert rows == {2: "B2"}  # update applied; delete (id 3) never lands


def test_recover_restores_interrupted_commit(spark, tmp_path):
    """Simulated crash between the two commit renames: the live dir was
    renamed aside, the staged replacement never promoted — recover() puts
    the logged current version back and sweeps stage orphans."""
    path = str(tmp_path / "crash")
    V.overwrite_versioned(spark.range(3), path, now=1.0)
    V.overwrite_versioned(spark.range(5), path, now=2.0)
    # crash simulation: live (v1) renamed aside as if a third commit began,
    # stage left orphaned, log never appended
    os.rename(path, os.path.join(V._vroot(path), "v1"))
    os.makedirs(f"{path}.__stage_deadbeef")
    assert V.recover(path) is True
    assert spark.read.parquet(path).count() == 5
    assert not os.path.exists(f"{path}.__stage_deadbeef")
    # idempotent on a healthy table
    assert V.recover(path) is False
    assert spark.read.parquet(path).count() == 5


def test_table_changes_null_first_key_classified_by_markers(spark, tmp_path):
    """A row whose FIRST key column is NULL must still classify (ADVICE
    r7: key-nullness classification silently dropped it): NULL-keyed
    insert, delete, and update all appear in the feed."""
    path = str(tmp_path / "cdfnullkey")
    V.overwrite_versioned(
        spark.createDataFrame(
            [(None, 1, "gone"), (None, 2, "old"), (7, 3, "keep")],
            "k long, sub long, v string",
        ),
        path, now=1.0,
    )
    V.overwrite_versioned(
        spark.createDataFrame(
            [(None, 2, "new"), (None, 9, "born"), (7, 3, "keep")],
            "k long, sub long, v string",
        ),
        path, now=2.0,
    )
    got = {
        (r["k"], r["sub"], r["_change_type"], r["v"])
        for r in V.table_changes(spark, path, ["k", "sub"], 0, 1).collect()
    }
    assert got == {
        (None, 1, "delete", "gone"),
        (None, 2, "update_preimage", "old"),
        (None, 2, "update_postimage", "new"),
        (None, 9, "insert", "born"),
    }


def test_table_changes_per_commit_yields_every_commit(spark, tmp_path):
    """A row updated in two commits appears as two pre/post pairs (the
    net feed coalesces them); each event carries its own commit version;
    a gap outside the log raises."""
    path = str(tmp_path / "cdfpc")
    V.overwrite_versioned(
        spark.createDataFrame([(1, "a0"), (2, "b")], "id long, v string"),
        path, now=1.0,
    )
    V.overwrite_versioned(
        spark.createDataFrame([(1, "a1"), (2, "b")], "id long, v string"),
        path, now=2.0,
    )
    V.overwrite_versioned(
        spark.createDataFrame([(1, "a2")], "id long, v string"),
        path, now=3.0,
    )
    got = {
        (r["id"], r["_change_type"], r["_commit_version"], r["v"])
        for r in V.table_changes_per_commit(
            spark, path, ["id"], 0, 2
        ).collect()
    }
    assert got == {
        (1, "update_preimage", 1, "a0"),
        (1, "update_postimage", 1, "a1"),
        (1, "update_preimage", 2, "a1"),
        (1, "update_postimage", 2, "a2"),
        (2, "delete", 2, "b"),
    }
    # the net feed coalesces id 1 into ONE pair
    net = {
        (r["id"], r["_change_type"])
        for r in V.table_changes(spark, path, ["id"], 0, 2).collect()
    }
    assert net == {
        (1, "update_preimage"), (1, "update_postimage"), (2, "delete"),
    }
    with pytest.raises(ValueError, match="must be >"):
        V.table_changes_per_commit(spark, path, ["id"], 2, 2)
    with pytest.raises(ValueError, match="does not cover"):
        V.table_changes_per_commit(spark, path, ["id"], 0, 9)


def test_recover_rolls_promoted_but_unlogged_commit_forward(spark, tmp_path):
    """The ADVICE r7 hole: a crash AFTER promoting the stage but BEFORE
    the log append previously left new data attributed to the old
    version and wedged the next overwrite.  With the write-ahead intent,
    recover() appends the missing log entry, and the table keeps
    accepting commits."""
    path = str(tmp_path / "crash2")
    V.overwrite_versioned(spark.range(3), path, now=1.0)
    # hand-run commit v1 up to (not including) the log append, exactly as
    # overwrite_versioned orders the steps
    stage = f"{path}.__stage_crashsim"
    spark.range(5).write.parquet(stage)
    entry = {"version": 1, "committed_at": 2.0, "operation": "WRITE"}
    V._write_intent(path, {"stage": stage, "entry": entry})
    os.rename(path, os.path.join(V._vroot(path), "v0"))
    os.rename(stage, path)
    # ...crash here: promoted but unlogged
    assert V.current_version(path) == 0          # the silent-wrong window
    assert V.recover(path) is True
    assert V.current_version(path) == 1          # rolled forward
    assert spark.read.parquet(path).count() == 5
    assert V.read_version(spark, path, 0).count() == 3
    assert V.overwrite_versioned(spark.range(7), path, now=3.0) == 2  # unwedged
    assert V.recover(path) is False              # idempotent when healthy


def test_recover_rolls_staged_intent_forward_from_any_step(spark, tmp_path):
    """Crashes before the aside-rename and between the renames also roll
    forward off the intent (the stage is known-complete once the intent
    exists)."""
    # crash BEFORE the aside-rename: table untouched, stage + intent live
    path = str(tmp_path / "crash3")
    V.overwrite_versioned(spark.range(3), path, now=1.0)
    stage = f"{path}.__stage_crashsim3"
    spark.range(5).write.parquet(stage)
    entry = {"version": 1, "committed_at": 2.0, "operation": "WRITE"}
    V._write_intent(path, {"stage": stage, "entry": entry})
    assert V.recover(path) is True
    assert V.current_version(path) == 1
    assert spark.read.parquet(path).count() == 5
    assert V.read_version(spark, path, 0).count() == 3

    # crash BETWEEN the renames: aside done, stage not yet promoted
    path2 = str(tmp_path / "crash4")
    V.overwrite_versioned(spark.range(3), path2, now=1.0)
    stage2 = f"{path2}.__stage_crashsim4"
    spark.range(5).write.parquet(stage2)
    V._write_intent(path2, {"stage": stage2, "entry": dict(entry)})
    os.rename(path2, os.path.join(V._vroot(path2), "v0"))
    assert V.recover(path2) is True
    assert V.current_version(path2) == 1
    assert spark.read.parquet(path2).count() == 5


def test_optimize_compact_merges_files_keeps_data_and_history(spark, tmp_path):
    path = str(tmp_path / "opt")
    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    V.overwrite_versioned(df.repartition(16), path, now=1.0)
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import versioned as VV
    n_before = len(VV._data_files(path))
    assert n_before == 16
    v = V.optimize_compact(spark, path, target_file_bytes=64 * 1024 * 1024, now=2.0)
    assert v == 1
    assert len(VV._data_files(path)) < n_before
    # pure layout: same rows, and time travel to the pre-compaction version works
    assert sorted(r.k for r in spark.read.parquet(path).collect()) == list(range(2000))
    assert V.read_version(spark, path, 0).count() == 2000
    assert V.history(path)[0]["operation"] == "OPTIMIZE"


def test_optimize_compact_noop_when_already_compact(spark, tmp_path):
    path = str(tmp_path / "opt_noop")
    V.overwrite_versioned(spark.range(10).coalesce(1), path, now=1.0)
    assert V.optimize_compact(spark, path, target_file_bytes=1) == 0
    assert len(V.history(path)) == 1  # no churned history entry


def test_optimize_compact_requires_versioned_table(spark, tmp_path):
    path = str(tmp_path / "plain")
    spark.range(5).write.parquet(path)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="no version log"):
        V.optimize_compact(spark, path)


def test_commit_time_stats_enable_skipping_after_optimize(spark, tmp_path):
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import skipping
    path = str(tmp_path / "opt_stats")
    df = spark.range(0, 4000).withColumnRenamed("id", "k")
    V.overwrite_versioned(df.repartitionByRange(16, "k"), path, now=1.0)
    # compact to ~4 files so range pruning still has something to skip
    V.optimize_compact(spark, path, target_file_bytes=12 * 1024, now=2.0,
                       stats_columns=["k"])
    manifest = skipping.read_stats_manifest(spark, path)
    assert manifest is not None
    kept, total = skipping.pruned_files(spark, path, "k", lower=100, upper=200)
    assert total > 1 and 0 < len(kept) < total
    out = skipping.read_skipping(spark, path, "k", lower=100, upper=200)
    assert out.count() == 101


def test_delete_where_commits_new_version_and_cdf_reports_deletes(spark, tmp_path):
    path = str(tmp_path / "del")
    df = spark.range(0, 100).withColumnRenamed("id", "k")
    V.overwrite_versioned(df, path, now=1.0)
    from pyspark.sql import functions as F
    v = V.delete_where(spark, path, F.col("k") % 10 == 0, now=2.0)
    assert v == 1
    assert spark.read.parquet(path).count() == 90
    assert V.history(path)[0]["operation"] == "DELETE"
    ch = V.table_changes(spark, path, ["k"], 0, 1)
    rows = {(r.k, r._change_type) for r in ch.collect()}
    assert rows == {(k, "delete") for k in range(0, 100, 10)}


def test_delete_where_null_condition_keeps_row(spark, tmp_path):
    from pyspark.sql import functions as F
    path = str(tmp_path / "del_null")
    df = spark.createDataFrame([(1, "a"), (2, None), (3, "b")], "k int, s string")
    V.overwrite_versioned(df, path, now=1.0)
    V.delete_where(spark, path, F.col("s") == "a", now=2.0)
    # NULL-conditioned rows survive (three-valued logic: NULL is not TRUE)
    assert sorted(r.k for r in spark.read.parquet(path).collect()) == [2, 3]


def test_update_where_simultaneous_assignment_pre_update_row(spark, tmp_path):
    from pyspark.sql import functions as F
    path = str(tmp_path / "upd")
    df = spark.createDataFrame([(1, 10, 20), (2, 30, 40)], "k int, a int, b int")
    V.overwrite_versioned(df, path, now=1.0)
    # swap a and b where k=1: both assignments must see the PRE-update row
    V.update_where(spark, path, F.col("k") == 1,
                   {"a": F.col("b"), "b": F.col("a")}, now=2.0)
    got = {(r.k, r.a, r.b) for r in spark.read.parquet(path).collect()}
    assert got == {(1, 20, 10), (2, 30, 40)}
    assert V.history(path)[0]["operation"] == "UPDATE"


def test_update_where_unknown_column_refused(spark, tmp_path):
    from pyspark.sql import functions as F
    import pytest as _pytest
    path = str(tmp_path / "upd_bad")
    V.overwrite_versioned(spark.range(5), path, now=1.0)
    with _pytest.raises(ValueError, match="unknown column"):
        V.update_where(spark, path, F.col("id") == 1, {"nope": F.lit(0)})


def test_schema_mode_enforce_refuses_changes(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import functions as F
    path = str(tmp_path / "enf")
    V.overwrite_versioned(spark.range(3).withColumn("a", F.lit(1)), path, now=1.0)
    # identical schema: fine
    V.overwrite_versioned(spark.range(4).withColumn("a", F.lit(2)), path, now=2.0,
                          schema_mode="enforce")
    with _pytest.raises(ValueError, match="refuses column changes"):
        V.overwrite_versioned(
            spark.range(2).withColumn("b", F.lit(9)), path, schema_mode="enforce"
        )
    with _pytest.raises(ValueError, match="refuses type changes"):
        V.overwrite_versioned(
            spark.range(2).withColumn("a", F.lit("s")), path, schema_mode="enforce"
        )
    assert V.current_version(path) == 1  # refused writes committed nothing


def test_schema_mode_merge_is_additive_and_backfills(spark, tmp_path):
    from pyspark.sql import functions as F
    path = str(tmp_path / "mrg")
    V.overwrite_versioned(spark.range(3).withColumn("a", F.lit(1)), path, now=1.0)
    # incoming frame drops `a`, adds `b`: a retained+NULL, b appended
    V.overwrite_versioned(spark.range(2).withColumn("b", F.lit(7)), path, now=2.0,
                          schema_mode="merge")
    out = spark.read.parquet(path)
    assert set(out.columns) == {"id", "b", "a"}
    assert all(r.a is None and r.b == 7 for r in out.collect())
    import pytest as _pytest
    with _pytest.raises(ValueError, match="refuses type changes"):
        V.overwrite_versioned(
            spark.range(2).withColumn("b", F.lit("s")), path, schema_mode="merge"
        )


def test_optimize_compact_preserves_hive_partition_layout(spark, tmp_path):
    import os
    from pyspark.sql import functions as F
    path = str(tmp_path / "opt_part")
    df = (spark.range(0, 300)
          .withColumn("bucket", (F.col("id") % 3).cast("string"))
          .withColumnRenamed("id", "k"))
    # 4 files per partition dir
    V.overwrite_versioned(df.repartition(4), path, partition_by=["bucket"], now=1.0)
    pre_dirs = sorted(d for d in os.listdir(path) if d.startswith("bucket="))
    assert pre_dirs == ["bucket=0", "bucket=1", "bucket=2"]
    V.optimize_compact(spark, path, target_file_bytes=64 * 1024 * 1024, now=2.0)
    post_dirs = sorted(d for d in os.listdir(path) if d.startswith("bucket="))
    assert post_dirs == pre_dirs  # layout (and thus pruning) survives
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import versioned as VV
    per_dir = {}
    for d in post_dirs:
        per_dir[d] = len(VV._data_files(os.path.join(path, d)))
    assert all(n == 1 for n in per_dir.values()), per_dir  # packed within partitions
    assert spark.read.parquet(path).count() == 300
    assert V.history(path)[0]["operation"] == "OPTIMIZE"


def test_check_constraints_gate_commits(spark, tmp_path):
    import pytest as _pytest
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.plans.expectations import ExpectationError
    path = str(tmp_path / "chk")
    rules = {"positive_k": "k >= 0", "k_bounded": "k < 1000"}
    df_ok = spark.range(10).withColumnRenamed("id", "k")
    V.overwrite_versioned(df_ok, path, now=1.0, constraints=rules)
    assert V.current_version(path) == 0
    from pyspark.sql import functions as F
    df_bad = spark.range(10).withColumnRenamed("id", "k").withColumn(
        "k", F.col("k") - 5
    )
    with _pytest.raises(ExpectationError, match="positive_k"):
        V.overwrite_versioned(df_bad, path, now=2.0, constraints=rules)
    # nothing committed, table unwedged, prior data intact
    assert V.current_version(path) == 0
    assert spark.read.parquet(path).count() == 10
    V.overwrite_versioned(df_ok, path, now=3.0, constraints=rules)
    assert V.current_version(path) == 1


def test_persisted_constraints_gate_dml_paths(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import functions as F
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.plans.expectations import ExpectationError
    path = str(tmp_path / "chk2")
    V.overwrite_versioned(spark.range(1, 11).withColumnRenamed("id", "k"), path, now=1.0)
    V.set_constraints(path, {"positive_k": "k > 0"})
    # UPDATE that would violate the table constraint is refused wholesale
    with _pytest.raises(ExpectationError, match="positive_k"):
        V.update_where(spark, path, F.col("k") == 1, {"k": F.lit(-1)}, now=2.0)
    assert V.current_version(path) == 0
    # a clean DELETE passes through the same gate
    V.delete_where(spark, path, F.col("k") == 10, now=3.0)
    assert V.current_version(path) == 1
    assert V.get_constraints(path) == {"positive_k": "k > 0"}
    V.set_constraints(path, {})  # drop
    V.update_where(spark, path, F.col("k") == 1, {"k": F.lit(-1)}, now=4.0)
    assert V.current_version(path) == 2


def test_optimize_zorder_enables_box_pruning_and_keeps_data(spark, tmp_path):
    from pyspark.sql import functions as F
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import skipping
    path = str(tmp_path / "zorder")
    df = (spark.range(0, 4096)
          .select(F.col("id").alias("a"), (F.col("id") * 2654435761 % 4096).alias("b")))
    V.overwrite_versioned(df.repartition(16), path, now=1.0)
    v = V.optimize_zorder(spark, path, "a", "b", n_files=16, now=2.0)
    assert v == 1
    assert V.history(path)[0]["operation"] == "OPTIMIZE ZORDER(a,b)"
    # data identical, pre-optimize version intact
    assert spark.read.parquet(path).count() == 4096
    assert V.read_version(spark, path, 0).count() == 4096
    # box predicate prunes on BOTH dimensions through the auto-collected stats
    box = {"a": (0, 511), "b": (0, 511)}
    kept, total = skipping.pruned_files_multi(spark, path, box)
    assert total == 16 and 0 < len(kept) < total
    got = skipping.read_skipping_multi(spark, path, box)
    want = spark.read.parquet(path).where(
        F.col("a").between(0, 511) & F.col("b").between(0, 511)
    )
    assert got.count() == want.count()


def test_table_detail_reflects_lifecycle(spark, tmp_path):
    from pyspark.sql import functions as F
    path = str(tmp_path / "detail")
    V.overwrite_versioned(spark.range(100).withColumnRenamed("id", "k"), path, now=1.0)
    V.set_constraints(path, {"pos": "k >= 0"})
    V.update_where(spark, path, F.col("k") == 1, {"k": F.lit(101)}, now=2.0)
    V.delete_where(spark, path, F.col("k") > 100, now=3.0)
    V.optimize_compact(spark, path, target_file_bytes=64 * 1024 * 1024, now=4.0)
    V.vacuum(path, keep_last=1)
    d = V.table_detail(path)
    assert d["current_version"] == 3
    assert d["num_commits"] == 4
    assert d["operations"] == {"WRITE": 1, "UPDATE": 1, "DELETE": 1, "OPTIMIZE": 1}
    assert d["constraints"] == {"pos": "k >= 0"}
    assert d["created_at"] == 1.0 and d["last_modified"] == 4.0
    assert d["num_files"] >= 1 and d["size_bytes"] > 0
    # keep_last=1 retains the newest non-current dir; older ones vacuumed
    assert len(d["vacuumed_versions"]) >= 1
    assert set(d["retained_versions"]) & {2}
    assert d["has_stats_manifest"] is False and d["has_bloom_manifest"] is False


def test_shallow_clone_is_zero_copy_and_independent(spark, tmp_path):
    import os
    from pyspark.sql import functions as F
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    V.overwrite_versioned(spark.range(100).withColumnRenamed("id", "k"), src, now=1.0)
    assert V.clone_table(src, dst, now=2.0) == 0
    # zero-copy: every data file shares its inode with a source file
    def inodes(p):
        out = {}
        for root, dirs, files in os.walk(p):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for f in files:
                if f.endswith(".parquet"):
                    out[f] = os.stat(os.path.join(root, f)).st_ino
        return out
    si, di = inodes(src), inodes(dst)
    assert di and all(di[f] == si[f] for f in di)
    assert spark.read.parquet(dst).count() == 100
    assert V.history(dst)[0]["operation"] == f"CLONE({src}@v0)"
    # diverge the clone: source unaffected, and vice versa
    V.delete_where(spark, dst, F.col("k") >= 50, now=3.0)
    assert spark.read.parquet(dst).count() == 50
    assert spark.read.parquet(src).count() == 100
    V.update_where(spark, src, F.col("k") == 0, {"k": F.lit(999)}, now=4.0)
    assert spark.read.parquet(dst).where("k = 999").count() == 0
    # vacuum on the clone cannot hurt the source (hardlink semantics)
    V.vacuum(dst, keep_last=0)
    assert spark.read.parquet(src).count() == 100
    import pytest as _pytest
    with _pytest.raises(ValueError, match="already exists"):
        V.clone_table(src, dst)


def test_concurrent_claim_refused_cleanly(spark, tmp_path):
    """An in-flight commit (live intent) makes a second committer fail
    fast with ConcurrentWriteError: nothing staged survives, the table
    and its history are untouched."""
    path = str(tmp_path / "cc1")
    V.overwrite_versioned(spark.range(3), path, now=1.0)
    V._claim_intent(path, {"stage": "in-flight"})  # writer A mid-commit
    with pytest.raises(V.ConcurrentWriteError, match="in flight"):
        V.overwrite_versioned(spark.range(5), path, now=2.0)
    assert V.current_version(path) == 0
    assert spark.read.parquet(path).count() == 3
    parent = os.path.dirname(path)
    assert not [d for d in os.listdir(parent) if "__stage_" in d]
    V._release_intent(path)  # writer A finishes; the table unwedges
    assert V.overwrite_versioned(spark.range(5), path, now=3.0) == 1


def test_expected_version_conflict_detection(spark, tmp_path):
    """Delta-style optimistic concurrency: a snapshot-dependent commit
    whose base version moved underneath it raises; the interleaved pair
    leaves a LINEAR history with exactly one winner."""
    from pyspark.sql import functions as F
    path = str(tmp_path / "cc2")
    V.overwrite_versioned(
        spark.range(10).withColumnRenamed("id", "k"), path, now=1.0
    )
    # writer B reads its snapshot at v0 and fully materializes its
    # output (the stage write completes BEFORE A's renames — the one
    # interleaving the rename protocol alone can't catch; the other,
    # B scanning mid-rename, already fails loudly at the stage write)
    snap_v = V.current_version(path)
    kept_b = spark.createDataFrame(
        spark.read.parquet(path).where("k < 5").collect()
    )
    # ...writer A lands first
    V.delete_where(spark, path, F.col("k") >= 8, now=2.0)
    # ...writer B's commit must now fail, not silently drop A's delete
    with pytest.raises(V.ConcurrentWriteError, match="v0.*now at v1"):
        V.overwrite_versioned(kept_b, path, now=3.0, operation="DELETE",
                              expected_version=snap_v)
    assert [e["version"] for e in V.history(path)] == [1, 0]
    assert spark.read.parquet(path).count() == 8  # only A's delete applied
    # B retries against the fresh snapshot: both transactions land serially
    V.delete_where(spark, path, F.col("k") >= 5, now=4.0)
    assert [e["version"] for e in V.history(path)] == [2, 1, 0]
    assert spark.read.parquet(path).count() == 5


def test_log_checkpointing_bounds_tail_and_resolves_identically(spark, tmp_path):
    """25 commits: snapshot resolution anchors on the newest checkpoint
    and reads a bounded tail (< interval), and the resolved history /
    time travel are bit-identical to the accumulated truth."""
    path = str(tmp_path / "ckpt")
    for i in range(25):
        V.overwrite_versioned(spark.range(i + 1), path, now=float(i))
    log = V._read_log(path)
    assert [e["version"] for e in log] == list(range(25))
    assert [e["committed_at"] for e in log] == [float(i) for i in range(25)]
    fp = V.log_read_footprint(path)
    assert fp["base"] == "checkpoint" and fp["base_version"] == 20
    assert fp["tail_files_read"] == 4 and fp["total_commits"] == 25
    assert fp["tail_files_read"] < V.CHECKPOINT_INTERVAL
    # time travel across the checkpoint boundary stays exact
    assert V.read_version(spark, path, 7).count() == 8
    assert V.read_version(spark, path, 24).count() == 25
    assert _ids(V.read_version(spark, path, 19)) == list(range(20))


def test_recover_tolerates_torn_or_claim_only_intent(spark, tmp_path):
    """Power loss mid-intent-write leaves garbage; a crash holding only
    the claim leaves an entry-less intent.  Both prove the commit never
    reached the renames — recover() clears the claim, sweeps orphan
    stages, and the table keeps accepting commits (ADVICE r8: this used
    to raise JSONDecodeError)."""
    path = str(tmp_path / "torn")
    V.overwrite_versioned(spark.range(3), path, now=1.0)
    os.makedirs(f"{path}.__stage_torn")
    with open(V._intent_path(path), "w") as fh:
        fh.write('{"stage": "tru')  # torn mid-write
    assert V.recover(path) is False  # table untouched — nothing to repair
    assert not os.path.exists(V._intent_path(path))
    assert not os.path.exists(f"{path}.__stage_torn")
    assert spark.read.parquet(path).count() == 3
    # claim-only intent (version never assigned): same outcome
    V._claim_intent(path, {"stage": f"{path}.__stage_claimonly"})
    os.makedirs(f"{path}.__stage_claimonly")
    assert V.recover(path) is False
    assert not os.path.exists(V._intent_path(path))
    assert V.overwrite_versioned(spark.range(5), path, now=2.0) == 1


def test_transact_retries_past_interleaved_commit(spark, tmp_path):
    """The optimistic loop re-reads and re-derives after losing the race:
    a commit that lands between snapshot read and commit triggers exactly
    one retry, the final state reflects BOTH transactions, and history is
    linear."""
    from pyspark.sql import functions as F
    path = str(tmp_path / "txn")
    V.overwrite_versioned(
        spark.range(10).withColumnRenamed("id", "k"), path, now=1.0
    )
    calls = {"n": 0}

    def double_k(snap):
        calls["n"] += 1
        if calls["n"] == 1:
            # a concurrent writer lands AFTER our snapshot read
            V.delete_where(spark, path, F.col("k") >= 8, now=2.0)
        return snap.withColumn("k", F.col("k") * 2)

    v = V.transact(spark, path, double_k, now=3.0, operation="DOUBLE",
                   backoff_s=0.0)
    assert v == 2 and calls["n"] == 2  # lost once, re-derived once
    # both transactions applied serially: delete first, then the doubling
    assert _ids(spark.read.parquet(path).withColumnRenamed("k", "id")) == [
        0, 2, 4, 6, 8, 10, 12, 14
    ]
    hist = V.history(path)
    assert [e["operation"] for e in hist] == ["DOUBLE", "DELETE", "WRITE"]


def test_transact_exhausts_retries_and_raises(spark, tmp_path):
    """Every attempt loses (a rival commit lands inside each fn call):
    transact surfaces ConcurrentWriteError after max_retries+1 attempts,
    and none of the losing attempts committed anything."""
    from pyspark.sql import functions as F
    path = str(tmp_path / "txn_lose")
    V.overwrite_versioned(spark.range(4), path, now=1.0)
    calls = {"n": 0}

    def always_raced(snap):
        calls["n"] += 1
        V.overwrite_versioned(
            spark.range(4 + calls["n"]), path, now=1.0 + calls["n"]
        )
        return snap.withColumn("id", F.col("id") + 100)

    with pytest.raises(V.ConcurrentWriteError, match="lost the commit race"):
        V.transact(spark, path, always_raced, max_retries=2, backoff_s=0.0)
    assert calls["n"] == 3
    # only the rival commits are in history; no half-applied transaction
    assert [e["operation"] for e in V.history(path)] == ["WRITE"] * 4
    assert spark.read.parquet(path).count() == 7


def test_merge_versioned_transactional_upsert_delete(spark, tmp_path):
    """MERGE INTO a versioned table: update+insert+delete in one commit,
    visible in history as MERGE and in CDF as row-level changes."""
    from pyspark.sql import functions as F

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.plans import merge as M

    path = str(tmp_path / "mrg")
    V.overwrite_versioned(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "k int, name string, val double",
        ),
        path, now=1.0,
    )
    source = spark.createDataFrame(
        [(2, "b2", 25.0, False), (3, "c", 0.0, True), (4, "d", 40.0, False)],
        "k int, name string, val double, is_delete boolean",
    )
    v = M.merge_versioned(
        spark, path, source, keys=["k"], now=2.0,
        update_set={"name": M.s("name"), "val": M.s("val")},
        insert_values={"k": M.s("k"), "name": M.s("name"), "val": M.s("val")},
        delete_condition=M.s("is_delete"),
    )
    assert v == 1
    assert V.history(path)[0]["operation"] == "MERGE"
    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert got == [(1, "a", 10.0), (2, "b2", 25.0), (4, "d", 40.0)]
    chg = {
        (r["k"], r["_change_type"])
        for r in V.table_changes(spark, path, ["k"], 0, 1).collect()
    }
    assert chg == {
        (2, "update_preimage"), (2, "update_postimage"),
        (3, "delete"), (4, "insert"),
    }


def test_transact_concurrent_threads_all_land_serially(spark, tmp_path):
    """Stress the optimistic protocol: 4 writer threads each run 3
    increment transactions against one table.  Every transaction must
    eventually land (transact absorbs the races), the final value must
    equal the total increment count, and the history must be linear."""
    import threading

    from pyspark.sql import functions as F

    path = str(tmp_path / "ctr")
    V.overwrite_versioned(
        spark.createDataFrame([(0,)], "n long"), path, now=0.0
    )
    n_threads, n_txn = 4, 3
    errors = []

    def worker(tid):
        try:
            for i in range(n_txn):
                V.transact(
                    spark, path,
                    lambda snap: snap.withColumn("n", F.col("n") + 1),
                    max_retries=50, backoff_s=0.02,
                    now=float(tid * 100 + i), operation=f"INC_t{tid}",
                )
        except Exception as e:  # surfaces in the main thread's assert
            errors.append((tid, repr(e)))

    threads = [
        threading.Thread(target=worker, args=(t,)) for t in range(n_threads)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    total = n_threads * n_txn
    assert spark.read.parquet(path).collect()[0]["n"] == total
    hist = V.history(path)
    assert [e["version"] for e in hist] == list(range(total, -1, -1))
    ops = [e["operation"] for e in hist if e["operation"].startswith("INC")]
    assert len(ops) == total  # every transaction committed exactly once


# ---------------------------------------------------------------------------
# replace_partitions: commuting partition-scoped commits (round 11)
# ---------------------------------------------------------------------------

def _mk_parts(spark, path):
    df = spark.createDataFrame(
        [(g, i, g * 100 + i) for g in range(4) for i in range(5)],
        "g int, i int, v int",
    )
    V.overwrite_versioned(df, path, partition_by=["g"], now=0.0)
    return df


def test_replace_partitions_disjoint_writers_both_commit(spark, tmp_path):
    """The Delta commute rule: two writers pinned to the SAME snapshot,
    touching different partitions, must BOTH land without a retry — and
    the second writer's snapshot must carry the first writer's rows."""
    import threading

    path = str(tmp_path / "t")
    _mk_parts(spark, path)
    barrier = threading.Barrier(2)
    errors = []

    def worker(g):
        try:
            barrier.wait()
            new = spark.createDataFrame(
                [(g, i, 9000 + g) for i in range(3)], "g int, i int, v int"
            )
            V.replace_partitions(
                new, path, "g", expected_version=0, now=float(g + 1)
            )
        except Exception as e:
            errors.append((g, repr(e)))

    ts = [threading.Thread(target=worker, args=(g,)) for g in (1, 2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    # the two claims can collide transiently (O_EXCL), but commutation
    # means at most bounded retries are needed — here we assert the
    # strong form: with claim retry handled by the caller, allow one
    # straggler retry
    for g, err in list(errors):
        if "another commit is in flight" in err:
            new = spark.createDataFrame(
                [(g, i, 9000 + g) for i in range(3)], "g int, i int, v int"
            )
            V.replace_partitions(new, path, "g", expected_version=0,
                                 now=float(g + 1))
            errors.remove((g, err))
    assert errors == []
    got = spark.read.parquet(path)
    assert got.filter("g = 1").count() == 3
    assert got.filter("g = 2").count() == 3
    assert {r["v"] for r in got.filter("g = 1").collect()} == {9001}
    assert {r["v"] for r in got.filter("g = 2").collect()} == {9002}
    # untouched partitions intact
    assert got.filter("g = 0").count() == 5
    assert got.filter("g = 3").count() == 5
    assert V.current_version(path) == 2


def test_replace_partitions_overlap_conflicts(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_parts(spark, path)
    a = spark.createDataFrame([(1, 0, 1)], "g int, i int, v int")
    V.replace_partitions(a, path, "g", expected_version=0, now=1.0)
    with pytest.raises(V.ConcurrentWriteError, match="does not commute"):
        V.replace_partitions(a, path, "g", expected_version=0, now=2.0)
    # pinned to the CURRENT version it lands fine
    V.replace_partitions(a, path, "g", expected_version=1, now=3.0)
    assert V.current_version(path) == 2


def test_replace_partitions_full_write_rival_conflicts(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _mk_parts(spark, path)
    V.overwrite_versioned(df, path, partition_by=["g"], now=1.0)  # v1 full
    new = spark.createDataFrame([(1, 0, 1)], "g int, i int, v int")
    with pytest.raises(V.ConcurrentWriteError, match="does not commute"):
        V.replace_partitions(new, path, "g", expected_version=0, now=2.0)


def test_replace_partitions_zero_copy_and_time_travel(spark, tmp_path):
    import os

    path = str(tmp_path / "t")
    _mk_parts(spark, path)
    new = spark.createDataFrame([(2, 0, 777)], "g int, i int, v int")
    V.replace_partitions(new, path, "g", expected_version=0, now=1.0)
    # untouched partition files share inodes with the retained v0
    def inodes(root, part):
        out = {}
        for r, _, files in os.walk(os.path.join(root, part)):
            for f in files:
                if not f.startswith(("_", ".")):
                    out[f] = os.stat(os.path.join(r, f)).st_ino
        return out
    v0 = os.path.join(V._vroot(path), "v0")
    assert inodes(path, "g=0") == inodes(v0, "g=0")
    assert inodes(path, "g=0"), "untouched partition must have files"
    # touched partition fully replaced, old version still serves old rows
    assert spark.read.parquet(path).filter("g = 2").count() == 1
    assert V.read_version(spark, path, 0).filter("g = 2").count() == 5


def test_replace_partitions_refuses_unpartitioned_table(spark, tmp_path):
    path = str(tmp_path / "t")
    V.overwrite_versioned(
        spark.createDataFrame([(1, 2)], "a int, b int"), path, now=0.0
    )
    with pytest.raises(ValueError, match="not hive-partitioned"):
        V.replace_partitions(
            spark.createDataFrame([(1, 2)], "a int, b int"),
            path, "a", expected_version=0,
        )


def test_replace_partitions_assembly_crash_recovers_clean(spark, tmp_path):
    """A writer that died holding only the claim (assembly incomplete —
    no entry in the intent) rolls BACK: recover() clears the claim and
    sweeps the orphan stages; the table is untouched."""
    import json
    import os

    path = str(tmp_path / "t")
    _mk_parts(spark, path)
    stage = f"{path}.__stage_deadbeef"
    os.makedirs(stage)
    V._write_intent(path, {"stage": stage})  # claim-only, as a crash leaves it
    assert V.recover(path) is False  # no roll-forward work
    assert not os.path.exists(stage)
    assert V._read_intent(path) is None
    new = spark.createDataFrame([(1, 0, 1)], "g int, i int, v int")
    V.replace_partitions(new, path, "g", expected_version=0, now=1.0)
    assert V.current_version(path) == 1


def test_optimize_partitions_commutes_with_disjoint_writer(spark, tmp_path):
    """Maintenance must not block ingestion: compact g=0 and replace g=1,
    BOTH pinned to the same snapshot — both land; data identical where
    untouched; g=0's file count drops."""
    import os

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(g, i, g * 100 + i) for g in range(2) for i in range(6)],
        "g int, i int, v int",
    )
    # many small files inside g=0
    V.overwrite_versioned(
        df.repartition(6), path, partition_by=["g"], now=0.0
    )
    def nfiles(part):
        d = os.path.join(path, part)
        return sum(
            1 for r, _, fs in os.walk(d) for f in fs
            if not f.startswith(("_", "."))
        )
    before = nfiles("g=0")
    assert before > 1
    # writer replaces g=1 first (same snapshot the compactor read)
    new = spark.createDataFrame([(1, 0, 999)], "g int, i int, v int")
    V.replace_partitions(new, path, "g", expected_version=0, now=1.0)
    # compactor pinned to v0 still lands (commute)
    v = V.optimize_partitions(
        spark, path, "g", [0], target_file_bytes=1 << 30, now=2.0
    )
    assert v == 2
    assert nfiles("g=0") < before
    got = spark.read.parquet(path)
    assert sorted(
        map(tuple, got.filter("g = 0").select("g", "i", "v").collect())
    ) == sorted(map(tuple, df.filter("g = 0").select("g", "i", "v").collect()))
    assert got.filter("g = 1").count() == 1  # the writer's row survived
    ops = [e["operation"] for e in V.history(path)]
    assert "OPTIMIZE_PARTITIONS" in ops


def test_table_changes_across_partition_replace_commit(spark, tmp_path):
    """CDF must see a partition replacement as per-row deletes/inserts/
    updates on that partition only."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(g, g * 10 + i) for g in range(2) for i in range(3)],
        "g int, v int",
    )
    V.overwrite_versioned(df, path, partition_by=["g"], now=0.0)
    new = spark.createDataFrame([(1, 777)], "g int, v int")
    V.replace_partitions(new, path, "g", expected_version=0, now=1.0)
    ch = V.table_changes(
        spark, path, key_cols=["g", "v"], from_version=0, to_version=1
    ).collect()
    kinds = sorted((r["g"], r["v"], r["_change_type"]) for r in ch)
    assert (1, 777, "insert") in kinds
    assert all(g == 1 for g, _, _ in kinds), "untouched partition must not churn"
    assert sum(1 for _, _, k in kinds if k == "delete") == 3


def test_replace_partitions_enforces_persisted_constraints(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(g, i) for g in range(2) for i in range(3)], "g int, v int"
    )
    V.overwrite_versioned(df, path, partition_by=["g"], now=0.0)
    V.set_constraints(path, {"v_nonneg": "v >= 0"})
    bad = spark.createDataFrame([(1, -5)], "g int, v int")
    with pytest.raises(Exception, match="v_nonneg"):
        V.replace_partitions(bad, path, "g", expected_version=0, now=1.0)
    assert V.current_version(path) == 0  # nothing committed
    good = spark.createDataFrame([(1, 5)], "g int, v int")
    V.replace_partitions(good, path, "g", expected_version=0, now=2.0)


def test_replace_partitions_maintains_skipping_manifest(spark, tmp_path):
    """After a partition replace, a manifest-pruned scan must still see
    EVERY live file — new files get stats, untouched rows survive, stale
    rows for the replaced partition are gone."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
        skipping as S,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(g, g * 10 + i) for g in range(3) for i in range(4)],
        "g int, v int",
    )
    V.overwrite_versioned(df, path, partition_by=["g"], now=0.0)
    S.write_stats_manifest(spark, path, ["v"])
    new = spark.createDataFrame([(1, 500), (1, 501)], "g int, v int")
    V.replace_partitions(new, path, "g", expected_version=0, now=1.0)
    # wide-open pruned scan == full scan (no silently dropped files)
    got = sorted(
        (r["g"], r["v"]) for r in S.read_skipping(spark, path, "v").collect()
    )
    want = sorted(
        (r["g"], r["v"]) for r in spark.read.parquet(path).collect()
    )
    assert got == want
    assert (1, 500) in got and (1, 10) not in got
    # range pruning still bites: v >= 500 lives only in the new partition
    kept, total = S.pruned_files(spark, path, "v", lower=500)
    assert total > len(kept) >= 1
    # no stale rows: every manifest path exists on disk
    import os

    man = S.read_stats_manifest(spark, path)
    for r in man.select("file_path").collect():
        p = r["file_path"].removeprefix("file://").removeprefix("file:")
        assert os.path.exists(p), r["file_path"]


def test_transact_partitions_retries_only_on_real_conflict(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    _mk_parts(spark, path)
    # commuting rival lands first: the transaction must succeed on its
    # FIRST attempt (expected_version stale but disjoint)
    rival = spark.createDataFrame([(2, 0, 1)], "g int, i int, v int")
    V.replace_partitions(rival, path, "g", expected_version=0, now=1.0)
    calls = []

    def bump_g1(snap):
        calls.append(1)
        return snap.filter("g = 1").withColumn("v", F.col("v") + 1000)

    v = V.transact_partitions(spark, path, "g", bump_g1, now=2.0)
    assert v == 2 and len(calls) == 1
    # overlapping rival mid-flight: simulate by a fn that commits g=1
    # itself on the first call, forcing the outer txn to retry once
    state = {"first": True}

    def racy(snap):
        if state["first"]:
            state["first"] = False
            inner = spark.createDataFrame([(1, 9, 9)], "g int, i int, v int")
            V.replace_partitions(
                inner, path, "g",
                expected_version=V.current_version(path), now=3.0,
            )
        return snap.filter("g = 1").withColumn("v", F.col("v") + 1)

    v2 = V.transact_partitions(spark, path, "g", racy, now=4.0)
    assert v2 == 4  # inner commit v3, retry commits v4
    assert spark.read.parquet(path).filter("g = 1").count() == 1


# ---------------------------------------------------------------------------
# Snapshot tags + time-based retention (round 12, late additions)
# ---------------------------------------------------------------------------

def test_tags_pin_versions_and_survive_vacuum(spark, table):
    # table fixture: v0/v1/v2 at ts 100/200/300
    assert V.tag(table, "baseline", 0) == 0
    assert V.tag(table, "latest") == 2  # default: current
    assert V.tags(table) == {"baseline": 0, "latest": 2}
    # vacuum keep_last=0 would normally drop v0 and v1; the tag saves v0
    dropped = V.vacuum(table, keep_last=0)
    assert dropped == [1]
    assert _ids(V.read_tag(spark, table, "baseline")) == [0, 1]
    with pytest.raises(ValueError, match="vacuumed"):
        V.read_version(spark, table, 1)
    # dropping the tag makes v0 vacuum-eligible again
    V.delete_tag(table, "baseline")
    assert V.vacuum(table, keep_last=0) == [0]
    with pytest.raises(ValueError, match="no tag"):
        V.read_tag(spark, table, "baseline")
    with pytest.raises(ValueError, match="unknown version"):
        V.tag(table, "bad", 99)


def test_vacuum_time_retention_keeps_recent_versions(spark, table):
    # commits at ts 100/200/300; retain 150s from the newest (300) keeps
    # everything committed at ts >= 150 — v1 and v2 — despite keep_last=0
    dropped = V.vacuum(table, keep_last=0, retain_seconds=150.0)
    assert dropped == [0]
    assert _ids(V.read_version(spark, table, 1)) == [0, 1, 2, 3]
    # shrinking the window lets v1 age out
    assert V.vacuum(table, keep_last=0, retain_seconds=50.0) == [1]


def test_transact_dv_delete_retries_past_claim_contention(spark, tmp_path):
    import threading

    from pyspark.sql import functions as F

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
        deletion_vectors as DV,
    )

    t = str(tmp_path / "t")
    spark.createDataFrame(
        [(g, i) for g in range(2) for i in range(5)], "g int, i int"
    ).repartition(2, "g").write.parquet(t)
    # a rival writer holds the claim; it releases shortly after
    DV._claim_dv_writer(t, {"op": "delete", "phase": "staging"})
    threading.Timer(0.4, DV._release_dv_writer, args=(t,)).start()
    n = DV.transact_dv_delete(
        spark, t, F.col("g") == 1, max_retries=20, backoff_s=0.2
    )
    assert n == 5
    assert DV.read_dv(spark, t).count() == 5


def test_vacuum_refuses_while_commit_in_flight_physical(spark, table):
    """The physical lane shares vacuum's commit-slot guard (ADVICE r12):
    its rename-aside retention dirs appear mid-commit and an unguarded
    vacuum could reap a just-created aside before its log entry lands."""
    V._claim_intent(table, {"op": "write"})
    try:
        with pytest.raises(V.ConcurrentWriteError):
            V.vacuum(table, keep_last=0)
    finally:
        V._release_intent(table)
    V.vacuum(table, keep_last=0)  # clean vacuum still works after release


def test_optimize_zorder_preserves_hive_partitioning(spark, tmp_path):
    """OPTIMIZE ZORDER on a hive-partitioned table z-orders WITHIN
    partitions and recommits partition_by — flattening the layout would
    silently destroy every reader's partition pruning (the
    optimize_compact contract, extended to the z-order rewrite r14)."""
    import os

    from pyspark.sql import functions as F

    path = str(tmp_path / "zp")
    df = spark.range(0, 2000).select(
        (F.col("id") % 4).cast("int").alias("g"),
        F.col("id").alias("a"),
        (F.col("id") * 2654435761 % 2048).alias("b"),
    )
    V.overwrite_versioned(df.repartition(8), path, partition_by=["g"], now=1.0)
    v = V.optimize_zorder(spark, path, "a", "b", n_files=8, now=2.0)
    assert v == 1
    live = V._live_data_files(path) if hasattr(V, "_live_data_files") else []
    assert live and all(f"{os.sep}g=" in f for f in live), live[:3]
    got = V.read_current(spark, path)
    assert got.count() == 2000
    assert got.filter("g = 1").count() == 500
    # data identical through the rewrite
    assert sorted(map(tuple, got.select("g", "a", "b").collect())) == sorted(
        map(tuple, df.collect())
    )


@pytest.mark.parametrize("mode", ["manifest", "physical"])
def test_append_and_replace_files_lifecycle(spark, tmp_path, mode):
    """r15 file-subset commits: append_versioned publishes new files
    beside the snapshot (O(new files) in manifest mode), replace_files
    retires an explicit live subset — history/time-travel intact, the
    skipping manifest auto-maintained in BOTH modes, snapshot pinning
    strict, bogus removes refused, schema drift refused."""
    from pyspark.sql import functions as F

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
        skipping,
    )

    t = str(tmp_path / "t")
    df = spark.range(1000).select(
        F.col("id").alias("a"), (F.col("id") * 3).alias("b")
    )
    V.overwrite_versioned(
        df.repartition(4), t, now=1.0, snapshot_mode=mode,
        stats_columns=["a"],
    )
    extra = spark.range(1000, 1200).select(
        F.col("id").alias("a"), (F.col("id") * 3).alias("b")
    )
    v1 = V.append_versioned(extra.repartition(1), t, now=2.0)
    assert v1 == 1
    assert V.read_current(spark, t).count() == 1200
    # manifest auto-maintained without an explicit stats_columns
    man = skipping.read_stats_manifest(spark, t)
    assert man is not None
    assert man.count() == len(V._live_data_files(t)) == 5
    # retire exactly the appended file, replace with a subset of its rows
    live = (
        V._snapshot_files(t, 1) if mode == "manifest"
        else [os.path.relpath(f, t) for f in V._data_files(t)]
    )
    target = [f for f in live if "v1-" in f]
    assert len(target) == 1
    repl = extra.filter(F.col("a") < 1100)
    v2 = V.replace_files(repl, t, remove=target, expected_version=1, now=3.0)
    assert v2 == 2
    assert V.read_current(spark, t).count() == 1100
    # time travel reads both superseded snapshots
    assert V.read_version(spark, t, 1).count() == 1200
    assert V.read_version(spark, t, 0).count() == 1000
    assert [e["operation"] for e in V.history(t)][:3] == [
        "REPLACE_FILES", "APPEND", "WRITE",
    ]
    # manifest tracks the new live set
    assert skipping.read_stats_manifest(spark, t).count() == len(
        V._live_data_files(t)
    )
    # strict snapshot pinning: any rival (stale expected_version) conflicts
    with pytest.raises(V.ConcurrentWriteError):
        V.replace_files(repl, t, remove=[], expected_version=0, now=4.0)
    # a remove entry outside the live set is a caller bug, not a commit
    with pytest.raises(ValueError, match="not in"):
        V.replace_files(
            repl, t, remove=["nope.parquet"], expected_version=2, now=4.0
        )
    # schema drift refused (Delta append-mode enforcement)
    with pytest.raises(ValueError, match="schema"):
        V.append_versioned(
            spark.range(3).select(F.col("id").alias("z")), t, now=5.0
        )


@pytest.mark.parametrize("mode", ["manifest", "physical"])
def test_replace_files_crash_rolls_forward(spark, tmp_path, mode, monkeypatch):
    """A replace_files commit that dies AFTER its intent is journaled
    (the roll-forward point) must complete under recover() — same
    write-ahead protocol as every other commit path, exercised through
    the new file-subset shape by killing the process at the publish
    step."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "t")
    df = spark.range(600).select(
        F.col("id").alias("a"), (F.col("id") * 3).alias("b")
    )
    V.overwrite_versioned(df.repartition(3), t, now=1.0, snapshot_mode=mode)
    live = (
        V._snapshot_files(t, 0) if mode == "manifest"
        else [os.path.relpath(f, t) for f in V._data_files(t)]
    )
    target = live[:1]
    repl = spark.range(600).select(
        F.col("id").alias("a"), (F.col("id") * 3).alias("b")
    ).filter(F.col("a") % 2 == 0)

    # die exactly at the publish step (after the intent is complete)
    class Boom(RuntimeError):
        pass

    if mode == "manifest":
        def explode(*a, **k):
            raise Boom()
        monkeypatch.setattr(V, "_apply_moves", explode)
    else:
        real_rename = os.rename

        def explode(src, dst):
            if dst == t or src == t or dst.endswith("v1"):
                raise Boom()
            return real_rename(src, dst)
        monkeypatch.setattr(V.os, "rename", explode)
    retired_rows = spark.read.parquet(os.path.join(t, target[0])).count()
    with pytest.raises(Boom):
        V.replace_files(repl, t, remove=target, expected_version=0, now=2.0)
    monkeypatch.undo()
    # the crash left a live intent; recover() rolls the commit FORWARD
    assert V.recover(t) is True
    assert V.current_version(t) == 1
    # replaced file's rows gone, replacement rows present, rest intact
    assert V.read_current(spark, t).count() == 600 - retired_rows + 300
    assert V.history(t)[0]["operation"] == "REPLACE_FILES"
    # idempotent: a second recover is a no-op
    assert V.recover(t) is False


@pytest.mark.parametrize("mode", ["manifest", "physical"])
def test_replace_files_sidecar_crash_window_recovers(spark, tmp_path, mode):
    """r16 (ADVICE r15 #2): a commit that dies AFTER logging but BEFORE
    its skipping sidecars rebuilt leaves manifests describing the
    retired live set — in manifest mode those files are still on disk,
    so pruned reads would serve them.  The commit holds a
    sidecars-pending marker through the rebuild; recover() finds the
    marker and DROPS the unknowable sidecars (no manifest = no pruning
    = safe)."""
    from pyspark.sql import functions as F

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
        skipping,
    )

    t = str(tmp_path / "t")
    df = spark.range(2_000).select(
        F.col("id").alias("a"), (F.col("id") * 3).alias("b")
    )
    V.overwrite_versioned(df.repartition(4), t, now=1.0, snapshot_mode=mode,
                          stats_columns=["a"])
    skipping.write_bloom_manifest(
        spark, t, "a", files=(V._live_data_files(t) or None)
    )
    assert os.path.isdir(os.path.join(t, skipping.STATS_DIR))
    assert os.path.isdir(os.path.join(t, skipping.BLOOM_DIR))
    # stand in for a claimant that died inside the sidecar window: the
    # commit is logged, the marker stands, the sidecars are pre-commit
    V._write_intent(t, {"sidecars_pending": V.current_version(t)})
    assert V.recover(t) is True
    assert not os.path.isdir(os.path.join(t, skipping.STATS_DIR))
    assert not os.path.isdir(os.path.join(t, skipping.BLOOM_DIR))
    assert V.read_current(spark, t).count() == 2_000  # unpruned reads fine
    assert V.recover(t) is False  # idempotent
    # ...but the drop REMEMBERED the stats columns: the slot is free and
    # pruning SELF-HEALS on the next commit with no stats_columns at all
    assert os.path.exists(V._stats_hint_path(t))
    V.append_versioned(df.limit(5), t, now=2.0)
    assert os.path.isdir(os.path.join(t, skipping.STATS_DIR))
    _rows, have = skipping.read_stats_manifest_driver_side(t)
    assert "min__a" in have and "max__a" in have
    assert not os.path.exists(V._stats_hint_path(t))  # hint spent


@pytest.mark.parametrize("kind", ["replace_files", "replace_partitions"])
@pytest.mark.parametrize("mode", ["manifest", "physical"])
def test_replace_files_rebuild_failure_drops_sidecars(spark, tmp_path,
                                                      monkeypatch, kind,
                                                      mode):
    """r16 (ADVICE r15 #2/#3 family): when the post-commit sidecar
    rebuild RAISES (not crashes), the transaction has landed — the
    stale sidecars are dropped before the error surfaces, and the
    commit slot is released so the table isn't wedged.  File-subset
    (append) and partition commits share the same sidecar window."""
    from pyspark.sql import functions as F

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
        skipping,
    )

    t = str(tmp_path / "t")
    df = spark.range(1_000).select(
        (F.col("id") % 4).cast("int").alias("g"), F.col("id").alias("a"),
        (F.col("id") * 3).alias("b"),
    )
    V.overwrite_versioned(df.repartition(4), t, now=1.0, partition_by=["g"],
                          snapshot_mode=mode, stats_columns=["a"])

    def explode(*a, **k):
        raise RuntimeError("rebuild died")

    extra = df.filter("g = 1").limit(10)
    with pytest.raises(RuntimeError, match="rebuild died"):
        if kind == "replace_files":
            monkeypatch.setattr(skipping, "write_stats_manifest", explode)
            V.append_versioned(extra, t, now=2.0)
        else:
            monkeypatch.setattr(
                skipping, "update_stats_manifest_partitions", explode
            )
            V.replace_partitions(extra, t, "g", expected_version=0, now=2.0)
    monkeypatch.undo()
    assert V.current_version(t) == 1              # the commit LANDED
    assert not os.path.isdir(os.path.join(t, skipping.STATS_DIR))
    expect = 1_010 if kind == "replace_files" else 760
    assert V.read_current(spark, t).count() == expect
    assert V._read_intent(t) is None
    # slot released: the next commit proceeds and restores the manifest
    V.append_versioned(df.limit(5), t, now=3.0, stats_columns=["a"])
    assert V.current_version(t) == 2
    assert os.path.isdir(os.path.join(t, skipping.STATS_DIR))


@pytest.mark.parametrize("mode", ["manifest", "physical"])
def test_replace_files_refuses_partition_layout_drift(spark, tmp_path, mode):
    """r16 (ADVICE r15 #5): appending flat files into a hive-partitioned
    tree (or hive dirs into a flat table) would mix directory layouts
    and poison every later read — refused at COMMIT time, by name; a
    partitioned table with no partition_by defaults to its own layout."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "t")
    df = spark.range(2_000).select(
        (F.col("id") % 2).cast("int").alias("g"), F.col("id").alias("a")
    )
    V.overwrite_versioned(df.repartition(2), t, now=1.0, partition_by=["g"],
                          snapshot_mode=mode)
    extra = spark.range(2_000, 2_100).select(
        (F.col("id") % 2).cast("int").alias("g"), F.col("id").alias("a")
    )
    # omitted partition_by defaults to the table's layout
    V.append_versioned(extra.repartition(1), t, now=2.0)
    live = [os.path.relpath(f, t) for f in V._data_files(t)]
    assert all(r.split(os.sep)[0].startswith("g=") for r in live), live[:4]
    assert V.read_current(spark, t).count() == 2_100
    # a MISMATCHED layout is refused by name
    with pytest.raises(ValueError, match="hive-partitioned by \\['g'\\]"):
        V.append_versioned(extra.limit(5), t, now=3.0, partition_by=["a"])
    # flat table + partitioned commit: refused too
    t2 = str(tmp_path / "t2")
    V.overwrite_versioned(df.repartition(2), t2, now=1.0, snapshot_mode=mode)
    with pytest.raises(ValueError, match="unpartitioned"):
        V.append_versioned(extra.limit(5), t2, now=2.0, partition_by=["g"])
    assert V.current_version(t2) == 0


@pytest.mark.parametrize("mode", ["manifest", "physical"])
def test_replace_files_maintains_bloom_manifest(spark, tmp_path, mode):
    """r15: a file-subset commit must keep the bloom sidecar describing
    exactly the live set — in manifest mode retired files stay ON DISK,
    so a stale bloom row would serve them to equality probes."""
    from pyspark.sql import functions as F

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
        skipping,
    )

    t = str(tmp_path / "t")
    # 4 range-disjoint files on a: values 0..999 per file.  a is INT so
    # the python-int probe literal hashes with the same type the filter
    # was built from (xxhash64 is type-sensitive — the standing bloom
    # probe contract).
    df = spark.range(4000).select(
        F.col("id").cast("int").alias("a"), (F.col("id") * 3).alias("b")
    )
    V.overwrite_versioned(
        df.repartitionByRange(4, "a"), t, now=1.0, snapshot_mode=mode
    )
    skipping.write_bloom_manifest(
        spark, t, "a", files=(V._live_data_files(t) or None)
    )
    live = (
        V._snapshot_files(t, 0) if mode == "manifest"
        else [os.path.relpath(f, t) for f in V._data_files(t)]
    )
    # the file holding a == 0 is the probe's target
    kept0, total0 = skipping.bloom_pruned_files(spark, t, "a", 0)
    assert total0 == 4 and len(kept0) == 1
    target_rel = [
        r for r in live
        if "file:" + os.path.abspath(os.path.join(t, r)) in kept0
        or os.path.abspath(os.path.join(t, r)) in {k.replace("file:", "") for k in kept0}
    ]
    assert len(target_rel) == 1
    # retire it, replacing with rows that EXCLUDE the probed value
    target_abs = os.path.join(t, target_rel[0])
    rows = spark.read.option("basePath", t).parquet(target_abs)
    repl = rows.filter(F.col("a") != 0)
    v = V.replace_files(repl, t, remove=target_rel, expected_version=0, now=2.0)
    assert v == 1
    # bloom manifest tracks the new live set: one row per live file,
    # the retired file's row gone, and the a==0 probe prunes EVERYTHING
    man = spark.read.parquet(os.path.join(t, skipping.BLOOM_DIR))
    assert man.count() == len(V._live_data_files(t)) == 4
    kept1, total1 = skipping.bloom_pruned_files(spark, t, "a", 0)
    assert total1 == 4
    assert not any(target_rel[0] in k for k in kept1)  # retired file gone
    # a value the kept files hold still probes to a pruned subset that
    # CONTAINS its true holder (blooms allow false positives, never
    # false negatives)
    kept2, _ = skipping.bloom_pruned_files(spark, t, "a", 2500)
    assert 1 <= len(kept2) < 4
    hit = spark.read.option("basePath", t).parquet(*kept2).filter(
        F.col("a") == 2500
    ).count()
    assert hit == 1


@pytest.mark.parametrize("mode", ["manifest", "physical"])
def test_replace_files_retiring_every_file_keeps_bloom_exact(spark, tmp_path,
                                                             mode):
    """A file-subset commit that retires the WHOLE live set (an
    incremental OPTIMIZE packing a table of small files) keeps no file
    to link, so the physical successor tree is the stage itself — the
    bloom sidecar must still name exactly the files that went live."""
    from pyspark.sql import functions as F

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
        skipping,
    )

    t = str(tmp_path / "t")
    df = spark.range(300).select(F.col("id").cast("int").alias("a"))
    V.overwrite_versioned(df.repartition(3), t, now=1.0, snapshot_mode=mode)
    skipping.write_bloom_manifest(
        spark, t, "a", files=(V._live_data_files(t) or None)
    )
    v = V.optimize_compact_incremental(spark, t, target_file_bytes=10**9,
                                       now=2.0)
    assert v == 1 and len(V._live_data_files(t)) == 1
    man = spark.read.parquet(os.path.join(t, skipping.BLOOM_DIR))
    named = {r.file_path.replace("file:", "") for r in man.collect()}
    assert named == {os.path.abspath(f) for f in V._live_data_files(t)}
    assert V.read_current(spark, t).count() == 300


@pytest.mark.parametrize("mode", ["manifest", "physical"])
def test_overwrite_keeps_skipping_sidecars_fresh(spark, tmp_path, mode):
    """r16 regression (found by auditing the replace_files hazard class
    across every commit path): a manifest-mode OVERWRITE — including
    ``restore()``, which never re-passes ``stats_columns`` — used to
    leave the standing stats/bloom sidecars describing the RETIRED live
    set, and since retired files stay on disk in manifest mode, pruned
    reads served the OLD snapshot's rows.  Overwrites now auto-maintain
    standing sidecars like replace_files does."""
    from pyspark.sql import functions as F

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
        skipping,
    )

    t = str(tmp_path / "t")
    df = spark.range(1_000).select(
        F.col("id").cast("int").alias("a"), (F.col("id") * 3).alias("b")
    )
    V.overwrite_versioned(df.repartition(4), t, now=1.0, snapshot_mode=mode,
                          stats_columns=["a"])
    skipping.write_bloom_manifest(
        spark, t, "a", files=(V._live_data_files(t) or None)
    )
    # overwrite WITHOUT stats_columns — the restore() shape
    V.overwrite_versioned(df.filter("a < 500").repartition(2), t, now=2.0)
    rows, have = skipping.read_stats_manifest_driver_side(t)
    assert "min__a" in have and len(rows) == 2  # follows the new live set
    live = {
        "file:" + os.path.abspath(f) for f in (V._live_data_files(t) or [])
    } or {
        "file:" + os.path.abspath(os.path.join(t, r))
        for r in [os.path.relpath(f, t) for f in V._data_files(t)]
    }
    assert {r["file_path"] for r in rows} <= live  # no retired references
    kept, total = skipping.pruned_files_multi(spark, t, {"a": (0, 10)})
    assert total == 2
    got = spark.read.option("basePath", t).parquet(
        *[k.replace("file:", "") for k in kept]
    ).filter("a BETWEEN 0 AND 10")
    assert got.count() == 11  # pruned read serves the CURRENT snapshot
    # bloom followed too: one row per live file, same standing config
    man = spark.read.parquet(os.path.join(t, skipping.BLOOM_DIR))
    assert man.count() == 2
    assert man.select("column").distinct().first()[0] == "a"
    # restore() — the caller that exposed this — keeps them fresh as well
    V.restore(spark, t, 0, now=3.0)
    rows2, _ = skipping.read_stats_manifest_driver_side(t)
    assert len(rows2) == 4  # v0's 4-file layout, re-described
    kept2, total2 = skipping.pruned_files_multi(spark, t, {"a": (900, 999)})
    assert total2 == 4 and len(kept2) >= 1
    assert V.read_current(spark, t).count() == 1_000


def test_overwrite_drops_bloom_when_probed_column_leaves_schema(
    spark, tmp_path
):
    """Schema-overwrite edge: the bloom's probed column disappears —
    nothing to rebuild with, so the sidecar is dropped (stale would
    serve the retired snapshot; absent is merely unpruned)."""
    from pyspark.sql import functions as F

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
        skipping,
    )

    t = str(tmp_path / "t")
    df = spark.range(500).select(
        F.col("id").cast("int").alias("a"), (F.col("id") * 3).alias("b")
    )
    V.overwrite_versioned(df.repartition(2), t, now=1.0,
                          snapshot_mode="manifest")
    skipping.write_bloom_manifest(
        spark, t, "a", files=(V._live_data_files(t) or None)
    )
    V.overwrite_versioned(
        df.select((F.col("b") * 2).alias("c")), t, now=2.0
    )
    assert not os.path.isdir(os.path.join(t, skipping.BLOOM_DIR))
    assert V.read_current(spark, t).count() == 500


def test_replace_files_zero_row_bloom_sidecar_is_dropped(spark, tmp_path):
    """r16 (ADVICE r15 #3): a zero-row bloom sidecar carries no
    column/bits/hashes config — the maintenance hook used to
    dereference None AFTER the commit landed, failing the caller for a
    committed transaction.  Now the empty sidecar is deleted (no bloom
    = no pruning = safe) and the commit returns normally."""
    from pyspark.sql import functions as F

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
        skipping,
    )

    t = str(tmp_path / "t")
    df = spark.range(1_000).select(
        F.col("id").cast("int").alias("a"), (F.col("id") * 3).alias("b")
    )
    V.overwrite_versioned(df.repartition(2), t, now=1.0,
                          snapshot_mode="manifest")
    skipping.write_bloom_manifest(
        spark, t, "a", files=(V._live_data_files(t) or None)
    )
    bloom_dir = os.path.join(t, skipping.BLOOM_DIR)
    empty = spark.read.parquet(bloom_dir).limit(0)
    empty.write.mode("overwrite").parquet(bloom_dir)
    assert spark.read.parquet(bloom_dir).count() == 0
    v = V.append_versioned(df.limit(10), t, now=2.0)  # must not raise
    assert v == 1
    assert not os.path.isdir(bloom_dir)  # empty sidecar dropped
    assert V.read_current(spark, t).count() == 1_010


def test_layout_rewrites_refuse_live_dv_sidecar(spark, tmp_path):
    """A table carrying deletion-vector marks must refuse every layout
    rewrite (replace_files / optimize_compact / recluster_*): the raw
    file read would RESURRECT marked rows and strand the positional
    marks — Delta's REORG APPLY (PURGE)-first rule."""
    from pyspark.sql import functions as F

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.functions import (
        layout,
    )
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
        deletion_vectors as dv,
    )

    t = str(tmp_path / "t")
    df = spark.range(2000).select(
        F.col("id").alias("a"), (F.col("id") * 3).alias("b")
    )
    V.overwrite_versioned(df.repartition(4), t, now=1.0)
    # plant a DV sidecar the way delete_where_dv would
    os.makedirs(os.path.join(t, dv.DV_DIR), exist_ok=True)
    spark.createDataFrame(
        [("x.parquet", 0)], "file_path string, row_index long"
    ).write.mode("overwrite").parquet(os.path.join(t, dv.DV_DIR))
    with pytest.raises(ValueError, match="deletion-vector"):
        V.replace_files(df.limit(1), t, remove=[], expected_version=0, now=2.0)
    with pytest.raises(ValueError, match="deletion-vector"):
        V.optimize_compact(spark, t, target_file_bytes=1, now=2.0)
    with pytest.raises(ValueError, match="deletion-vector"):
        layout.recluster_zorder(spark, t, "a", "b", now=2.0)
    with pytest.raises(ValueError, match="deletion-vector"):
        V.optimize_zorder(spark, t, "a", "b", now=2.0)
    with pytest.raises(ValueError, match="deletion-vector"):
        layout.recluster_incremental(spark, t, "a", "b", now=2.0)
    assert V.current_version(t) == 0  # nothing committed


@pytest.mark.parametrize("mode", ["manifest", "physical"])
def test_optimize_compact_incremental_packs_only_smalls(spark, tmp_path, mode):
    """r15: incremental compaction bin-packs ONLY the small files —
    files at/over target keep their exact paths through the commit
    (compaction cost ~ small-file debt, not table size), data is
    bit-identical, a second pass is a no-op, and the manifest follows
    the live set."""
    from pyspark.sql import functions as F

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
        skipping,
    )

    t = str(tmp_path / "t")
    big = spark.range(40_000).select(
        F.col("id").alias("a"), (F.col("id") * 3).alias("b")
    )
    V.overwrite_versioned(
        big.repartition(2), t, now=1.0, snapshot_mode=mode,
        stats_columns=["a"],
    )
    tiny = spark.range(40_000, 40_600).select(
        F.col("id").alias("a"), (F.col("id") * 3).alias("b")
    )
    V.append_versioned(tiny.repartition(6), t, now=2.0)  # 6 tiny files
    live1 = set(
        V._snapshot_files(t, 1) if mode == "manifest"
        else [os.path.relpath(f, t) for f in V._data_files(t)]
    )
    sizes = {r: os.path.getsize(os.path.join(t, r)) for r in live1}
    # target sits between the tiny and big file sizes, and holds all six
    # tiny files in ONE bin (ceil(6*tiny / 7*tiny) == 1)
    target = max(s for r, s in sizes.items() if "v1-" in r) * 7
    assert all(s >= target for r, s in sizes.items() if "v1-" not in r)
    v = V.optimize_compact_incremental(spark, t, target_file_bytes=target,
                                       now=3.0)
    assert v == 2
    (meta,) = [
        e["metadata"] for e in V.history(t) if e["operation"] == "OPTIMIZE"
    ]
    assert meta["incremental"] is True
    assert (meta["bin_packed"], meta["kept_files"]) == (6, 2)
    live2 = set(
        V._snapshot_files(t, 2) if mode == "manifest"
        else [os.path.relpath(f, t) for f in V._data_files(t)]
    )
    bigs = {r for r in live1 if "v1-" not in r}
    assert bigs <= live2                       # big files untouched
    assert not (live1 - bigs) & live2          # all tiny files retired
    assert len(live2) == 3                     # 2 big + 1 packed
    got = sorted(map(tuple, V.read_current(spark, t).collect()))
    assert got == sorted(map(tuple, big.unionByName(tiny).collect()))
    # manifest follows (auto-maintained by the commit)
    assert skipping.read_stats_manifest(spark, t).count() == 3
    # already packed: a second pass never churns history
    assert V.optimize_compact_incremental(
        spark, t, target_file_bytes=target, now=4.0
    ) == 2
    assert V.current_version(t) == 2


def test_optimize_compact_incremental_respects_hive_partitions(spark, tmp_path):
    """Partitioned tables bin-pack WITHIN partitions: the replacement
    files land under their hive dirs (partition pruning survives), big
    files keep their paths, and the per-partition row sets are intact."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "t")
    df = spark.range(20_000).select(
        (F.col("id") % 2).cast("int").alias("g"),
        F.col("id").alias("a"),
    )
    V.overwrite_versioned(df.repartition(2), t, now=1.0, partition_by=["g"])
    tiny = spark.range(20_000, 20_400).select(
        (F.col("id") % 2).cast("int").alias("g"), F.col("id").alias("a")
    )
    V.append_versioned(tiny.repartition(8), t, now=2.0, partition_by=["g"])
    live1 = [os.path.relpath(f, t) for f in V._data_files(t)]
    sizes = {r: os.path.getsize(os.path.join(t, r)) for r in live1}
    smalls1 = [r for r in live1 if "v1-" in r]
    big_sizes = [sizes[r] for r in live1 if "v1-" not in r]
    tiny_sizes = [sizes[r] for r in smalls1]
    assert max(tiny_sizes) < min(big_sizes)
    target = (max(tiny_sizes) + min(big_sizes)) // 2
    v = V.optimize_compact_incremental(spark, t, target_file_bytes=target,
                                       now=3.0)
    assert v == 2
    live2 = [os.path.relpath(f, t) for f in V._data_files(t)]
    # every replacement file still lives under a g=<val> hive dir
    assert all(r.split(os.sep)[0].startswith("g=") for r in live2), live2[:4]
    # big files untouched, all tinies retired
    bigs = {r for r in live1 if "v1-" not in r}
    assert bigs <= set(live2)
    assert not set(smalls1) & set(live2)
    got = V.read_current(spark, t)
    assert got.count() == 20_400
    assert got.filter("g = 1").count() == 10_200
    # partition pruning still engages on the read path
    plan = got.filter("g = 1")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(g" in plan or "g#" in plan


def test_optimize_compact_incremental_partitioned_honors_byte_target(
    spark, tmp_path
):
    """r16 (VERDICT r15 ask #4): a hive partition's small-file debt
    packs to ~ceil(debt / target) output files, NOT one file per
    partition — a 40 GB-debt partition at a 128 MB target must emit
    ~320 files, not a single 40 GB file through one task.  Two
    partitions with ASYMMETRIC debt (6 vs 4 small files) get their own
    bucket counts (3 vs 2), and a follow-up sweep is a no-op."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "t")
    big = spark.range(40_000).select(
        (F.col("id") % 2).cast("int").alias("g"), F.col("id").alias("a")
    )
    V.overwrite_versioned(big.repartition(1), t, now=1.0, partition_by=["g"])
    tiny0 = spark.range(40_000, 40_900).select(
        F.lit(0).cast("int").alias("g"), F.col("id").alias("a")
    )
    tiny1 = spark.range(41_000, 41_600).select(
        F.lit(1).cast("int").alias("g"), F.col("id").alias("a")
    )
    V.append_versioned(tiny0.repartition(6), t, now=2.0, partition_by=["g"])
    V.append_versioned(tiny1.repartition(4), t, now=3.0, partition_by=["g"])
    live = [os.path.relpath(f, t) for f in V._data_files(t)]
    sizes = {r: os.path.getsize(os.path.join(t, r)) for r in live}
    smalls = [r for r in live if "v1-" in r or "v2-" in r]
    debt0 = sum(sizes[r] for r in smalls if r.startswith("g=0"))
    debt1 = sum(sizes[r] for r in smalls if r.startswith("g=1"))
    assert len([r for r in smalls if r.startswith("g=0")]) == 6
    assert len([r for r in smalls if r.startswith("g=1")]) == 4
    # target chosen so ceil(debt0/t) == 3 and ceil(debt1/t) == 2: inside
    # [debt0/3, debt0/2) ∩ [debt1/2, debt1), above every tiny size,
    # below every big size
    target = int(max(debt0 / 3, debt1 / 2)) + 1
    assert all(sizes[r] < target for r in smalls)
    assert all(sizes[r] >= target for r in live if r not in smalls)
    v = V.optimize_compact_incremental(spark, t, target_file_bytes=target,
                                       now=4.0)
    assert v == 3
    (meta,) = [
        e["metadata"] for e in V.history(t) if e["operation"] == "OPTIMIZE"
    ]
    assert meta["partitions_packed"] == 2
    assert meta["bin_packed"] == 10
    live2 = [os.path.relpath(f, t) for f in V._data_files(t)]
    new0 = [r for r in live2 if r.startswith("g=0") and r not in live]
    new1 = [r for r in live2 if r.startswith("g=1") and r not in live]
    # per-partition bucket counts honored exactly
    assert (len(new0), len(new1)) == (3, 2), (new0, new1)
    # round-robin split keeps outputs near the target, never a
    # partition-sized monolith
    assert all(
        os.path.getsize(os.path.join(t, r)) < 2 * target for r in new0 + new1
    )
    got = V.read_current(spark, t)
    assert got.count() == 40_000 + 900 + 600
    assert got.filter("g = 0").count() == 20_000 + 900
    # debt now sits at ~one target-sized file per bucket: re-sweeping
    # cannot reduce any partition's count — no-op, no history churn
    assert V.optimize_compact_incremental(
        spark, t, target_file_bytes=target, now=5.0
    ) == 3
    assert V.current_version(t) == 3


def test_optimize_compact_incremental_partitioned_noop_guard(spark, tmp_path):
    """r16 (ADVICE r15 #1): one small append file PER partition used to
    slip the global guard (2 smalls >= 2, n_out=1 < 2) and commit a
    rewrite that cannot reduce any partition's file count — a useless
    OPTIMIZE every sweep, unbounded history churn.  Per-partition
    eligibility makes it a no-op."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "t")
    big = spark.range(40_000).select(
        (F.col("id") % 2).cast("int").alias("g"), F.col("id").alias("a")
    )
    V.overwrite_versioned(big.repartition(1), t, now=1.0, partition_by=["g"])
    tiny = spark.range(40_000, 40_200).select(
        (F.col("id") % 2).cast("int").alias("g"), F.col("id").alias("a")
    )
    # one task, two partition values -> exactly one small file per g dir
    V.append_versioned(tiny.repartition(1), t, now=2.0, partition_by=["g"])
    live = [os.path.relpath(f, t) for f in V._data_files(t)]
    smalls = [r for r in live if "v1-" in r]
    assert len(smalls) == 2
    assert len({r.split(os.sep)[0] for r in smalls}) == 2
    target = max(os.path.getsize(os.path.join(t, r)) for r in smalls) * 4
    assert V.optimize_compact_incremental(
        spark, t, target_file_bytes=target, now=3.0
    ) == 1
    assert V.current_version(t) == 1  # no-op: no commit landed


def test_vacuum_reclaims_files_retired_by_replace_files(spark, tmp_path):
    """Vacuum understands the REPLACE_FILES/APPEND action entries: a
    file added at v1 and retired at v2 is physically reclaimed once v1
    falls out of retention, the current snapshot is untouched, and
    time travel to the vacuumed version errors loudly."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "t")
    df = spark.range(1000).select(
        F.col("id").alias("a"), (F.col("id") * 3).alias("b")
    )
    V.overwrite_versioned(df.repartition(4), t, now=1.0,
                          snapshot_mode="manifest")
    extra = spark.range(1000, 1200).select(
        F.col("id").alias("a"), (F.col("id") * 3).alias("b")
    )
    V.append_versioned(extra.repartition(1), t, now=2.0)
    target = [f for f in V._snapshot_files(t, 1) if "v1-" in f]
    V.replace_files(extra.filter(F.col("a") < 1100), t, remove=target,
                    expected_version=1, now=3.0)
    assert V.vacuum(t, keep_last=0) == [0, 1]
    assert not os.path.exists(os.path.join(t, target[0]))  # reclaimed
    assert V.read_current(spark, t).count() == 1100        # live intact
    with pytest.raises(ValueError, match="vacuumed"):
        V.read_version(spark, t, 1)


def test_partitioned_clustered_compaction_packs_through_curve(spark, tmp_path):
    """r17 clustering-aware compaction under HIVE partitioning: each
    eligible partition's small files pack through the declared sorted
    curve — per-branch tile-shaped outputs — and the commit metadata
    records the curve."""
    from pyspark.sql import functions as F

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.functions import (
        layout,
    )

    t = str(tmp_path / "t")
    df = spark.range(80_000).select(
        (F.col("id") % 2).cast("int").alias("g"),
        F.col("id").alias("k"),
        (F.col("id") * 3).alias("v"),
    )
    base = layout.sorted_layout(df.filter("id % 5 != 0"), ["k"], 2,
                                partition_cols=["g"])
    V.overwrite_versioned(base, t, partition_by=["g"], now=1.0,
                          snapshot_mode="manifest")
    base_files = set(V._live_data_files(t))
    V.set_clustering(spark, t, ["k"], curve="sorted")
    V.append_versioned(df.filter("id % 5 = 0").repartition(4), t,
                       partition_by=["g"], now=2.0)
    appended = set(V._live_data_files(t)) - base_files
    # target strictly between the debt (appended smalls) and the base
    # tiles, sized so each partition's ~4-file debt packs to 2 outputs
    target = int(1.8 * max(os.path.getsize(f) for f in appended)) + 1
    plan, _live = V.compaction_plan(t, int(target))
    assert len(plan) == 2  # one packable branch per hive partition
    # the plan packs the appended debt (a sub-target base boundary
    # shard may legitimately join its partition's branch), and the big
    # base tiles survive untouched
    packed = {r for files, _ in plan for r in files}
    assert {os.path.relpath(f, t) for f in appended} <= packed
    assert len(packed) < len(_live)
    v = V.optimize_compact_incremental(spark, t,
                                       target_file_bytes=int(target), now=3.0)
    assert v == 2
    (meta,) = [e["metadata"] for e in V.history(t)
               if e["operation"] == "OPTIMIZE"]
    assert meta["clustered"] == "sorted"
    assert meta["partitions_packed"] == 2
    got = V.read_current(spark, t)
    assert got.count() == 80_000
    # the OPTIMIZE's own outputs are tile-shaped PER PARTITION: within
    # each hive dir the packed files' [min k, max k] envelopes do not
    # interleave (they may overlap the surviving base generation — the
    # incremental design leaves earlier generations untouched; the
    # cluster leg heals cross-generation overlap when depth warrants)
    import pyarrow.parquet as pq

    new_files = [f for f in V._live_data_files(t)
                 if f not in base_files and f not in appended]
    assert new_files
    by_dir: dict = {}
    for f in new_files:
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i
               for i in range(md.num_columns)}["k"]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min); maxs.append(st.max)
        by_dir.setdefault(os.path.dirname(f), []).append(
            (min(mins), max(maxs))
        )
    for d, envs in by_dir.items():
        envs.sort()
        for (a_lo, a_hi), (b_lo, b_hi) in zip(envs, envs[1:]):
            assert a_hi <= b_lo, f"{d}: interleaved envelopes {envs}"


def test_vacuum_dry_run_prices_exactly_what_vacuum_drops(spark, tmp_path):
    """r17 Delta ``VACUUM ... DRY RUN`` parity: the dry run names the
    versions and data files the real vacuum would drop — and nothing on
    disk moves — then the real vacuum drops exactly that set.  On a
    table whose droppable versions' files are all SHARED with kept
    snapshots, the dry run prices zero bytes (the decide_table
    convergence case)."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "t")
    df = spark.range(5_000).select("id", (F.col("id") * 2).alias("v"))
    V.overwrite_versioned(df.repartition(2), t, now=1.0,
                          snapshot_mode="manifest")
    V.overwrite_versioned(df.limit(100).repartition(2), t, now=2.0)
    V.overwrite_versioned(df.limit(10), t, now=3.0)
    V.overwrite_versioned(df.limit(1), t, now=4.0)
    before = set(V._data_files(t))
    plan = V.vacuum(t, keep_last=1, dry_run=True)
    assert set(V._data_files(t)) == before  # dry run touched nothing
    assert plan["versions"] == [0, 1]
    assert plan["bytes"] == sum(
        os.path.getsize(os.path.join(t, r)) for r in plan["files"]
    ) > 0
    dropped = V.vacuum(t, keep_last=1)
    assert dropped == plan["versions"]
    gone = before - set(V._data_files(t))
    assert {os.path.relpath(f, t) for f in gone} == set(plan["files"])
    # shared-files case: append-only history — v0's files live in every
    # later snapshot, so dropping it reclaims nothing
    t2 = str(tmp_path / "t2")
    V.overwrite_versioned(df.repartition(2), t2, now=1.0,
                          snapshot_mode="manifest")
    V.append_versioned(df.limit(5), t2, now=2.0)
    V.append_versioned(df.limit(5), t2, now=3.0)
    V.append_versioned(df.limit(5), t2, now=4.0)
    plan2 = V.vacuum(t2, keep_last=1, dry_run=True)
    assert plan2["versions"] == [0, 1]
    assert plan2["files"] == [] and plan2["bytes"] == 0


def test_large_action_list_spills_to_files_checkpoint(spark, tmp_path, monkeypatch):
    """r18 (VERDICT r17 ask #3 / SCALE.md r17 caveat): an entry carrying
    a huge add list writes its post-commit live set as a files-checkpoint
    at its own version and logs only counts — replay anchors there, so
    the fat action list is carried by no log artifact and read by no
    replay.  Threshold shrunk so a 6-file commit exercises the path."""
    import json as _json

    monkeypatch.setattr(V, "ACTIONS_SPILL_THRESHOLD", 4)
    path = str(tmp_path / "t")
    df = spark.range(600).withColumnRenamed("id", "k")
    V.overwrite_versioned(df.repartition(6), path, now=1.0,
                          snapshot_mode="manifest")
    # the v0 entry spilled: counts + pointer, no inline action lists
    (e0,) = V._read_log(path)
    assert "add" not in e0 and "remove" not in e0
    assert e0["add_count"] == 6 and e0["remove_count"] == 0
    assert e0["actions_in"] == "files_checkpoint"
    assert V._read_files_checkpoint(path, 0) == V._snapshot_files(path, 0)
    assert len(V._snapshot_files(path, 0)) == 6
    assert V.read_current(spark, path).count() == 600
    # small follow-up commits replay on top of the v0 anchor
    V.append_versioned(df.limit(5).coalesce(1), path, now=2.0)
    assert V.read_current(spark, path).count() == 605
    assert V.read_version(spark, path, 0).count() == 600
    # a mid-history spilling commit (big overwrite) re-anchors replay
    V.overwrite_versioned(df.repartition(5), path, now=3.0)
    e2 = V._read_log(path)[-1]
    assert e2["actions_in"] == "files_checkpoint"
    assert e2["add_count"] == 5 and e2["remove_count"] == 7
    assert V.read_current(spark, path).count() == 600
    assert V.read_version(spark, path, 1).count() == 605  # history intact
    with open(os.path.join(V._log_dir(path), f"{2:020d}.json")) as fh:
        assert len(fh.read()) < 1000  # the entry itself stays tiny


def test_convert_of_large_directory_is_o_live_not_o_history(
    spark, tmp_path, monkeypatch
):
    """CONVERT of a many-file directory writes v0 THROUGH the
    files-checkpoint: the log entry is tiny, resolution anchors at v0,
    and versioned ops on top behave exactly as a small adoption."""
    monkeypatch.setattr(V, "ACTIONS_SPILL_THRESHOLD", 8)
    path = str(tmp_path / "t")
    df = spark.range(1_000).withColumnRenamed("id", "k")
    df.repartition(10).write.parquet(path)
    V.convert_to_versioned(spark, path, now=1.0)
    (e0,) = V._read_log(path)
    assert "add" not in e0
    assert e0["add_count"] == 10 and e0["actions_in"] == "files_checkpoint"
    assert len(V._read_files_checkpoint(path, 0)) == 10
    assert V.read_current(spark, path).count() == 1_000
    # post-adoption commits and time travel ride the anchored replay
    late = df.limit(3).selectExpr("k + 100000 AS k").coalesce(1)
    V.append_versioned(late, path, now=2.0)
    V.delete_where(spark, path, "k < 100", now=3.0)
    assert V.read_current(spark, path).count() == 903
    assert V.read_version(spark, path, 0).count() == 1_000
    assert V.read_version(spark, path, 1).count() == 1_003


def test_history_checkpoint_carries_counts_not_action_lists(spark, tmp_path):
    """r18: the boundary history checkpoint stores action COUNTS for
    entries whose per-commit file still exists — it carries history
    metadata, never a second copy of every action ever committed — and
    old-version resolution (which replays per-commit files) stays exact
    across the compaction."""
    import json as _json

    path = str(tmp_path / "t")
    df = spark.range(50).withColumnRenamed("id", "k")
    counts = []
    V.overwrite_versioned(df.repartition(2), path, now=0.0,
                          snapshot_mode="manifest")
    counts.append(50)
    for i in range(1, 13):  # cross the v10 boundary
        V.append_versioned(df.limit(i).coalesce(1), path, now=float(i))
        counts.append(counts[-1] + i)
    entries, checkpoints = V._log_files(path)
    assert checkpoints, "expected a boundary checkpoint at v10"
    with open(os.path.join(V._log_dir(path), checkpoints[-1])) as fh:
        ckpt = _json.load(fh)
    assert [e["version"] for e in ckpt] == list(range(11))
    for e in ckpt:
        assert "add" not in e and "remove" not in e
        assert e["actions_in"] == "commit_file"
        assert e["add_count"] >= 1
    # resolution from any anchor stays exact: every version, both sides
    # of the boundary, matches the accumulated truth
    for v, n in enumerate(counts):
        assert V.read_version(spark, path, v).count() == n
    fp = V.log_read_footprint(path)
    assert fp["base"] == "checkpoint" and fp["tail_files_read"] == 2


def test_old_history_checkpoints_are_pruned(spark, tmp_path):
    """r18 log retention: _read_log only ever opens the newest history
    checkpoint, so boundary commits keep the newest TWO (one generation
    of reader-race slack) and delete the rest — without this the log
    dir accumulates an O(commits) document every interval, forever."""
    path = str(tmp_path / "t")
    for i in range(35):
        V.overwrite_versioned(spark.range(i + 1), path, now=float(i))
    _entries, checkpoints = V._log_files(path)
    assert [int(f.split(".", 1)[0]) for f in checkpoints] == [20, 30]
    # resolution is untouched: full history, bounded tail, exact travel
    assert [e["version"] for e in V._read_log(path)] == list(range(35))
    fp = V.log_read_footprint(path)
    assert fp["base"] == "checkpoint" and fp["base_version"] == 30
    assert V.read_version(spark, path, 7).count() == 8
    assert V.read_version(spark, path, 34).count() == 35


def test_vacuum_prunes_files_checkpoints_below_retention_floor(
    spark, tmp_path, monkeypatch
):
    """r18 log retention, files leg: after VACUUM raises the retention
    floor, files-checkpoints no queryable resolution can anchor on are
    deleted with the data they described; sub-floor versions read as
    vacuumed (loud error), retained versions stay exact."""
    monkeypatch.setattr(V, "ACTIONS_SPILL_THRESHOLD", 4)
    path = str(tmp_path / "t")
    df = spark.range(600).withColumnRenamed("id", "k")
    V.overwrite_versioned(df.repartition(6), path, now=0.0,
                          snapshot_mode="manifest")  # v0 spills -> files@0
    assert V._read_files_checkpoint(path, 0) is not None
    for i in range(1, 13):  # v1..v12, single-file overwrites: each
        # version's files are orphaned by the next (v1 spills too: it
        # removes v0's six files)
        V.overwrite_versioned(df.limit(i).coalesce(1), path, now=float(i))
    assert V._read_files_checkpoint(path, 1) is not None
    assert V._read_files_checkpoint(path, 10) is not None
    # pre-vacuum: every version resolves exactly
    assert V.read_version(spark, path, 0).count() == 600
    assert V.read_version(spark, path, 5).count() == 5
    dropped = V.vacuum(path, keep_last=1)
    assert dropped == list(range(11))  # v0..v10 aged out
    # anchors below the floor are gone; the v10 anchor survives
    assert V._read_files_checkpoint(path, 0) is None
    assert V._read_files_checkpoint(path, 1) is None
    assert V._read_files_checkpoint(path, 10) is not None
    # retained versions stay exact through the surviving anchor
    assert V.read_version(spark, path, 11).count() == 11
    assert V.read_current(spark, path).count() == 12
    # sub-floor versions fail loudly and read as not-present
    with pytest.raises(ValueError, match="retention floor|was vacuumed"):
        V.read_version(spark, path, 5)
    assert V._manifest_version_present(path, 5) is False
    # history survives (Delta: history outlives data), detail still works
    assert len(V.history(path)) == 13
    d = V.table_detail(path)
    assert d["retained_versions"] == [11]
    # the next vacuum is a no-op, not a crash, on the pruned history
    assert V.vacuum(path, keep_last=1) == []


def test_identity_column_allocates_without_shuffle_or_ledger(spark, tmp_path):
    """r18, Delta ``GENERATED BY DEFAULT AS IDENTITY`` parity: values
    are engine-assigned, unique, strictly advancing across commits with
    gaps allowed — and the high-water is resolved from the committed
    files' parquet FOOTERS (driver-side, zero jobs), so there is no
    allocator ledger for concurrent writers to tear."""
    t = str(tmp_path / "t")
    df = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    V.overwrite_versioned(df.repartition(3), t, now=1.0,
                          snapshot_mode="manifest")
    with pytest.raises(ValueError, match="no identity declaration"):
        V.append_with_identity(df.limit(1), t)
    # declare, then backfill the column via a schema-evolving overwrite
    base = df.selectExpr("k", "v", "k + 1 AS row_id")
    V.overwrite_versioned(base, t, now=2.0)
    V.set_identity(t, "row_id", start=1, step=1)
    assert V.identity_of(t) == {"column": "row_id", "start": 1, "step": 1}
    assert V.identity_high_water(t) == 100
    # two identity appends: unique, each strictly above the last commit
    extra1 = spark.range(37).selectExpr("id + 500 AS k", "id AS v")
    V.append_with_identity(extra1.repartition(4), t, now=3.0)
    got1 = V.read_current(spark, t)
    assert got1.count() == 137
    assert got1.select("row_id").distinct().count() == 137
    hw1 = V.identity_high_water(t)
    assert hw1 > 100
    extra2 = spark.range(11).selectExpr("id + 900 AS k", "id AS v")
    V.append_with_identity(extra2.coalesce(1), t, now=4.0)
    got2 = V.read_current(spark, t)
    assert got2.count() == 148
    assert got2.select("row_id").distinct().count() == 148
    assert got2.selectExpr("min(row_id)").first()[0] == 1
    new_min = (
        V.read_version(spark, t, V.current_version(t))
        .join(V.read_version(spark, t, V.current_version(t) - 1),
              "row_id", "left_anti")
        .selectExpr("min(row_id)").first()[0]
    )
    assert new_min == hw1 + 1  # the new commit seeds at high_water + step
    # engine-assigned means user-supplied values refuse
    with pytest.raises(ValueError, match="engine-assigned"):
        V.append_with_identity(got2.limit(1), t)
    # dropping the declaration disables assignment
    V.set_identity(t, "", )
    assert V.identity_of(t) is None


def test_identity_negative_step_descends(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(10).selectExpr("id AS k", "-(id + 1) AS row_id")
    V.overwrite_versioned(df, t, now=1.0, snapshot_mode="manifest")
    V.set_identity(t, "row_id", start=-1, step=-1)
    assert V.identity_high_water(t) == -10
    V.append_with_identity(
        spark.range(5).selectExpr("id + 100 AS k").coalesce(1), t, now=2.0
    )
    got = V.read_current(spark, t)
    assert got.count() == 15
    assert got.select("row_id").distinct().count() == 15
    assert got.selectExpr("min(row_id)").first()[0] <= -11


def test_generated_columns_compute_and_validate(spark, tmp_path):
    """r18, Delta GENERATED ALWAYS AS parity: absent generated columns
    are computed at write; provided values are validated against the
    expression (a mismatch fails the WHOLE commit); every commit path
    that carries new rows participates."""
    t = str(tmp_path / "t")
    df = spark.range(100).selectExpr("id AS k", "id * 10 AS amount")
    V.overwrite_versioned(df, t, now=1.0, snapshot_mode="manifest")
    V.set_generated(t, "amount_bucket", "CAST(amount / 250 AS INT)")
    # overwrite WITHOUT the column: computed
    V.overwrite_versioned(df, t, now=2.0)
    got = V.read_current(spark, t)
    assert got.columns == ["k", "amount", "amount_bucket"]
    assert got.filter("amount_bucket != CAST(amount / 250 AS INT)").count() == 0
    # append WITHOUT the column: computed
    extra = spark.range(5).selectExpr("id + 900 AS k", "id * 100 AS amount")
    V.append_versioned(extra.coalesce(1), t, now=3.0)
    got = V.read_current(spark, t)
    assert got.count() == 105
    assert got.filter("amount_bucket != CAST(amount / 250 AS INT)").count() == 0
    # provided-and-correct values pass; wrong ones fail the whole commit
    ok = spark.range(2).selectExpr(
        "id + 2000 AS k", "id * 250 AS amount",
        "CAST(id AS INT) AS amount_bucket",
    )
    V.append_versioned(ok.coalesce(1), t, now=4.0)
    assert V.read_current(spark, t).count() == 107
    bad = spark.range(2).selectExpr(
        "id + 3000 AS k", "id * 250 AS amount",
        "CAST(99 AS INT) AS amount_bucket",
    )
    n_before = V.current_version(t)
    with pytest.raises(ValueError, match="GENERATED ALWAYS AS violation"):
        V.append_versioned(bad.coalesce(1), t, now=5.0)
    assert V.current_version(t) == n_before  # nothing committed
    # maintenance rewrites (already-validated rows) skip the extra pass
    V.optimize_compact_incremental(spark, t, target_file_bytes=512 * 1024,
                                   now=6.0)
    assert V.read_current(spark, t).count() == 107
    # dropping the declaration disables both compute and validation
    V.set_generated(t, "amount_bucket", None)
    assert V.generated_of(t) == {}
    V.append_versioned(bad.coalesce(1), t, now=7.0)
    assert V.read_current(spark, t).count() == 109


def test_symlink_manifest_exports_consistent_snapshot(spark, tmp_path):
    """Delta GENERATE symlink_format_manifest parity: the manifests
    list exactly the CURRENT snapshot's files as file: URIs — an
    external engine reading them sees a consistent snapshot even
    though the directory holds superseded files."""
    t = str(tmp_path / "t")
    df = spark.range(1_000).selectExpr("id AS k", "CAST(id % 4 AS INT) AS g")
    V.overwrite_versioned(df, t, now=1.0, snapshot_mode="manifest",
                          partition_by=["g"])
    V.append_versioned(
        spark.range(8).selectExpr("id + 5000 AS k",
                                  "CAST(id % 4 AS INT) AS g"),
        t, now=2.0, partition_by=["g"],
    )
    written = V.generate_symlink_manifest(t)
    assert len(written) == 4  # one manifest per hive partition
    listed = []
    for m in written:
        with open(m) as fh:
            listed += [l for l in fh.read().splitlines() if l]
    assert sorted(listed) == sorted(
        "file:" + os.path.abspath(f) for f in V._live_data_files(t)
    )
    # superseded files live in the dir but are NOT in the manifest
    all_on_disk = {"file:" + os.path.abspath(f) for f in V._data_files(t)}
    assert set(listed) < all_on_disk or set(listed) == all_on_disk
    # regeneration after a commit re-exports the new snapshot
    V.delete_where(spark, t, "g = 3", now=3.0)
    again = V.generate_symlink_manifest(t)
    listed2 = []
    for m in again:
        with open(m) as fh:
            listed2 += [l for l in fh.read().splitlines() if l]
    assert sorted(listed2) == sorted(
        "file:" + os.path.abspath(f) for f in V._live_data_files(t)
    )


def test_fsck_repair_drops_missing_file_refs(spark, tmp_path):
    """Delta FSCK REPAIR TABLE parity: files deleted out-of-band stop
    poisoning reads via one pure log commit; untouched files survive;
    a healthy table is a no-op."""
    t = str(tmp_path / "t")
    df = spark.range(900).selectExpr("id AS k")
    V.overwrite_versioned(df.repartition(3), t, now=1.0,
                          snapshot_mode="manifest")
    assert V.fsck_repair(t) == []  # healthy: no commit
    assert V.current_version(t) == 0
    victim = sorted(V._live_data_files(t))[0]
    os.remove(victim)  # out-of-band damage
    with pytest.raises(Exception):
        V.read_current(spark, t).count()
    dropped = V.fsck_repair(t, now=2.0)
    assert dropped == [os.path.relpath(victim, t)]
    assert V.current_version(t) == 1
    got = V.read_current(spark, t)
    assert 0 < got.count() < 900  # the surviving files' rows
    (e, *_r) = V.history(t)
    assert e["operation"] == "FSCK"
    assert e["metadata"]["removed_missing"] == 1


def test_restore_as_of_and_detail_surfaces_new_properties(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(30).selectExpr("id AS k", "id + 1 AS row_id")
    V.overwrite_versioned(df, t, now=100.0, snapshot_mode="manifest")
    V.overwrite_versioned(df.limit(5), t, now=200.0)
    V.set_identity(t, "row_id")
    V.set_generated(t, "k", None)  # no-op declaration removal path
    assert V.restore_as_of(spark, t, 150.0, now=300.0) == 2
    assert V.read_current(spark, t).count() == 30
    with pytest.raises(ValueError, match="no version committed"):
        V.restore_as_of(spark, t, 50.0)
    d = V.table_detail(t)
    assert d["identity"] == {"column": "row_id", "start": 1, "step": 1}
    assert d["generated"] is None and d["column_mapping"] is None
    V.rename_column_versioned(t, "k", "key", now=400.0)
    d2 = V.table_detail(t)
    assert d2["column_mapping"] == {"key": "k", "row_id": "row_id"}


def test_vacuum_dry_run_prices_log_artifacts_too(spark, tmp_path, monkeypatch):
    """The dry run names the files-checkpoints the real vacuum's
    log-retention leg then deletes — file-for-file — so reclaim
    dashboards see the O(live)-sized log documents in the price."""
    monkeypatch.setattr(V, "ACTIONS_SPILL_THRESHOLD", 4)
    t = str(tmp_path / "t")
    df = spark.range(600).withColumnRenamed("id", "k")
    V.overwrite_versioned(df.repartition(6), t, now=0.0,
                          snapshot_mode="manifest")  # spills files@0
    for i in range(1, 13):
        V.overwrite_versioned(df.limit(i).coalesce(1), t, now=float(i))
    plan = V.vacuum(t, keep_last=1, dry_run=True)
    assert plan["versions"] == list(range(11))
    assert plan["log_files"] and plan["log_bytes"] > 0
    named = set(plan["log_files"])
    V.vacuum(t, keep_last=1)
    ldir = V._log_dir(t)
    remaining = {f for f in os.listdir(ldir) if f.endswith(".files.json")}
    assert named & remaining == set()  # everything priced was dropped
