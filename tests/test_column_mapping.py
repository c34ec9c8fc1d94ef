"""Delta column mapping (name mode) parity, r18: RENAME/DROP COLUMN as
METADATA-ONLY commits on manifest-mode versioned tables — data files
keep their physical column names forever, readers project
physical→logical per version (time travel shows each version under its
own names), a full overwrite resets the mapping to identity, and the
v1 feature gates refuse the direct-file-reader surfaces loudly.

Reference parity target: Databricks `ALTER TABLE ... RENAME/DROP
COLUMN` under `delta.columnMapping.mode = name` — at 100 TB a rename
must be one fsynced log entry, never a rewrite."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
    skipping as S,
)
from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
    versioned as V,
)


@pytest.fixture()
def mtable(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    V.overwrite_versioned(df.repartition(4), t, now=1.0,
                          snapshot_mode="manifest")
    return t


def _inode_map(t):
    return {
        os.path.basename(f): os.stat(f).st_ino
        for f in V._live_data_files(t)
    }


def test_rename_is_metadata_only_and_projects(spark, mtable):
    before = _inode_map(mtable)
    v = V.rename_column_versioned(mtable, "v", "value", now=2.0)
    assert v == 1
    assert _inode_map(mtable) == before  # zero data I/O
    got = V.read_current(spark, mtable)
    assert got.columns == ["k", "value"]
    assert got.agg(F.sum("value")).first()[0] == sum(i * 2 for i in range(500))
    # the files still carry the PHYSICAL name
    any_file = V._live_data_files(mtable)[0]
    assert "v" in pq.read_schema(any_file).names
    assert V.column_mapping(mtable) == {"k": "k", "value": "v"}
    (e, *_rest) = V.history(mtable)
    assert e["operation"] == "RENAME COLUMN (v -> value)"
    assert e["add"] == [] and e["remove"] == []


def test_time_travel_shows_each_versions_own_names(spark, mtable):
    V.rename_column_versioned(mtable, "v", "value", now=2.0)
    assert V.read_version(spark, mtable, 0).columns == ["k", "v"]
    assert V.read_version(spark, mtable, 1).columns == ["k", "value"]
    assert (
        V.read_version(spark, mtable, 0).agg(F.sum("v")).first()[0]
        == V.read_version(spark, mtable, 1).agg(F.sum("value")).first()[0]
    )


def test_append_after_rename_stages_physical_reads_logical(spark, mtable):
    V.rename_column_versioned(mtable, "v", "value", now=2.0)
    extra = spark.createDataFrame([(9001, 42), (9002, 43)], "k long, value long")
    V.append_versioned(extra.coalesce(1), mtable, now=3.0)
    got = V.read_current(spark, mtable)
    assert got.count() == 502
    assert got.filter("k = 9001").first()["value"] == 42
    # the appended file was staged under the PHYSICAL name
    newest = [f for f in V._live_data_files(mtable)
              if os.path.basename(f).startswith("v2-")]
    assert newest and all(
        "v" in pq.read_schema(f).names and "value" not in pq.read_schema(f).names
        for f in newest
    )


def test_rename_chain_and_reuse_of_freed_name(spark, mtable):
    V.rename_column_versioned(mtable, "v", "tmp", now=2.0)
    V.rename_column_versioned(mtable, "k", "v", now=3.0)  # freed name reused
    got = V.read_current(spark, mtable)
    assert got.columns == ["v", "tmp"]
    # logical 'v' is the OLD k; logical 'tmp' is the OLD v
    assert got.agg(F.sum("v")).first()[0] == sum(range(500))
    assert got.agg(F.sum("tmp")).first()[0] == sum(i * 2 for i in range(500))
    assert V.column_mapping(mtable) == {"v": "k", "tmp": "v"}
    assert V.read_version(spark, mtable, 0).columns == ["k", "v"]


def test_drop_column_hides_bytes_without_rewrite(spark, mtable):
    before = _inode_map(mtable)
    V.drop_column_versioned(mtable, "v", now=2.0)
    assert _inode_map(mtable) == before
    got = V.read_current(spark, mtable)
    assert got.columns == ["k"]
    # the bytes are still in the files; the projection un-publishes them
    any_file = V._live_data_files(mtable)[0]
    assert "v" in pq.read_schema(any_file).names
    # time travel still serves the dropped column at v0
    assert V.read_version(spark, mtable, 0).columns == ["k", "v"]
    with pytest.raises(ValueError, match="cannot drop the last column"):
        V.drop_column_versioned(mtable, "k")


def test_overwrite_resets_mapping_to_identity(spark, mtable):
    V.rename_column_versioned(mtable, "v", "value", now=2.0)
    df = V.read_current(spark, mtable).withColumn("extra", F.lit(1))
    V.overwrite_versioned(df, mtable, now=3.0)
    assert V.column_mapping(mtable) is None  # explicit CLEAR recorded
    # fresh files carry LOGICAL names
    any_file = V._live_data_files(mtable)[0]
    assert "value" in pq.read_schema(any_file).names
    # old versions keep resolving their own mapping
    assert V.read_version(spark, mtable, 0).columns == ["k", "v"]
    assert V.read_version(spark, mtable, 1).columns == ["k", "value"]
    # and file-level pruning is legal again on the identity mapping
    S.write_stats_manifest(spark, mtable, ["k"],
                           files=V._live_data_files(mtable))
    kept, total = S.pruned_files_multi(spark, mtable, {"k": (0, 10)})
    assert total >= 1


def test_dml_and_maintenance_compose_with_mapping(spark, mtable):
    V.rename_column_versioned(mtable, "v", "value", now=2.0)
    # logical-frame DML (reads logical, full rewrite resets mapping)
    V.update_where(spark, mtable, F.col("k") < 10,
                   {"value": F.lit(0)}, now=3.0)
    got = V.read_current(spark, mtable)
    assert got.filter("k < 10").agg(F.sum("value")).first()[0] == 0
    assert got.columns == ["k", "value"]


def test_optimize_physical_frames_pass_through(spark, mtable):
    """Incremental OPTIMIZE reads data files directly (physical names)
    and commits through replace_files — the physical frame must pass
    through untranslated and the logical read stay intact."""
    V.rename_column_versioned(mtable, "v", "value", now=2.0)
    extra = spark.createDataFrame([(10**6 + i, i) for i in range(8)],
                                  "k long, value long")
    V.append_versioned(extra.repartition(4), mtable, now=3.0)
    V.optimize_compact_incremental(spark, mtable,
                                   target_file_bytes=512 * 1024, now=4.0)
    got = V.read_current(spark, mtable)
    assert got.columns == ["k", "value"]
    assert got.count() == 508
    assert got.filter("k >= 1000000").count() == 8


def test_restore_across_rename_restores_old_names(spark, mtable):
    V.rename_column_versioned(mtable, "v", "value", now=2.0)
    V.restore(spark, mtable, 0, now=3.0)
    got = V.read_current(spark, mtable)
    assert got.columns == ["k", "v"]
    assert V.column_mapping(mtable) is None  # cleared by the rewrite
    assert got.count() == 500


def test_clone_carries_mapping_at_pinned_version(spark, tmp_path, mtable):
    V.rename_column_versioned(mtable, "v", "value", now=2.0)
    c_new = str(tmp_path / "c_new")
    V.clone_table(mtable, c_new, now=3.0)
    assert V.read_current(spark, c_new).columns == ["k", "value"]
    c_old = str(tmp_path / "c_old")
    V.clone_table(mtable, c_old, version=0, now=3.0)
    assert V.read_current(spark, c_old).columns == ["k", "v"]


def test_v1_feature_gates_refuse_loudly(spark, tmp_path, mtable):
    # physical-mode tables have no projection point
    p = str(tmp_path / "phys")
    V.overwrite_versioned(spark.range(10).withColumnRenamed("id", "k"),
                          p, now=1.0)
    with pytest.raises(ValueError, match="manifest-mode"):
        V.rename_column_versioned(p, "k", "kk")
    # partition columns live in directory names
    hive = str(tmp_path / "hive")
    df = spark.range(100).select(
        (F.col("id") % 4).cast("int").alias("g"), F.col("id").alias("x")
    )
    V.overwrite_versioned(df, hive, now=1.0, snapshot_mode="manifest",
                          partition_by=["g"])
    with pytest.raises(ValueError, match="partition column"):
        V.rename_column_versioned(hive, "g", "grp")
    # clustering- and constraint-referenced columns are pinned by text
    V.set_clustering(spark, mtable, ["v"], curve="sorted")
    with pytest.raises(ValueError, match="clustering column"):
        V.rename_column_versioned(mtable, "v", "value")
    V.set_clustering(spark, mtable, [], curve="sorted")
    V.set_constraints(mtable, {"v_pos": "v >= 0"})
    with pytest.raises(ValueError, match="constraint"):
        V.rename_column_versioned(mtable, "v", "value")
    V.set_constraints(mtable, {})
    # now a rename lands; the direct-file-reader surfaces refuse
    V.rename_column_versioned(mtable, "v", "value", now=2.0)
    with pytest.raises(ValueError, match="column-mapped"):
        S.write_stats_manifest(spark, mtable, ["k"])
    with pytest.raises(ValueError, match="column-mapped"):
        S.pruned_files_multi(spark, mtable, {"k": (0, 10)})
    with pytest.raises(ValueError, match="column-mapped"):
        V._refuse_mapped(mtable, "replace_partitions")
    # CLUSTER BY on a renamed column refuses until a rewrite
    with pytest.raises(ValueError, match="renamed column"):
        V.set_clustering(spark, mtable, ["value"], curve="sorted")
    # unknown/duplicate names refuse
    with pytest.raises(ValueError, match="no column"):
        V.rename_column_versioned(mtable, "gone", "x")
    with pytest.raises(ValueError, match="already exists"):
        V.rename_column_versioned(mtable, "k", "value")


def test_rename_drops_skipping_sidecars_for_self_safety(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(400).select(F.col("id").alias("k"),
                                 (F.col("id") * 3).alias("v"))
    V.overwrite_versioned(df.repartition(4), t, now=1.0,
                          snapshot_mode="manifest", stats_columns=["v"])
    assert os.path.isdir(os.path.join(t, S.STATS_DIR))
    V.rename_column_versioned(t, "v", "value", now=2.0)
    assert not os.path.isdir(os.path.join(t, S.STATS_DIR))
    assert not os.path.exists(V._stats_hint_path(t))  # hints are logical
    # reads stay exact without pruning
    assert V.read_current(spark, t).agg(F.sum("value")).first()[0] == \
        sum(i * 3 for i in range(400))


def test_cdf_across_rename_boundary_refuses(spark, mtable):
    V.rename_column_versioned(mtable, "v", "value", now=2.0)
    extra = spark.createDataFrame([(9001, 42)], "k long, value long")
    V.append_versioned(extra, mtable, now=3.0)
    with pytest.raises(ValueError, match="schema change"):
        V.table_changes(spark, mtable, ["k"], 0, 2)
    # within one naming era the feed works
    out = V.table_changes(spark, mtable, ["k"], 1, 2)
    assert out.filter("_change_type = 'insert'").count() == 1


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_alter_sequences_match_a_name_aware_model(
    spark, tmp_path, seed
):
    """Model fuzz of the mapping protocol: random interleavings of
    rename / drop / append / full overwrite / restore / time travel
    against an in-memory model that tracks BOTH the rows and the
    logical column names per version.  After every committing op the
    logical table must equal the model under the model's names, and
    every retained version must read under ITS OWN names."""
    import random

    rng = random.Random(seed)
    t = str(tmp_path / "t")

    def df_of(names, rows):
        return spark.createDataFrame(
            rows or [(0, 0, 0)], ", ".join(f"{n} long" for n in names)
        ).limit(len(rows))

    names = ["a", "b", "c"]
    rows = [(rng.randrange(100), rng.randrange(100), rng.randrange(100))
            for _ in range(40)]
    V.overwrite_versioned(df_of(names, rows), t, now=1.0,
                          snapshot_mode="manifest")
    snapshots = {0: (list(names), sorted(rows))}
    clock, fresh = 2.0, 0
    oplog = []

    def observed(version=None):
        got = (V.read_current(spark, t) if version is None
               else V.read_version(spark, t, version))
        return got.columns, sorted(tuple(r) for r in got.collect())

    for step in range(14):
        op = rng.choice(
            ["rename", "drop", "append", "overwrite", "restore",
             "timetravel"]
        )
        clock += 1.0
        if op == "rename" and names:
            old = rng.choice(names)
            fresh += 1
            new = f"col{fresh}"
            V.rename_column_versioned(t, old, new, now=clock)
            names = [new if n == old else n for n in names]
        elif op == "drop" and len(names) > 1:
            i = rng.randrange(len(names))
            V.drop_column_versioned(t, names[i], now=clock)
            names = names[:i] + names[i + 1:]
            rows = sorted(r[:i] + r[i + 1:] for r in rows)
        elif op == "append":
            extra = [tuple(rng.randrange(100) for _ in names)
                     for _ in range(6)]
            V.append_versioned(df_of(names, extra), t, now=clock)
            rows = sorted(rows + extra)
        elif op == "overwrite":
            rows = sorted(
                tuple(rng.randrange(100) for _ in names) for _ in range(25)
            )
            V.overwrite_versioned(df_of(names, rows), t, now=clock)
        elif op == "restore":
            pick = rng.choice(sorted(snapshots))
            try:
                V.restore(spark, t, pick, now=clock)
            except ValueError:
                oplog.append(f"restore v{pick} refused")
                continue
            names, rows = list(snapshots[pick][0]), list(snapshots[pick][1])
        elif op == "timetravel":
            pick = rng.choice(sorted(snapshots))
            try:
                cols, got = observed(pick)
            except ValueError:
                oplog.append(f"tt v{pick} aged out")
                continue
            assert (cols, got) == snapshots[pick], (pick, oplog)
            continue
        else:
            continue
        snapshots[V.current_version(t)] = (list(names), sorted(rows))
        oplog.append(f"{op} -> v{V.current_version(t)} cols={names}")
        cols, got = observed()
        assert cols == names, oplog
        assert got == sorted(map(tuple, rows)), oplog

    # closing sweep: every still-readable version under its own names
    for ver, snap in snapshots.items():
        try:
            cols, got = observed(ver)
        except ValueError:
            continue
        assert (cols, got) == snap, (ver, oplog)


def test_alter_refuses_identity_column(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(20).selectExpr("id AS k", "id + 1 AS row_id")
    V.overwrite_versioned(df, t, now=1.0, snapshot_mode="manifest")
    V.set_identity(t, "row_id")
    with pytest.raises(ValueError, match="identity column"):
        V.rename_column_versioned(t, "row_id", "rid")
    with pytest.raises(ValueError, match="identity column"):
        V.drop_column_versioned(t, "row_id")
    # other columns still alter freely on an identity table, and
    # allocation keeps working through the mapping-translated append
    V.rename_column_versioned(t, "k", "key", now=2.0)
    V.append_with_identity(
        spark.range(3).selectExpr("id + 100 AS key").coalesce(1), t, now=3.0
    )
    got = V.read_current(spark, t)
    assert got.columns == ["key", "row_id"]
    assert got.count() == 23
    assert got.select("row_id").distinct().count() == 23


def test_alter_table_sql_entry_point(spark, tmp_path, mtable):
    """The DDL SQL front routes every supported form to the storage
    layer, with its refusals passing through loudly."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.plans.alter_sql import (
        alter_table_sql,
    )

    v = alter_table_sql(
        spark, f"ALTER TABLE delta.`{mtable}` RENAME COLUMN v TO value;",
        now=2.0,
    )
    assert v == 1
    assert V.read_current(spark, mtable).columns == ["k", "value"]
    alter_table_sql(
        spark, f"ALTER TABLE `{mtable}` ADD CONSTRAINT pos CHECK (k >= 0)"
    )
    assert V.get_constraints(mtable) == {"pos": "k >= 0"}
    with pytest.raises(ValueError, match="constraint"):
        alter_table_sql(spark, f"ALTER TABLE {mtable} DROP COLUMN k")
    alter_table_sql(spark, f"ALTER TABLE {mtable} DROP CONSTRAINT pos")
    assert V.get_constraints(mtable) == {}
    v2 = alter_table_sql(spark, f"ALTER TABLE {mtable} DROP COLUMN value")
    assert v2 == 2
    assert V.read_current(spark, mtable).columns == ["k"]
    alter_table_sql(spark, f"ALTER TABLE {mtable} CLUSTER BY (k)")
    assert V.clustering_of(mtable) == {"cols": ["k"], "curve": "sorted"}
    alter_table_sql(spark, f"ALTER TABLE {mtable} CLUSTER BY NONE")
    assert V.clustering_of(mtable) is None
    with pytest.raises(ValueError, match="unsupported ALTER"):
        alter_table_sql(spark, f"ALTER TABLE {mtable} SET TBLPROPERTIES (x=1)")
    with pytest.raises(ValueError, match="no constraint"):
        alter_table_sql(spark, f"ALTER TABLE {mtable} DROP CONSTRAINT nope")


def test_drop_only_mapping_keeps_gating_direct_file_readers(spark, mtable):
    """r18 review finding #1: a DROP with no prior rename leaves a
    mapping whose CONTENT looks like identity — but the files still
    carry the dropped column's bytes, so every direct-file-reader gate
    must keep refusing until a full rewrite stages fresh files."""
    V.drop_column_versioned(mtable, "v", now=2.0)
    assert V.column_mapping(mtable) == {"k": "k"}
    with pytest.raises(ValueError, match="column-mapped"):
        S.write_stats_manifest(spark, mtable, ["k"])
    with pytest.raises(ValueError, match="column-mapped"):
        V.generate_symlink_manifest(mtable)
    d = V.table_detail(mtable)
    assert d["column_mapping"] == {"k": "k"}  # reported, not hidden
    # the logical read never shows the dropped column
    assert V.read_current(spark, mtable).columns == ["k"]
    # a full overwrite stages fresh files and reopens the gates
    V.overwrite_versioned(V.read_current(spark, mtable), mtable, now=3.0)
    assert V.column_mapping(mtable) is None
    S.write_stats_manifest(spark, mtable, ["k"],
                           files=V._live_data_files(mtable))
    V.generate_symlink_manifest(mtable)


def test_optimize_after_drop_sheds_dropped_bytes(spark, mtable):
    """r18 review finding #3: maintenance rewrites staged from direct
    file reads carry the dropped column's physical bytes — the rewrite
    must SHED them (Delta: a rewrite materializes only the current
    schema) and commit cleanly."""
    V.drop_column_versioned(mtable, "v", now=2.0)
    extra = spark.createDataFrame([(10**6 + i,) for i in range(8)], "k long")
    V.append_versioned(extra.repartition(4), mtable, now=3.0)
    v = V.optimize_compact_incremental(spark, mtable,
                                       target_file_bytes=512 * 1024, now=4.0)
    assert v > 2  # the compaction committed
    got = V.read_current(spark, mtable)
    assert got.columns == ["k"] and got.count() == 508
    # files written by the compaction no longer carry the dropped bytes
    packed = [f for f in V._live_data_files(mtable)
              if os.path.basename(f).startswith(f"v{v}-")]
    assert packed and all("v" not in pq.read_schema(f).names for f in packed)


def test_constraint_on_renamed_name_composes_with_maintenance(spark, mtable):
    """r18 review finding #4: a CHECK constraint added AFTER a rename
    names the new logical column; maintenance rewrites stage physical
    frames, so validation must run on the logical view."""
    V.rename_column_versioned(mtable, "v", "value", now=2.0)
    V.set_constraints(mtable, {"pos": "value >= 0"})
    extra = spark.createDataFrame([(10**6 + i, i) for i in range(8)],
                                  "k long, value long")
    V.append_versioned(extra.repartition(4), mtable, now=3.0)
    v = V.optimize_compact_incremental(spark, mtable,
                                       target_file_bytes=512 * 1024, now=4.0)
    assert v > 2
    assert V.read_current(spark, mtable).count() == 508
    # and the constraint still rejects genuinely bad logical appends
    bad = spark.createDataFrame([(1, -5)], "k long, value long")
    with pytest.raises(Exception, match="pos"):
        V.append_versioned(bad, mtable, now=5.0)


def test_alter_refuses_generated_dependencies(spark, tmp_path):
    """r18 review finding #2: renaming/dropping a column a generated
    expression declares or references would make the table unwritable;
    refuse up front, and declaration REMOVAL is never gated."""
    t = str(tmp_path / "t")
    df = spark.range(20).selectExpr("id AS a", "id + 1 AS b")
    V.overwrite_versioned(df, t, now=1.0, snapshot_mode="manifest")
    V.set_generated(t, "b", "a + 1")
    with pytest.raises(ValueError, match="generated column"):
        V.rename_column_versioned(t, "a", "x")
    with pytest.raises(ValueError, match="generated column"):
        V.drop_column_versioned(t, "b")
    # removal is the escape hatch — then the rename lands, and removal
    # stays allowed even on the now-mapped table
    V.set_generated(t, "b", None)
    V.rename_column_versioned(t, "a", "x", now=2.0)
    V.set_generated(t, "b", None)  # no-op removal on the mapped table
    assert V.read_current(spark, t).columns == ["x", "b"]


def test_identity_allocation_race_fails_loudly(spark, tmp_path, monkeypatch):
    """r18 review finding #6: a commit landing between the high-water
    read and the append must raise ConcurrentWriteError — never
    silently duplicate the rival's identity range."""
    t = str(tmp_path / "t")
    df = spark.range(30).selectExpr("id AS k", "id + 1 AS row_id")
    V.overwrite_versioned(df, t, now=1.0, snapshot_mode="manifest")
    V.set_identity(t, "row_id")
    real_hw = V.identity_high_water

    def racing_hw(path):
        hw = real_hw(path)
        # rival lands AFTER our snapshot pin but before our commit
        V.append_versioned(
            spark.range(4).selectExpr("id + 700 AS k",
                                      "id + 1000 AS row_id").coalesce(1),
            t, now=2.0,
        )
        return hw

    monkeypatch.setattr(V, "identity_high_water", racing_hw)
    with pytest.raises(V.ConcurrentWriteError):
        V.append_with_identity(
            spark.range(2).selectExpr("id + 900 AS k").coalesce(1), t, now=3.0
        )
    monkeypatch.setattr(V, "identity_high_water", real_hw)
    # the retry on a fresh snapshot allocates above the rival's range
    V.append_with_identity(
        spark.range(2).selectExpr("id + 900 AS k").coalesce(1), t, now=4.0
    )
    got = V.read_current(spark, t)
    assert got.count() == 36
    assert got.select("row_id").distinct().count() == 36


@pytest.mark.parametrize("alter", [
    lambda t: V.rename_column_versioned(t, "v", "vv", now=3.0),
    lambda t: V.drop_column_versioned(t, "v", now=3.0),
], ids=["rename", "drop"])
def test_alter_refuses_a_rival_commit_after_its_schema_read(
    spark, mtable, monkeypatch, alter
):
    """An ALTER reads the logical schema and mapping before it claims
    the commit slot.  A rival commit landing in between (here an
    overwrite adding column ``c``) must fail the ALTER — never be
    silently undone by the ALTER's stale schema."""
    real_claim = V._claim_intent
    fired = []

    def rival_then_claim(path, intent):
        if not fired:
            fired.append(True)
            V.overwrite_versioned(
                spark.range(5).selectExpr("id AS k", "id * 2 AS v",
                                          "id AS c"),
                mtable, now=2.0,
            )
        return real_claim(path, intent)

    monkeypatch.setattr(V, "_claim_intent", rival_then_claim)
    with pytest.raises(V.ConcurrentWriteError):
        alter(mtable)
    monkeypatch.undo()
    assert fired and V.current_version(mtable) == 1  # the rival only
    assert V.read_current(spark, mtable).columns == ["k", "v", "c"]
    assert V._read_intent(mtable) is None  # the slot was released
    # re-run on the fresh snapshot: the ALTER lands and keeps column c
    alter(mtable)
    assert "c" in V.read_current(spark, mtable).columns


def test_stray_user_column_is_not_silently_shed(spark, mtable):
    """An unknown extra column on a mapped table is a USER error — the
    schema check must raise, never silently shed it as if it were a
    retired physical column."""
    V.drop_column_versioned(mtable, "v", now=2.0)
    stray = spark.createDataFrame([(9001, 1)], "k long, oops long")
    with pytest.raises(ValueError, match="schema must match"):
        V.append_versioned(stray, mtable, now=3.0)
    # while a frame carrying exactly the RETIRED physical column (the
    # maintenance-rewrite shape) still sheds and commits
    phys = spark.createDataFrame([(9001, 1)], "k long, v long")
    V.replace_files(phys, mtable, remove=[],
                    expected_version=V.current_version(mtable),
                    now=4.0, operation="OPTIMIZE")
    got = V.read_current(spark, mtable)
    assert got.columns == ["k"] and got.count() == 501


def test_concurrent_appends_race_renames_cleanly(spark, tmp_path):
    """ALTERs take the same commit claim as data commits: concurrent
    appends retry through rename commits (appends re-pin on version
    races) and the final state is consistent — every appended row
    present exactly once, under whatever logical names won."""
    import threading

    t = str(tmp_path / "t")
    df = spark.range(50).selectExpr("id AS k", "id * 2 AS v")
    V.overwrite_versioned(df, t, now=1.0, snapshot_mode="manifest")
    errs = []

    def do_appends():
        try:
            for i in range(4):
                cols = V.read_current(spark, t).columns
                extra = spark.createDataFrame(
                    [(10_000 + i, 0)], f"{cols[0]} long, {cols[1]} long"
                )
                for _ in range(12):  # re-derive through rename races
                    try:
                        V.append_versioned(extra.coalesce(1), t)
                        break
                    except V.ConcurrentWriteError:
                        continue
                    except Exception:
                        # a rename landed between read and stage: the
                        # schema check fails loudly — re-derive
                        cols = V.read_current(spark, t).columns
                        extra = spark.createDataFrame(
                            [(10_000 + i, 0)],
                            f"{cols[0]} long, {cols[1]} long",
                        )
                else:
                    raise AssertionError("append never landed")
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    def do_renames():
        try:
            names = ["v", "w", "x", "y"]
            for old, new in zip(names, names[1:]):
                for _ in range(20):
                    try:
                        V.rename_column_versioned(t, old, new)
                        break
                    except V.ConcurrentWriteError:
                        continue
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    a = threading.Thread(target=do_appends)
    r = threading.Thread(target=do_renames)
    a.start(); r.start(); a.join(); r.join()
    assert errs == [], errs
    got = V.read_current(spark, t)
    assert got.columns == ["k", "y"]  # every rename landed
    assert got.count() == 54
    assert got.filter("k >= 10000").count() == 4  # every append landed
    # history is a clean serialization: one commit per version
    versions = [e["version"] for e in V.history(t)]
    assert versions == sorted(versions, reverse=True)
    assert len(set(versions)) == len(versions)


def test_append_never_sheds_retired_columns(spark, mtable):
    """Review 2 #1: a user APPEND carrying a dropped column's name is a
    caller bug and must fail the schema check — never silently discard
    that column's data the way a maintenance rewrite sheds it."""
    V.drop_column_versioned(mtable, "v", now=2.0)
    stale_producer = spark.createDataFrame([(9001, 123)], "k long, v long")
    with pytest.raises(ValueError, match="schema must match"):
        V.append_versioned(stale_producer, mtable, now=3.0)
    assert V.read_current(spark, mtable).count() == 500  # nothing landed


def test_legacy_identity_dict_reads_as_cleared(spark, mtable):
    """Review 2 #2: tables written by the pre-r18 overwrite recorded an
    identity dict {c: c} instead of the explicit null clear — their
    files were staged fresh, so the gates must treat it as cleared,
    while ALTER-recorded identity-content dicts keep gating."""
    import json as _json

    V.rename_column_versioned(mtable, "v", "value", now=2.0)
    V.overwrite_versioned(V.read_current(spark, mtable), mtable, now=3.0)
    # devolve the clear into the legacy identity-dict form
    ldir = V._log_dir(mtable)
    ef = os.path.join(ldir, f"{V.current_version(mtable):020d}.json")
    with open(ef) as fh:
        e = _json.load(fh)
    assert e[V.MAPPING_KEY] is None
    e[V.MAPPING_KEY] = {c: c for c in ["k", "value"]}
    V._fsync_json(ef, e)
    assert V.column_mapping(mtable) is None  # read as cleared
    S.write_stats_manifest(spark, mtable, ["k"],
                           files=V._live_data_files(mtable))  # gates open
    # but a DROP-recorded identity-content dict still gates
    V.drop_column_versioned(mtable, "value", now=4.0)
    assert V.column_mapping(mtable) == {"k": "k"}
    with pytest.raises(ValueError, match="column-mapped"):
        V.generate_symlink_manifest(mtable)
