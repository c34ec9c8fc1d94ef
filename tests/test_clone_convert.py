"""CONVERT TO DELTA / CLONE parity (r17): in-place adoption of plain
parquet as a versioned table, and zero-copy snapshot clones with
independent histories."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
    deletion_vectors as DV,
)
from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
    versioned as V,
)

from .conftest import SF_DIR


def _xor_checksum(df, *cols):
    return df.agg(F.bit_xor(F.xxhash64(*cols)).alias("h")).first()["h"]


# ---------------------------------------------------------------------------
# CONVERT
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("mode", ["manifest", "physical"])
def test_convert_adopts_plain_parquet_in_place(spark, tmp_path, mode):
    t = str(tmp_path / "t")
    src = spark.read.parquet(f"{SF_DIR}/part.parquet")
    src.repartition(4).write.parquet(t)
    before = sorted(
        (os.path.relpath(f, t), os.path.getsize(f), os.path.getmtime(f))
        for f in V._data_files(t)
    )
    assert V.convert_to_versioned(spark, t, snapshot_mode=mode, now=1.0) == 0
    # zero-copy adoption: the data files are byte-identical and unmoved
    after = sorted(
        (os.path.relpath(f, t), os.path.getsize(f), os.path.getmtime(f))
        for f in V._data_files(t)
    )
    assert before == after
    assert V.current_version(t) == 0
    assert V.snapshot_mode(t) == mode
    got = V.read_current(spark, t)
    assert got.count() == src.count()
    assert _xor_checksum(got, "p_partkey", "p_size") == _xor_checksum(
        src, "p_partkey", "p_size"
    )
    (entry,) = V.history(t)
    assert entry["operation"] == "CONVERT"
    assert entry["metadata"]["adopted_files"] == len(before)


def test_convert_then_versioned_ops_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    src = spark.read.parquet(f"{SF_DIR}/part.parquet")
    src.repartition(4).write.parquet(t)
    V.convert_to_versioned(spark, t, now=1.0, stats_columns=["p_partkey"])
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
        skipping,
    )

    assert os.path.isdir(os.path.join(t, skipping.STATS_DIR))
    extra = src.limit(5).withColumn("p_partkey", F.col("p_partkey") + 10**9)
    V.append_versioned(extra, t, now=2.0)
    assert V.read_current(spark, t).count() == src.count() + 5
    # v0 time travel returns exactly the adopted snapshot
    assert V.read_version(spark, t, 0).count() == src.count()


def test_convert_refusals(spark, tmp_path):
    t = str(tmp_path / "t")
    spark.read.parquet(f"{SF_DIR}/part.parquet").coalesce(1).write.parquet(t)
    V.convert_to_versioned(spark, t, now=1.0)
    with pytest.raises(ValueError, match="already a versioned table"):
        V.convert_to_versioned(spark, t)
    # empty dir
    e = str(tmp_path / "empty")
    os.makedirs(e)
    with pytest.raises(ValueError, match="no parquet data files"):
        V.convert_to_versioned(spark, e)
    # live DV sidecar: adopted v0 would resurrect marked rows
    d = str(tmp_path / "dv")
    spark.read.parquet(f"{SF_DIR}/part.parquet").coalesce(1).write.parquet(d)
    DV.delete_where_dv(spark, d, F.col("p_type") == "PROMO")
    with pytest.raises(ValueError, match="deletion-vector"):
        V.convert_to_versioned(spark, d)


def test_convert_crash_rolls_forward(spark, tmp_path):
    """A convert that died after journaling its intent but before the
    log append completes on recover() — the standard roll-forward."""
    t = str(tmp_path / "t")
    spark.read.parquet(f"{SF_DIR}/part.parquet").coalesce(2).write.parquet(t)
    files = sorted(os.path.relpath(f, t) for f in V._data_files(t))
    V._claim_intent(t, {"op": "convert"})
    V._set_snapshot_mode(t, "manifest")
    entry = {
        "version": 0, "committed_at": 1.0, "operation": "CONVERT",
        "metadata": {"adopted_files": len(files)},
        "add": files, "remove": [],
        "schema": spark.read.parquet(t).schema.json(),
    }
    V._write_intent(t, {"stage": f"{t}.__stage_convert", "entry": entry,
                        "moves": []})
    assert V.recover(t) is True
    assert V.current_version(t) == 0
    assert V.read_current(spark, t).count() == spark.read.parquet(
        f"{SF_DIR}/part.parquet"
    ).count()


# ---------------------------------------------------------------------------
# CLONE
# ---------------------------------------------------------------------------

@pytest.fixture()
def vtable(spark, tmp_path):
    t = str(tmp_path / "src")
    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    V.overwrite_versioned(part.repartition(4), t, now=1.0,
                          snapshot_mode="manifest",
                          stats_columns=["p_partkey"])
    V.append_versioned(
        part.limit(7).withColumn("p_partkey", F.col("p_partkey") + 10**9),
        t, now=2.0,
    )
    return t


def test_clone_is_zero_copy_and_independent(spark, tmp_path, vtable):
    dst = str(tmp_path / "dst")
    assert V.clone_table(vtable, dst, now=3.0) == 0
    src_df = V.read_current(spark, vtable)
    dst_df = V.read_current(spark, dst)
    assert dst_df.count() == src_df.count()
    assert _xor_checksum(dst_df, "p_partkey", "p_size") == _xor_checksum(
        src_df, "p_partkey", "p_size"
    )
    # zero-copy: every cloned file shares its source inode (hardlink)
    src_inodes = {os.path.basename(f): os.stat(f).st_ino
                  for f in V._live_data_files(vtable)}
    for f in V._live_data_files(dst):
        assert os.stat(f).st_ino == src_inodes[os.path.basename(f)]
    # fresh lineage-bearing history
    (entry,) = V.history(dst)
    assert entry["operation"] == f"CLONE({vtable}@v1)"
    assert entry["metadata"]["source_table"] == vtable
    assert entry["metadata"]["source_version"] == 1
    # divergence: a write to the clone never reaches the source
    n0 = src_df.count()
    V.delete_where(spark, dst, F.col("p_partkey") >= 10**9, now=4.0)
    assert V.read_current(spark, dst).count() == n0 - 7
    assert V.read_current(spark, vtable).count() == n0
    # ...and vice versa
    V.append_versioned(src_df.limit(3), vtable, now=5.0)
    assert V.read_current(spark, vtable).count() == n0 + 3
    assert V.read_current(spark, dst).count() == n0 - 7


def test_clone_losing_the_claim_leaves_no_stage(spark, tmp_path, vtable):
    """A clone that loses the commit-slot race (a live intent at the
    destination) raises ConcurrentWriteError and removes its
    hard-linked stage — nothing is left for recover() to sweep."""
    dst = str(tmp_path / "dst")
    V._claim_intent(dst, {"stage": "in-flight"})  # a rival mid-commit
    with pytest.raises(V.ConcurrentWriteError):
        V.clone_table(vtable, dst, now=3.0)
    assert not [
        d for d in os.listdir(tmp_path) if d.startswith("dst.__stage_")
    ]
    V._release_intent(dst)
    assert V.clone_table(vtable, dst, now=4.0) == 0
    assert V.read_current(spark, dst).count() == (
        V.read_current(spark, vtable).count()
    )


def test_clone_version_as_of_and_deep(spark, tmp_path, vtable):
    old = str(tmp_path / "old")
    V.clone_table(vtable, old, version=0, now=3.0)
    assert V.read_current(spark, old).count() == V.read_version(
        spark, vtable, 0
    ).count()
    deep = str(tmp_path / "deep")
    V.clone_table(vtable, deep, deep=True, now=3.0)
    src_inodes = {os.stat(f).st_ino for f in V._live_data_files(vtable)}
    for f in V._live_data_files(deep):
        assert os.stat(f).st_ino not in src_inodes  # real byte copies
    assert V.read_current(spark, deep).count() == V.read_current(
        spark, vtable
    ).count()


def test_clone_survives_source_vacuum(spark, tmp_path, vtable):
    """Hardlinked inodes keep the clone readable even after the source
    vacuums / rewrites away the shared files."""
    dst = str(tmp_path / "dst")
    V.clone_table(vtable, dst, now=3.0)
    n = V.read_current(spark, dst).count()
    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    V.overwrite_versioned(part.limit(1), vtable, now=4.0)
    V.vacuum(vtable, keep_last=0)
    assert V.read_current(spark, vtable).count() == 1
    assert V.read_current(spark, dst).count() == n  # untouched


def test_clone_carries_properties_and_refuses_existing_target(
    spark, tmp_path, vtable
):
    V.set_clustering(spark, vtable, ["p_partkey"], curve="sorted")
    V.set_constraints(vtable, {"positive_size": "p_size >= 0"})
    dst = str(tmp_path / "dst")
    V.clone_table(vtable, dst, now=3.0)
    assert V.clustering_of(dst) == {"cols": ["p_partkey"], "curve": "sorted"}
    assert V.get_constraints(dst) == {"positive_size": "p_size >= 0"}
    # the carried CHECK constraint enforces on the clone's own commits
    bad = V.read_current(spark, dst).limit(1).withColumn(
        "p_size", F.lit(-1)
    )
    with pytest.raises(Exception, match="positive_size"):
        V.append_versioned(bad, dst, now=4.0)
    # skipping self-heal hint carried from the source's stats manifest
    with open(V._stats_hint_path(dst)) as fh:
        assert json.load(fh)["stats_columns"] == ["p_partkey"]
    with pytest.raises(ValueError, match="already exists"):
        V.clone_table(vtable, dst)


def test_convert_adopts_hive_partitioned_layout(spark, tmp_path):
    """Adopted files under hive dirs keep their partition column through
    log-resolved reads, and partition-scoped commits work post-adoption."""
    t = str(tmp_path / "t")
    df = spark.range(4_000).select(
        (F.col("id") % 4).cast("int").alias("g"), F.col("id").alias("v")
    )
    df.write.partitionBy("g").parquet(t)
    V.convert_to_versioned(spark, t, now=1.0)
    got = V.read_current(spark, t)
    assert set(got.columns) == {"g", "v"}
    assert got.groupBy("g").count().count() == 4
    assert got.count() == 4_000
    # a partition-scoped replace commits on the adopted v0
    b1 = got.filter(F.col("g") == 1).withColumn("v", F.col("v") + 100)
    V.replace_partitions(b1, t, "g", expected_version=0, now=2.0)
    out = V.read_current(spark, t)
    assert out.count() == 4_000
    assert out.filter("g = 1 AND v < 100").count() == 0


def test_clone_physical_mode_table(spark, tmp_path):
    """clone_table on a PHYSICAL-mode source (current snapshot plain at
    the path, retention dirs aside): same zero-copy + divergence
    contract, including a version-pinned clone from a retention dir."""
    src = str(tmp_path / "src")
    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    V.overwrite_versioned(part.repartition(2), src, now=1.0)  # physical
    V.overwrite_versioned(part.limit(100), src, now=2.0)
    assert V.snapshot_mode(src) == "physical"
    dst = str(tmp_path / "dst")
    V.clone_table(src, dst, now=3.0)
    assert V.snapshot_mode(dst) == "physical"
    assert V.read_current(spark, dst).count() == 100
    # version-pinned clone resolves the retention dir
    old = str(tmp_path / "old")
    V.clone_table(src, old, version=0, now=3.0)
    assert V.read_current(spark, old).count() == part.count()
    # divergence: append to the clone, source untouched
    V.append_versioned(part.limit(3), dst, now=4.0)
    assert V.read_current(spark, dst).count() == 103
    assert V.read_current(spark, src).count() == 100


# ---------------------------------------------------------------------------
# r18 edge hardening (VERDICT r17 ask #6 + ADVICE items #2/#3)
# ---------------------------------------------------------------------------

def test_clone_manifest_version_pin_validates_up_front(spark, tmp_path, vtable):
    """ADVICE r17 #2: an unknown manifest-mode version= must raise (not
    silently clone the current snapshot), a vacuumed one must fail
    loudly, and neither failure may leave an orphan stage directory."""
    dst = str(tmp_path / "dst")
    with pytest.raises(ValueError, match="unknown version 99"):
        V.clone_table(vtable, dst, version=99)
    assert not os.path.exists(dst)
    assert not [d for d in os.listdir(tmp_path) if "__stage" in d]
    # vacuum v0 away, then pin it: loud 'vacuumed' error, no orphan
    # stage.  (vtable's v1 is an APPEND sharing v0's files, so vacuum
    # there reclaims nothing — build an overwrite history instead.)
    t2 = str(tmp_path / "t2")
    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    V.overwrite_versioned(part, t2, now=1.0, snapshot_mode="manifest")
    V.overwrite_versioned(part.limit(10), t2, now=2.0)
    V.vacuum(t2, keep_last=0)
    dst2 = str(tmp_path / "dst2")
    with pytest.raises(ValueError, match="version 0 was vacuumed"):
        V.clone_table(t2, dst2, version=0)
    assert not os.path.exists(dst2)
    assert not [d for d in os.listdir(tmp_path) if "__stage" in d]
    # the current version still clones fine after the refused attempts
    V.clone_table(vtable, dst)
    assert V.read_current(spark, dst).count() == V.read_current(
        spark, vtable
    ).count()


def test_clone_version_pin_resolves_properties_as_of(spark, tmp_path, vtable):
    """ADVICE r17 #3 (Delta parity): a version-pinned clone carries the
    metadata OF THE CLONED VERSION — a CHECK constraint or clustering
    spec declared after the pinned version must not ride along."""
    # vtable is at v1; declare properties NOW (recorded as_of_version=1)
    V.set_clustering(spark, vtable, ["p_partkey"], curve="sorted")
    V.set_constraints(vtable, {"positive_size": "p_size >= 0"})
    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    V.append_versioned(part.limit(2), vtable, now=3.0)  # v2
    # pin v0: the properties did not exist then -> clone has none
    c0 = str(tmp_path / "c0")
    V.clone_table(vtable, c0, version=0, now=4.0)
    assert V.clustering_of(c0) is None
    assert V.get_constraints(c0) == {}
    # a row the LATER constraint would reject commits fine on the clone
    bad = V.read_current(spark, c0).limit(1).withColumn("p_size", F.lit(-1))
    V.append_versioned(bad, c0, now=5.0)
    # pin v1: the properties existed -> they carry over and enforce
    c1 = str(tmp_path / "c1")
    V.clone_table(vtable, c1, version=1, now=4.0)
    assert V.clustering_of(c1) == {"cols": ["p_partkey"], "curve": "sorted"}
    assert V.get_constraints(c1) == {"positive_size": "p_size >= 0"}
    bad1 = V.read_current(spark, c1).limit(1).withColumn("p_size", F.lit(-1))
    with pytest.raises(Exception, match="positive_size"):
        V.append_versioned(bad1, c1, now=5.0)


def test_clone_version_pin_falls_back_without_property_history(
    spark, tmp_path, vtable
):
    """A property declared before the history sidecar existed (no
    _properties_log rows) falls back to current-state carry-over —
    the pre-r18 behavior, documented in clone_table."""
    V.set_constraints(vtable, {"positive_size": "p_size >= 0"})
    os.remove(os.path.join(V._vroot(vtable), V.PROPERTIES_LOG))
    c0 = str(tmp_path / "c0")
    V.clone_table(vtable, c0, version=0, now=3.0)
    assert V.get_constraints(c0) == {"positive_size": "p_size >= 0"}


def test_clone_of_clone_lineage_chain(spark, tmp_path, vtable):
    """VERDICT r17 ask #6a: chained clones stay zero-copy, independent,
    and each records its own lineage; a pinned clone-of-a-clone resolves
    the intermediate clone's history and as-of properties."""
    V.set_clustering(spark, vtable, ["p_partkey"], curve="sorted")
    c1 = str(tmp_path / "c1")
    V.clone_table(vtable, c1, now=3.0)  # c1@v0 == vtable@v1
    n0 = V.read_current(spark, c1).count()
    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    V.append_versioned(part.limit(5), c1, now=4.0)  # c1@v1
    c2 = str(tmp_path / "c2")
    V.clone_table(c1, c2, version=0, now=5.0)  # pin the pre-append c1
    assert V.read_current(spark, c2).count() == n0
    # lineage: each hop names its immediate source
    (e2,) = V.history(c2)
    assert e2["operation"] == f"CLONE({c1}@v0)"
    assert e2["metadata"]["source_table"] == c1
    assert V.history(c1)[-1]["metadata"]["source_table"] == vtable
    # zero-copy across the chain: c2's files share inodes with vtable's
    src_inodes = {os.stat(f).st_ino for f in V._live_data_files(vtable)}
    shared = [
        f for f in V._live_data_files(c2)
        if os.stat(f).st_ino in src_inodes
    ]
    assert shared, "chained clone should hardlink back to the root table"
    # properties seeded into c1's own history at its v0 carry to c2
    assert V.clustering_of(c2) == {"cols": ["p_partkey"], "curve": "sorted"}
    # divergence: the chain members commit independently
    V.append_versioned(part.limit(1), c2, now=6.0)
    assert V.read_current(spark, c2).count() == n0 + 1
    assert V.read_current(spark, c1).count() == n0 + 5
    assert V.read_current(spark, vtable).count() == n0


def test_convert_self_heals_stale_skipping_sidecar(spark, tmp_path):
    """VERDICT r17 ask #6b: a stats/bloom sidecar left by a previous
    table life names a file set whose freshness convert cannot vouch
    for — a stale manifest would let pruned reads skip LIVE files.
    Convert drops the sidecars (self-heal, readers fall back to full
    listings) and keeps the column set as the rebuild hint."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
        skipping,
    )

    t = str(tmp_path / "t")
    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    part.repartition(4).write.parquet(t)
    skipping.write_stats_manifest(spark, t, ["p_partkey"])
    # previous life ends: a file the manifest never saw appears
    extra = str(tmp_path / "extra")
    part.limit(50).withColumn(
        "p_partkey", F.col("p_partkey") + 10**9
    ).coalesce(1).write.parquet(extra)
    import shutil as _sh

    for f in os.listdir(extra):
        if f.endswith(".parquet"):
            _sh.copy(os.path.join(extra, f), os.path.join(t, f"late_{f}"))
    assert V.convert_to_versioned(spark, t, now=1.0) == 0
    # sidecars gone, hint present, full data served
    assert not os.path.isdir(os.path.join(t, skipping.STATS_DIR))
    assert not os.path.isdir(os.path.join(t, skipping.BLOOM_DIR))
    with open(V._stats_hint_path(t)) as fh:
        assert json.load(fh)["stats_columns"] == ["p_partkey"]
    assert V.read_current(spark, t).count() == part.count() + 50


def test_vacuum_dry_run_physical_paths_are_namespaced(spark, tmp_path):
    """ADVICE r17 #5: plan['files'] has a uniform documented basis —
    physical-mode entries are namespaced under the retention root's
    name so callers can tell them from manifest-mode table-relative
    data paths, and the byte total matches the named files."""
    t = str(tmp_path / "t")
    df = spark.range(1_000).withColumnRenamed("id", "k")
    for i in range(4):  # physical mode: v0..v2 retained
        V.overwrite_versioned(df, t, now=1.0 + i)
    plan = V.vacuum(t, keep_last=1, dry_run=True)
    assert plan["versions"] == [0, 1]
    ns = os.path.basename(V._vroot(t)) + os.sep
    assert plan["files"] and all(r.startswith(ns) for r in plan["files"])
    parent = os.path.dirname(t.rstrip("/"))
    assert plan["bytes"] == sum(
        os.path.getsize(os.path.join(parent, r)) for r in plan["files"]
    )
    # the plan prices exactly what the actuator then drops
    assert V.vacuum(t, keep_last=1) == plan["versions"]


def test_clone_carries_identity_and_allocates_above_cloned_max(
    spark, tmp_path
):
    """Delta CLONE copies table properties — identity included.  The
    clone's allocator needs no fix-up: its hardlinked files share the
    source's parquet footers, so its high-water IS the cloned
    snapshot's max and fresh values land strictly above it."""
    src = str(tmp_path / "src")
    df = spark.range(50).selectExpr("id AS k", "id + 1 AS row_id")
    V.overwrite_versioned(df, src, now=1.0, snapshot_mode="manifest")
    V.set_identity(src, "row_id")
    dst = str(tmp_path / "dst")
    V.clone_table(src, dst, now=2.0)
    assert V.identity_of(dst) == {"column": "row_id", "start": 1, "step": 1}
    assert V.identity_high_water(dst) == 50
    V.append_with_identity(
        spark.range(5).selectExpr("id + 900 AS k").coalesce(1), dst, now=3.0
    )
    got = V.read_current(spark, dst)
    assert got.count() == 55
    assert got.select("row_id").distinct().count() == 55
    # source untouched, its own allocation continues independently
    assert V.read_current(spark, src).count() == 50
    V.append_with_identity(
        spark.range(2).selectExpr("id + 800 AS k").coalesce(1), src, now=4.0
    )
    assert V.read_current(spark, src).select("row_id").distinct().count() == 52


def test_convert_clears_stale_property_residue(spark, tmp_path):
    """A logless versions root beside the adopted directory is residue
    from a previous table life — its property declarations (CHECK
    constraints, clustering, identity) must not leak into the adopted
    table's contract."""
    t = str(tmp_path / "t")
    spark.range(20).selectExpr("id AS k").write.parquet(t)
    os.makedirs(V._vroot(t))
    V.set_constraints(t, {"bogus": "k < 0"})  # would reject every row
    import json as _json

    with open(os.path.join(V._vroot(t), V.TAGS_FILE), "w") as fh:
        _json.dump({"prod": 3}, fh)  # phantom tag from the previous life
    assert V.convert_to_versioned(spark, t, now=1.0) == 0
    assert V.get_constraints(t) == {}
    assert V.identity_of(t) is None and V.clustering_of(t) is None
    assert V.tags(t) == {}  # a phantom tag would pin versions forever
    # commits land (the stale constraint would have refused them)
    V.append_versioned(spark.range(3).selectExpr("id + 100 AS k"), t, now=2.0)
    assert V.read_current(spark, t).count() == 23


def test_pinned_clone_resolves_identity_and_generated_as_of(spark, tmp_path):
    """Identity and generated declarations ride the property history
    like clustering/constraints: a clone pinned BEFORE the declaration
    carries neither; a current clone carries both."""
    src = str(tmp_path / "src")
    df = spark.range(30).selectExpr("id AS k", "id + 1 AS row_id")
    V.overwrite_versioned(df, src, now=1.0, snapshot_mode="manifest")
    V.append_versioned(df.limit(2).selectExpr("k + 100 AS k",
                                              "row_id + 100 AS row_id"),
                       src, now=2.0)  # v1
    V.set_identity(src, "row_id")
    V.set_generated(src, "k", None)  # exercise the removal path too
    c_old = str(tmp_path / "c_old")
    V.clone_table(src, c_old, version=0, now=3.0)
    assert V.identity_of(c_old) is None
    c_new = str(tmp_path / "c_new")
    V.clone_table(src, c_new, now=3.0)
    assert V.identity_of(c_new) == {"column": "row_id", "start": 1,
                                    "step": 1}
