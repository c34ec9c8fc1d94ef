"""Model-based fuzz of the versioned-table transaction protocol (r17).

A seeded random op sequence (overwrite / append / delete / update /
restore / incremental OPTIMIZE / vacuum / clone / time travel) runs
against BOTH the real table and a trivial in-memory model; after every
committing op the logical table must equal the model exactly, every
still-readable retained version must equal its model snapshot, and the
vacuum dry run must name exactly what the real vacuum then drops.

Deterministic seeded `random` rather than hypothesis: each example
costs Spark jobs, so shrinking is impractical — instead the op log is
carried in every assertion message, making any failure a replayable
one-liner.  This is the storage engine's equivalent of a filesystem
crash-consistency fuzz: the point is the INTERACTIONS (restore after
vacuum, optimize after delete, clone off a restored snapshot) that
single-purpose tests never compose."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
    skipping as S,
)
from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
    versioned as V,
)



#: opt-in tier (pytest.ini): randomized model-based op-sequence fuzz.
#: One manifest and one physical seed of the core sequence run in the
#: default tier, so every change to the commit tail meets the model.
slow = pytest.mark.slow

def _rows(rng: random.Random, n: int) -> list[tuple[int, int]]:
    return [(rng.randrange(1000), rng.randrange(10**6)) for _ in range(n)]


def _df(spark, rows):
    return spark.createDataFrame(rows or [(0, 0)], "k int, v int").limit(
        len(rows)
    )


def _observed(spark, path) -> list[tuple[int, int]]:
    return sorted(
        (r["k"], r["v"]) for r in V.read_current(spark, path).collect()
    )


@pytest.mark.parametrize("seed,mode,genesis", [
    (0, "manifest", "overwrite"),
    pytest.param(1, "manifest", "convert", marks=slow),
    (2, "physical", "overwrite"),
    pytest.param(3, "manifest", "convert", marks=slow),
    pytest.param(4, "physical", "overwrite", marks=slow),
])
def test_random_op_sequences_match_the_model(spark, tmp_path, seed, mode,
                                             genesis):
    rng = random.Random(seed)
    t = str(tmp_path / "t")
    log: list[str] = []

    model = sorted(_rows(rng, rng.randint(30, 90)))
    if genesis == "convert":
        # an ADOPTED table (CONVERT TO DELTA) must survive the same op
        # zoo as a natively-created one — restores, vacuums, clones,
        # optimizes all composing off the by-reference v0
        _df(spark, model).write.parquet(t)
        V.convert_to_versioned(spark, t, snapshot_mode=mode, now=1.0,
                               stats_columns=["k"])
        log.append(f"convert v0 n={len(model)}")
    else:
        V.overwrite_versioned(_df(spark, model), t, now=1.0,
                              snapshot_mode=mode, stats_columns=["k"])
        log.append(f"overwrite v0 n={len(model)}")
    snapshots: dict[int, list] = {0: list(model)}
    dropped: set[int] = set()
    clock = 2.0

    def commit_snapshot():
        snapshots[V.current_version(t)] = list(model)

    for step in range(16):
        op = rng.choice(
            ["append", "delete", "update", "overwrite", "restore",
             "optimize", "vacuum", "clone", "timetravel", "fsck"]
        )
        clock += 1.0
        if op == "append":
            extra = sorted(_rows(rng, rng.randint(5, 40)))
            V.append_versioned(_df(spark, extra), t, now=clock)
            model = sorted(model + extra)
            commit_snapshot()
        elif op == "delete":
            m, r = rng.randint(2, 7), rng.randint(0, 1)
            V.delete_where(spark, t, F.col("k") % m == r, now=clock)
            model = [row for row in model if row[0] % m != r]
            commit_snapshot()
            if not model:  # re-seed an emptied table
                model = sorted(_rows(rng, 30))
                V.overwrite_versioned(_df(spark, model), t, now=clock + 0.5)
                commit_snapshot()
                log.append("reseed")
        elif op == "update":
            m, r = rng.randint(2, 7), rng.randint(0, 1)
            V.update_where(spark, t, F.col("k") % m == r,
                           {"v": F.col("v") + F.lit(7)}, now=clock)
            model = sorted(
                (k, v + 7 if k % m == r else v) for k, v in model
            )
            commit_snapshot()
        elif op == "overwrite":
            model = sorted(_rows(rng, rng.randint(20, 80)))
            V.overwrite_versioned(_df(spark, model), t, now=clock)
            commit_snapshot()
        elif op == "restore":
            candidates = [v for v in snapshots if v not in dropped]
            pick = rng.choice(candidates)
            try:
                V.restore(spark, t, pick, now=clock)
            except ValueError:
                log.append(f"restore v{pick} refused (vacuumed)")
                continue  # data aged out between bookkeeping and read
            model = list(snapshots[pick])
            commit_snapshot()
        elif op == "optimize":
            V.optimize_compact_incremental(spark, t,
                                           target_file_bytes=64 * 1024,
                                           now=clock)
            commit_snapshot()  # possibly a no-op (same version re-keyed)
        elif op == "vacuum":
            plan = V.vacuum(t, keep_last=1, dry_run=True)
            got = V.vacuum(t, keep_last=1)
            assert got == plan["versions"], log
            dropped.update(got)
        elif op == "clone":
            dst = str(tmp_path / f"clone{step}")
            V.clone_table(t, dst, now=clock)
            assert _observed(spark, dst) == model, log
            V.append_versioned(_df(spark, [(9999, 9999)]), dst,
                               now=clock + 0.5)
            assert _observed(spark, t) == model, log  # src untouched
        elif op == "fsck":
            # out-of-band damage + FSCK repair: the repaired table must
            # equal the model MINUS exactly the victim file's rows
            # (manifest mode only — physical snapshots restore instead)
            import os as _os

            import pyarrow.parquet as _pq

            if mode != "manifest":
                continue
            files = sorted(V._live_data_files(t))
            if len(files) < 2:
                continue
            victim = files[rng.randrange(len(files))]
            lost = [
                (r["k"], r["v"]) for r in _pq.read_table(victim).to_pylist()
            ]
            _os.remove(victim)
            dropped = V.fsck_repair(t, now=clock)
            assert dropped == [_os.path.relpath(victim, t)], log
            remaining = list(model)
            for row in lost:
                remaining.remove(row)  # exact multiset subtraction
            model = sorted(remaining)
            commit_snapshot()
            if not model:
                model = sorted(_rows(rng, 30))
                V.overwrite_versioned(_df(spark, model), t, now=clock + 0.5)
                commit_snapshot()
                log.append("reseed after fsck")
        elif op == "timetravel":
            candidates = [v for v in snapshots if v not in dropped]
            pick = rng.choice(candidates)
            try:
                seen = sorted(
                    (r["k"], r["v"])
                    for r in V.read_version(spark, t, pick).collect()
                )
            except ValueError:
                log.append(f"tt v{pick} aged out")
                continue
            assert seen == snapshots[pick], (pick, log)
        log.append(f"{op} -> v{V.current_version(t)} n={len(model)}")
        assert _observed(spark, t) == model, log
        # "never wrongly prune" as a property: a manifest-pruned range
        # scan must be bit-identical to the model under ANY op history —
        # whether the sidecar was auto-maintained, rebuilt from the
        # self-heal hint, or dropped entirely (unpruned fallback)
        lo = rng.randrange(0, 900)
        hi = lo + rng.randrange(10, 300)
        import os as _os2

        if not _os2.path.isdir(_os2.path.join(t, S.STATS_DIR)):
            # fsck drops the sidecars with the snapshot change (their
            # manifest described the damaged live set); the hint
            # rebuilds them on the NEXT commit — unpruned until then,
            # and the read_current equality above already covered it
            continue
        pruned = sorted(
            (r["k"], r["v"])
            for r in S.read_skipping(spark, t, "k", lo, hi).collect()
        )
        assert pruned == sorted(
            (k, v) for k, v in model if lo <= k <= hi
        ), (lo, hi, log)

    # closing sweep: every never-dropped snapshot still reads exactly
    for ver, snap in snapshots.items():
        if ver in dropped:
            continue
        try:
            seen = sorted(
                (r["k"], r["v"])
                for r in V.read_version(spark, t, ver).collect()
            )
        except ValueError:
            continue  # an overwrite-superseded version vacuumed by count
        assert seen == snap, (ver, log)


@slow
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_dv_random_op_sequences_match_the_model(spark, tmp_path, seed):
    """Model-based fuzz of the merge-on-read layer: random interleavings
    of DV deletes, DV merges (upserts + inserts), purges, and recovery
    probes against a keyed model — after every op ``read_dv`` must equal
    the model exactly.  Purge materializes (physical == logical) and a
    healthy-table recovery probe must be a no-op."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
        deletion_vectors as DV,
    )

    rng = random.Random(seed)
    t = str(tmp_path / "t")
    model = {k: rng.randrange(10**6) for k in rng.sample(range(500), 80)}
    next_key = 1000
    spark.createDataFrame(sorted(model.items()), "k int, v int")\
        .repartition(3).write.parquet(t)
    log: list[str] = []

    def observed():
        return sorted(
            (r["k"], r["v"]) for r in DV.read_dv(spark, t).collect()
        )

    for step in range(10):
        op = rng.choice(["delete", "merge", "merge", "purge", "recover"])
        if op == "delete":
            m, r = rng.randint(2, 6), rng.randint(0, 1)
            n = DV.delete_where_dv(spark, t, F.col("k") % m == r)
            expect = [k for k in model if k % m == r]
            assert n == len(expect), (log, m, r)
            for k in expect:
                del model[k]
            if len(model) < 10:  # keep the table interesting
                adds = {next_key + i: i for i in range(30)}
                next_key += 30
                DV.merge_dv(
                    spark, t,
                    spark.createDataFrame(sorted(adds.items()),
                                          "k int, v int"),
                    ["k"],
                )
                model.update(adds)
                log.append("reseed-merge")
        elif op == "merge":
            upd_keys = rng.sample(sorted(model), min(8, len(model)))
            updates = {k: model[k] + 7 for k in upd_keys}
            inserts = {next_key + i: i * 11 for i in range(rng.randint(1, 6))}
            next_key += 10
            src = {**updates, **inserts}
            stats = DV.merge_dv(
                spark, t,
                spark.createDataFrame(sorted(src.items()), "k int, v int"),
                ["k"],
            )
            assert stats["updated"] >= len(updates), (log, stats)
            assert stats["inserted"] == len(inserts), (log, stats)
            model.update(src)
        elif op == "purge":
            DV.purge_dv(spark, t)
            assert DV.dv_mark_count(spark, t) == 0, log
            # physical == logical after purge
            phys = sorted(
                (r["k"], r["v"])
                for r in spark.read.parquet(t).collect()
            )
            assert phys == sorted(model.items()), log
        elif op == "recover":
            assert DV.recover_dv_merge(spark, t) is False, log
        log.append(f"{op} n={len(model)}")
        assert observed() == sorted(model.items()), log


@slow
@pytest.mark.parametrize("seed,genesis", [(5, "overwrite"), (6, "convert")])
def test_random_op_sequences_with_spilled_actions(
    spark, tmp_path, seed, genesis, monkeypatch
):
    """r18: the same op zoo with ``ACTIONS_SPILL_THRESHOLD = 1`` —
    EVERY manifest commit spills its actions to a files-checkpoint at
    its own version, vacuums prune sub-floor anchors, and the model
    equivalence must be unaffected: the spill and retention valves are
    pure representation, never semantics.  (Pruned-anchor reads raise
    the same ValueError class as vacuumed data, which the op zoo's
    restore/timetravel/closing-sweep handlers already treat as aged
    out.)"""
    monkeypatch.setattr(V, "ACTIONS_SPILL_THRESHOLD", 1)
    test_random_op_sequences_match_the_model(
        spark, tmp_path, seed, "manifest", genesis
    )
